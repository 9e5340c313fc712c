package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * sessions are expensive; suites must not stop() it). */
object SparkSpec {
  lazy val session: SparkSession = Posture.session("local[4]", Seq(
    "spark.app.name" -> "graft-test",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions"))
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Smoke-scale fixtures (sf0.001): 6k lineitem / 1k events / 500 docs. */
  val sf = "/root/testdata/sf0.001"
}
