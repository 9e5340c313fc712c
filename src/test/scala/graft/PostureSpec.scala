package graft

/** Bench's and Verify's conf lists, pinned: Bench's is the benchmark's
  * `perfbench.Posture.pinned` at 32 cores plus the warehouse, Verify's
  * the base plus its shuffle width. */
class PostureSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val base = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse",
    "spark.ui.enabled" -> "false",
    "spark.checkpoint.compress" -> "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")

  private def assertConf(got: Seq[(String, String)], want: Map[String, String]): Unit = {
    assert(got.toMap.size == got.size, s"duplicate keys in $got")
    assert(got.toMap == want)
  }

  test("Bench's conf list at 32 cores is the golden list") {
    assertConf(Posture.conf("local[32]", Posture.bench("32")), base ++ Map(
      "spark.master" -> "local[32]", "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256"))
  }

  test("Verify's conf list at its default 4 cores is the golden list") {
    assertConf(Posture.conf("local[4]", Seq("spark.sql.shuffle.partitions" -> "4")),
      base ++ Map("spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4"))
  }
}
