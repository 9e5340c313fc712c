package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkStrategy

package object plans {
  /** Add `strategy` to the session's planner once — the DataFrame
    * helpers call this so no SparkSessionExtensions config is needed
    * (GraftExtensions injects the same strategies fleet-wide). */
  private[graft] def registerStrategy(spark: SparkSession, strategy: SparkStrategy): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!classic.experimental.extraStrategies.contains(strategy))
      classic.experimental.extraStrategies =
        classic.experimental.extraStrategies :+ strategy
  }
}
