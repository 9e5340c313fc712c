package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Fixture-table load recipes (SURVEY.md §1.2).
  *
  * Each fixture file's schema is inferred once per (session, path), in
  * a [[SharedFrames]] entry.
  * Parquet inference runs a Spark job (footer reads), so every later
  * read of the same file in the session passes the recorded schema to
  * `spark.read.schema(..)` and plans with no job. The record also holds
  * the file's row count once [[rowCount]] asks for it, read from the
  * parquet footers on the driver with no job. Keyed by session
  * because the inferred types follow session confs (`nanosAsLong`,
  * `inferTimestampNTZ`).
  *
  * `events.ts` always reads as TIMESTAMP, whatever the file stores:
  *   - TIMESTAMP(NANOS), which Spark 4.x refuses outright
  *     ([PARQUET_TYPE_ILLEGAL]), is read as a raw long
  *     (`spark.sql.legacy.parquet.nanosAsLong=true`) and truncated ns→µs
  *     with INTEGER division — `ts div 1000` — matching DuckDB's internal
  *     µs truncation exactly. (A double-based `col/1000` would lose
  *     precision: 2024 epochs are ~1.7e18 ns, beyond double's 2^53
  *     integer range, and round-trip off by ±1µs for a noticeable
  *     fraction of rows.)
  *   - TIMESTAMP(MICROS) without UTC adjustment reads as TIMESTAMP_NTZ
  *     when the session leaves `spark.sql.parquet.inferTimestampNTZ.enabled`
  *     at its default of true. It is cast to TIMESTAMP; the session time
  *     zone is UTC, so the micros are unchanged.
  */
object Tables {
  /** Runtime confs every session needs before the first `events` read.
    *
    * Session effect: it also registers [[graft.plans.SmallSortStrategy]]
    * on the session's planner, so from then on every global sort over a
    * small input in this session sorts in one partition (opt out with
    * `spark.sql.adaptive.coalescePartitions.minPartitionSize=1b`). */
  def configure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    graft.plans.registerStrategy(spark, graft.plans.SmallSortStrategy)
  }

  /** One fixture file as a session knows it: the schema inferred at the
    * first read, and the row count — the stand-in for catalog statistics
    * (a real deployment reads these from the metastore, not by
    * re-scanning) that the size-gated broadcast sites derive their
    * estRows from. The count is the sum of the row-group counts in the
    * footers of the files Spark's listing would read: what `count()`
    * returns, without the two jobs it runs. */
  private final class Fixture(spark: SparkSession, path: String) {
    val schema: StructType = spark.read.parquet(path).schema
    def read: DataFrame = spark.read.schema(schema).parquet(path)
    lazy val rows: Long = {
      val conf = spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
      read.inputFiles.iterator.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
        try r.getRecordCount finally r.close()
      }.sum
    }
  }

  private def fixture(spark: SparkSession, sfDir: String, name: String): Fixture = {
    configure(spark)
    SharedFrames.getOrBuild(s"fixture.$name", spark, sfDir)(
      new Fixture(spark, s"$sfDir/$name.parquet"))
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = fixture(spark, sfDir, name).read
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  def rowCount(s: SparkSession, sf: String, name: String): Long =
    fixture(s, sf, name).rows

  def lineitem(s: SparkSession, sf: String): DataFrame = table(s, sf, "lineitem")
  def orders(s: SparkSession, sf: String): DataFrame   = table(s, sf, "orders")
  def customer(s: SparkSession, sf: String): DataFrame = table(s, sf, "customer")
  def supplier(s: SparkSession, sf: String): DataFrame = table(s, sf, "supplier")
  def part(s: SparkSession, sf: String): DataFrame     = table(s, sf, "part")
  def nation(s: SparkSession, sf: String): DataFrame   = table(s, sf, "nation")
  def region(s: SparkSession, sf: String): DataFrame   = table(s, sf, "region")
  def events(s: SparkSession, sf: String): DataFrame   = table(s, sf, "events")
  def documents(s: SparkSession, sf: String): DataFrame  = table(s, sf, "documents")
  def embeddings(s: SparkSession, sf: String): DataFrame = table(s, sf, "embeddings")
}
