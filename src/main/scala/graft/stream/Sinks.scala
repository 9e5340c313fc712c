package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row
import graft.io.{NioLocalFileSystem, NioLocalFs}

/** Micro-batch sink boundary (SURVEY.md §2.1 row 6 / §7.4 "ClickHouse
  * sink"): the engine's streaming queries end in `foreachBatch` against
  * this trait, so the storage binding is swappable — parquet in this
  * sandbox, a JDBC-speaking warehouse (ClickHouse, Postgres, ...) in a
  * deployment with network access.
  *
  * Scale notes: `write` receives one micro-batch DataFrame per trigger
  * and runs on the driver, but the writes it issues are distributed
  * (DataFrameWriter fans out per partition). Exactly-once across sink
  * retries comes from (a) the checkpointed batchId — implementations
  * can key an idempotent upsert on it — and (b) append targets that
  * tolerate replays (parquet append + downstream dedup, or a keyed
  * MERGE on the warehouse side).
  */
trait BatchSink extends Serializable {
  def write(batch: DataFrame, batchId: Long): Unit
}

/** Append each micro-batch as parquet files under `outDir` — the
  * sandbox-testable implementation (covered by StreamingSpec's
  * foreachBatch round-trip). The write binds `file:` paths to
  * [[graft.io.NioLocalFileSystem]] through its own options
  * ([[Sinks.localWriteOptions]]), so only this write's Hadoop conf sees
  * the binding; other paths ignore it. A session that names its own
  * `fs.file.impl` keeps it. */
final class ParquetAppendSink(outDir: String) extends BatchSink {
  override def write(batch: DataFrame, batchId: Long): Unit =
    batch.write.mode("append").options(Sinks.localWriteOptions(batch)).parquet(outDir)
}

/** Idempotent-by-batchId parquet sink — each micro-batch owns the
  * `batch=<id>` subdirectory and OVERWRITES it, so a REPLAYED batch (a
  * sink retry after a crash between the write and the checkpoint
  * commit) replaces its own previous output instead of appending a
  * duplicate. This is the checkpointed-batchId exactly-once recipe the
  * [[BatchSink]] contract describes; readers see the union via plain
  * partition discovery on `outDir`. Like [[ParquetAppendSink]], the
  * write binds `file:` to [[graft.io.NioLocalFileSystem]] for itself
  * only. */
final class IdempotentParquetSink(outDir: String) extends BatchSink {
  override def write(batch: DataFrame, batchId: Long): Unit =
    batch.write.mode("overwrite").options(Sinks.localWriteOptions(batch))
      .parquet(s"$outDir/batch=$batchId")
}

/** JDBC binding of the same seam — Spark's built-in JDBC source,
  * exercised end-to-end in StreamingSpec (`s_stream_jdbc_sink`)
  * against embedded Derby, the in-JVM database Spark already ships.
  * For ClickHouse the url is `jdbc:clickhouse://host:8123/db` with the
  * vendor driver on the classpath — same code path, different dialect;
  * `ON CONFLICT`-style idempotent upserts would replace the plain
  * append via `foreachPartition` once a concrete dialect is fixed. */
final class JdbcAppendSink(url: String, table: String,
                           options: Map[String, String] = Map.empty)
    extends BatchSink {
  override def write(batch: DataFrame, batchId: Long): Unit = {
    val w = batch.write.mode("append").format("jdbc")
      .option("url", url).option("dbtable", table)
    options.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }.save()
  }
}

/** EXACTLY-ONCE JDBC binding: each micro-batch stamps its rows with
  * `batch_id` and CLAIMS the batch before appending — any rows a
  * previous (crashed-before-checkpoint) attempt of the same batchId
  * left behind are deleted first, so a sink retry replaces its own
  * output instead of duplicating it. This is the warehouse-side
  * analogue of [[IdempotentParquetSink]]'s batch-owned directories —
  * the recipe the `BatchSink` contract describes, on a real database.
  * The DELETE runs on the driver (one statement); the INSERT fans out
  * per partition through Spark's JDBC writer. */
final class JdbcIdempotentSink(url: String, table: String,
                               options: Map[String, String] = Map.empty)
    extends BatchSink {
  override def write(batch: DataFrame, batchId: Long): Unit = {
    // The claim connection must carry the same credentials/driver the
    // Spark writer gets, or the claim fails on any authenticated
    // warehouse while the append succeeds.
    options.get("driver").foreach(Class.forName(_))
    val props = new java.util.Properties()
    options.get("user").foreach(props.setProperty("user", _))
    options.get("password").foreach(props.setProperty("password", _))
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      // claim: drop any previous attempt's rows. Probing existence via
      // getMetaData.getTables is dialect-trapped (Derby uppercases
      // unquoted identifiers, Postgres lowercases them) — run the
      // DELETE unconditionally and treat "table not found" as the
      // first-ever append (the write below creates it).
      val st = conn.createStatement()
      // Spark's JDBC writer creates columns as QUOTED (case-exact)
      // identifiers — the claim must address the column the same way
      try st.executeUpdate(s"""DELETE FROM $table WHERE "batch_id" = $batchId""")
      catch { case _: java.sql.SQLException => /* table not created yet */ }
      finally st.close()
    } finally conn.close()
    val withId = batch.withColumn("batch_id",
      org.apache.spark.sql.functions.lit(batchId))
    val w = withId.write.mode("append").format("jdbc")
      .option("url", url).option("dbtable", table)
    options.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }.save()
  }
}

object Sinks {
  /** Session confs that [[sinkTo]] sets when they are unset. */
  private[graft] val sessionDefaults: Seq[(String, String)] = Seq(
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Options of one parquet write of `batch` that bind `file:` to
    * [[graft.io.NioLocalFileSystem]], unless its session names its own
    * `fs.file.impl`. Without the cache flag, the JVM-wide `FileSystem`
    * cache would return the `file:` instance built when the session
    * started. */
  private[stream] def localWriteOptions(batch: DataFrame): Map[String, String] =
    if (userSet(batch.sparkSession.conf.getAll, "fs.file.impl")) Map.empty
    else Map("fs.file.impl" -> classOf[NioLocalFileSystem].getName, "fs.file.impl.disable.cache" -> "true")

  /** A Hadoop key is the user's when the session sets it directly or
    * through Spark's `spark.hadoop.` prefix. */
  private def userSet(set: Map[String, String], k: String): Boolean =
    set.contains(k) || set.contains(s"spark.hadoop.$k")

  /** Bind a streaming DataFrame to a [[BatchSink]] with checkpointed
    * progress — the single entry point all sink variants share.
    *
    * Session effect: each key of [[sessionDefaults]] that the session
    * leaves unset is set on `df.sparkSession`. `fs.AbstractFileSystem.file.impl`
    * binds `file:` `FileContext`s to [[graft.io.NioLocalFs]]. The offset
    * log, the commit log and the RocksDB state-store files are all
    * written through a `FileContext` built from the session's Hadoop
    * conf, and Hadoop's stock local binding, without libhadoop, spawns a
    * `chmod`, `ls` or `readlink` process for each file it creates or
    * inspects. The files, permissions and checksums stay the same.
    * `...rocksdb.changelogCheckpointing.enabled` shortens the other
    * half of each commit: a state-store commit writes one changelog
    * file per partition and leaves snapshots to the maintenance thread.
    * Checkpoints restart across either setting. To keep Spark's defaults, set the keys yourself (on the
    * session, or as `spark.hadoop.<key>`). */
  def sinkTo(df: DataFrame, sink: BatchSink,
             checkpoint: String): DataStreamWriter[Row] = {
    val conf = df.sparkSession.conf
    val set = conf.getAll
    sessionDefaults.foreach { case (k, v) => if (!userSet(set, k)) conf.set(k, v) }
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink.write(batch, batchId)
      }
  }

  /** BATCH entry of the SAME seam (round-13: the sink trait was wired
    * to foreachBatch only; one-shot jobs wrote parquet directly and a
    * user pointing the engine at a JDBC warehouse had to re-plumb).
    * A one-shot write goes through the identical [[BatchSink]]
    * bindings the streaming path uses, so "parquet locally, ClickHouse/
    * Postgres URL in deployment" is one constructor swap for BOTH
    * paths. batchId = −1 marks the one-shot call; the idempotent
    * bindings still claim correctly — a re-run of the same one-shot
    * job replaces its own output (the `batch=-1` directory / the
    * `batch_id = −1` claim) instead of appending a duplicate. */
  def writeOnce(df: DataFrame, sink: BatchSink): Unit = sink.write(df, -1L)
}
