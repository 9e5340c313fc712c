package graft.stream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration
import graft.io.{NioLocalFileSystem, NioLocalFs}

/** Micro-batch sink boundary (SURVEY.md §2.1 row 6 / §7.4 "ClickHouse
  * sink"): the engine's streaming queries end in `foreachBatch` against
  * this trait, so the storage binding is swappable — parquet in this
  * sandbox, a JDBC-speaking warehouse (ClickHouse, Postgres, ...) in a
  * deployment with network access.
  *
  * Scale notes: `write` receives one micro-batch DataFrame per trigger
  * and runs on the driver, but the writes it issues are distributed:
  * the parquet bindings run one Spark job with one task per partition
  * ([[Sinks.ParquetWriter]]), the JDBC bindings Spark's JDBC writer,
  * which fans out the same way. Exactly-once across sink
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
  * foreachBatch round-trip). Each write lands its part files in a hidden
  * directory in one job, then renames them into `outDir`
  * ([[Sinks.ParquetWriter]]), so a reader never sees a partial file. A
  * replayed batch appends again. */
final class ParquetAppendSink(outDir: String) extends BatchSink {
  private val writer = new Sinks.ParquetWriter
  override def write(batch: DataFrame, batchId: Long): Unit =
    writer.write(batch, outDir, s"batch=$batchId", replace = false)
}

/** Idempotent-by-batchId parquet sink — each micro-batch owns the
  * `batch=<id>` subdirectory and REPLACES it, so a REPLAYED batch (a
  * sink retry after a crash between the write and the checkpoint
  * commit) replaces its own previous output instead of appending a
  * duplicate. This is the checkpointed-batchId exactly-once recipe the
  * [[BatchSink]] contract describes; readers see the union via plain
  * partition discovery on `outDir`. The batch is written into a hidden
  * directory in one job and published by renaming that directory to
  * `batch=<id>` ([[Sinks.ParquetWriter]]). */
final class IdempotentParquetSink(outDir: String) extends BatchSink {
  private val writer = new Sinks.ParquetWriter
  override def write(batch: DataFrame, batchId: Long): Unit =
    writer.write(batch, outDir, s"batch=$batchId", replace = true)
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

  /** Hadoop options of a parquet sink's writes in `s` that bind `file:`
    * to [[graft.io.NioLocalFileSystem]], unless the session names its own
    * `fs.file.impl`. Without the cache flag, the JVM-wide `FileSystem`
    * cache would return the `file:` instance built when the session
    * started. */
  private def localWriteOptions(s: SparkSession): Map[String, String] =
    if (userSet(s.conf.getAll, "fs.file.impl")) Map.empty
    else Map("fs.file.impl" -> classOf[NioLocalFileSystem].getName, "fs.file.impl.disable.cache" -> "true")

  /** The parquet write of one sink instance. A write runs one Spark job
    * over `batch.queryExecution.toRdd` and publishes it with renames:
    *   - Each non-empty partition writes one `part-<pid>-<uuid><ext>`
    *     file into the hidden `<outDir>/.tmp-<name>/`. Partition 0 writes
    *     even when empty, and an RDD without partitions gets one, so an
    *     empty batch reads back with its schema. A task attempt writes a
    *     hidden in-progress file and renames it into place when complete.
    *   - The driver deletes what failed attempts left in that directory,
    *     creates `_SUCCESS` in it and publishes: with `replace`, the
    *     directory becomes `<outDir>/<name>`, after any earlier `<name>`
    *     is deleted; without, its files move into `outDir`.
    * A killed write leaves at most `.tmp-<name>`, which the next write of
    * the same name deletes first and which readers skip: its leading dot
    * hides it, as `_` would not for a name with `=` in it.
    *
    * The task closure holds the write factory, a broadcast of the write's
    * Hadoop conf, the schema and strings. The conf is the session's Hadoop
    * conf with [[localWriteOptions]], prepared by
    * `ParquetFileFormat.prepareWrite` once per schema and session conf and
    * then broadcast: a local task reads the driver's object and an
    * executor deserializes it once, where `DataFrameWriter` puts it in
    * every task (about 1,100 entries). Not supported, as these sinks never
    * used them: partitionBy, bucketing, `maxRecordsPerFile` and
    * write-stats tracking. */
  private[graft] final class ParquetWriter extends Serializable {
    @transient private var key: (SparkContext, StructType, Map[String, String]) = _
    @transient private var factory: OutputWriterFactory = _
    @transient private var conf: Broadcast[SerializableConfiguration] = _

    private def prepare(s: classic.SparkSession, schema: StructType)
        : (OutputWriterFactory, Broadcast[SerializableConfiguration]) = synchronized {
      val k = (s.sparkContext, schema, s.conf.getAll)
      if (k != key) {
        val job = Job.getInstance(s.sessionState.newHadoopConfWithOptions(localWriteOptions(s)))
        factory = new ParquetFileFormat().prepareWrite(s, job, Map.empty, schema)
        if (conf != null) conf.unpersist()
        // A plain `Configuration`, so that each task's context copies it
        // instead of local tasks sharing one mutable `JobConf`.
        conf = s.sparkContext.broadcast(new SerializableConfiguration(new Configuration(job.getConfiguration)))
        key = k
      }
      (factory, conf)
    }

    def write(batch: DataFrame, outDir: String, name: String, replace: Boolean): Unit = {
      val s = batch.sparkSession.asInstanceOf[classic.SparkSession]
      val schema = batch.schema
      val (factory, conf) = prepare(s, schema)
      val out = new Path(outDir)
      val tmp = new Path(out, s".tmp-$name")
      val fs = out.getFileSystem(conf.value.value)
      fs.delete(tmp, true)
      val uuid = java.util.UUID.randomUUID().toString
      val qe = batch.queryExecution
      def run(): Set[String] = {
        val rows = qe.toRdd
        val rdd = if (rows.partitions.isEmpty) s.sparkContext.parallelize(Seq.empty[InternalRow], 1) else rows
        s.sparkContext.runJob(rdd, writePart(factory, conf, schema, tmp.toString, uuid) _).filter(_ != null).toSet
      }
      // Inside `foreachBatch` the job belongs to the micro-batch's execution.
      val written =
        if (s.sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY) != null) run()
        else SQLExecution.withNewExecutionId(qe, Some("parquet sink"))(run())
      fs.listStatus(tmp).foreach(st => if (!written(st.getPath.getName)) fs.delete(st.getPath, false))
      fs.create(new Path(tmp, "_SUCCESS")).close()
      if (replace) {
        val target = new Path(out, name)
        fs.delete(target, true)
        require(fs.rename(tmp, target), s"publish failed: $tmp -> $target")
      } else {
        fs.delete(new Path(out, "_SUCCESS"), false)
        (written + "_SUCCESS").foreach { f =>
          require(fs.rename(new Path(tmp, f), new Path(out, f)), s"publish failed: $tmp/$f -> $out")
        }
        fs.delete(tmp, true)
      }
    }
  }

  /** One task of [[ParquetWriter.write]]: the partition's rows into
    * `dir`, named `part-<pid>-<uuid><ext>`; the name, or null when a
    * partition other than 0 is empty. */
  private def writePart(factory: OutputWriterFactory, conf: Broadcast[SerializableConfiguration],
                        schema: StructType, dir: String, uuid: String)
                       (ctx: TaskContext, rows: Iterator[InternalRow]): String = {
    val pid = ctx.partitionId()
    if (pid != 0 && !rows.hasNext) return null
    val attempt = new TaskAttemptContextImpl(conf.value.value,
      new TaskAttemptID(new TaskID(new JobID(uuid, ctx.stageId()), TaskType.MAP, pid), ctx.attemptNumber()))
    val name = f"part-$pid%05d-$uuid${factory.getFileExtension(attempt)}"
    val path = new Path(dir, name)
    val inProgress = new Path(dir, s".$name.${ctx.taskAttemptId()}.inprogress")
    val fs = path.getFileSystem(attempt.getConfiguration)
    val w = factory.newInstance(inProgress.toString, schema, attempt)
    try {
      rows.foreach(w.write)
      w.close()
    } catch {
      case t: Throwable =>
        try w.close() catch { case e: Throwable => t.addSuppressed(e) }
        fs.delete(inProgress, false)
        throw t
    }
    require(fs.rename(inProgress, path), s"rename failed: $inProgress -> $path")
    name
  }

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
