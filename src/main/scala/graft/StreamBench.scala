package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import graft.stream.StreamOps
import graft.stream.StreamOps.Event

/** Streaming throughput anchor (round-7 verdict ask #7): the 36-op
  * streaming fleet had correctness + restart proofs but zero measured
  * rows/sec or state-size numbers. This main feeds a deterministic
  * synthetic event stream through four representative ops — three
  * transformWithState state shapes (ring buffer: RSI; mergeable
  * sketch: SpaceSaving top-k; scalar recursion: CUSUM) plus one
  * watermarked windowed aggregation — under the RocksDB state store
  * (the at-scale provider), and reports per-op rows/sec plus the
  * engine's own state-operator metrics (rows in state, memory used).
  *
  * Feed protocol: `chunks` MemoryStream.addData calls of n/chunks rows
  * each → the run spans multiple micro-batches, so state persistence
  * between batches (commit + reload per batch, the RocksDB write/read
  * path) is inside the measured window, not just in-memory updates.
  * Deterministic event synthesis (id-derived user/type/value, 1 s
  * spacing) — identical streams every run.
  *
  * Usage: graft.StreamBench [nRows] [nKeys]
  * Prints one JSON line: {"metric":"stream",...,"ops":{name:{rows_per_s,
  * state_rows, state_bytes}}}
  */
object StreamBench {

  private def mkEvents(n: Int, nKeys: Int): IndexedSeq[Event] = {
    val base = 1704067200000L // 2024-01-01 00:00 UTC
    (0 until n).map { i =>
      Event(
        eventId = i.toLong,
        ts = new java.sql.Timestamp(base + i.toLong * 1000L),
        userId = (i % nKeys).toLong,
        eventType = Seq("click", "view", "purchase", "error")(i % 4),
        value = 100.0 + (i % 97) - 48.0)
    }
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val nKeys = args.lift(1).map(_.toInt).getOrElse(1000)
    if (args.lift(2).contains("cluster-kill")) { clusterKill(n, nKeys); return }
    val chunks = 10
    val spark = Posture.session(s"local[${Posture.cpus("8")}]", Seq(
      "spark.app.name" -> "graft-stream-bench",
      "spark.sql.shuffle.partitions" -> "8") ++ Posture.stream)
    import spark.implicits._

    val events = mkEvents(n, nKeys)

    /** Run one op over the synthetic stream; returns
      * (rowsPerSec, stateRows, stateBytes). */
    def run(name: String, mk: Dataset[Event] => DataFrame,
            mode: OutputMode): (Double, Long, Long) = {
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft_sbench_$name").toString
      val in = MemoryStream[Event](spark)
      @volatile var outRows = 0L
      val q = mk(in.toDS()).writeStream
        .foreachBatch((b: Dataset[org.apache.spark.sql.Row], _: Long) =>
          { outRows += b.count(); () })
        .option("checkpointLocation", ckpt).outputMode(mode).start()
      // untimed warmup batch: stream init + RocksDB open + codegen
      in.addData(events.take(1000): _*)
      q.processAllAvailable()
      val t0 = System.nanoTime()
      val per = (n - 1000) / chunks
      (0 until chunks).foreach { c =>
        // last chunk slices to n: integer division would otherwise
        // silently drop (n-1000) % chunks rows while rows_per_s still
        // divided by the full n-1000 (round-7 ADVICE)
        val hi = if (c == chunks - 1) n else 1000 + (c + 1) * per
        in.addData(events.slice(1000 + c * per, hi): _*)
        q.processAllAvailable() // barrier per chunk: state commits per batch
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val prog = q.lastProgress
      val (sRows, sBytes) =
        if (prog == null || prog.stateOperators.isEmpty) (0L, 0L)
        else (prog.stateOperators.map(_.numRowsTotal).sum,
              prog.stateOperators.map(_.memoryUsedBytes).sum)
      q.stop()
      val rps = (n - 1000) / dt
      System.err.println(
        f"[stream-bench] $name%-16s ${rps}%10.0f rows/s  state: $sRows rows / $sBytes B  out: $outRows")
      (rps, sRows, sBytes)
    }

    val snake = (df: DataFrame) => df
      .withColumnRenamed("eventId", "event_id")
      .withColumnRenamed("userId", "user_id")
      .withColumnRenamed("eventType", "event_type")

    val results = Seq[(String, Dataset[Event] => DataFrame, OutputMode)](
      ("rsi_ring", ds => StreamOps.rsi(ds).toDF(), OutputMode.Append()),
      ("topk_sketch", ds => StreamOps.topkPerKey(ds, k = 5, capacity = 64).toDF(),
        OutputMode.Update()),
      ("cusum_scalar", ds => StreamOps.cusum(ds).toDF(), OutputMode.Append()),
      // (user, type)-keyed: state cardinality scales with the key
      // space (nKeys × |types|), unlike the 4-key type-keyed ops —
      // the representative "state grows with users" shape
      ("interarrival_keyed", ds => StreamOps.interarrival(ds).toDF(),
        OutputMode.Append()),
      ("tumbling_window", ds => StreamOps.tumblingCounts(snake(ds.toDF())),
        OutputMode.Append())
    ).map { case (name, mk, mode) =>
      val (rps, sr, sb) = run(name, mk, mode)
      name -> (rps, sr, sb)
    }

    val ops = results.map { case (k, (rps, sr, sb)) =>
      f""""$k":{"rows_per_s":$rps%.0f,"state_rows":$sr,"state_bytes":$sb}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"stream","rows":$n,"keys":$nKeys,"chunks":$chunks,"provider":"rocksdb","ops":$ops}""")

    // ---- checkpoint-recovery latency (round-8 verdict ask #7) ----
    // Build keyed state (the (user,type)-keyed interarrival op), STOP
    // the query, restart from the checkpoint, and time the restart to
    // its first post-restore emit of ONE row: that window is offset-log
    // replay + RocksDB state reload across every partition + one
    // micro-batch — the operational "how long until a crashed
    // collector emits again" number, which the throughput anchor says
    // nothing about.
    {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_sbench_recovery").toString
      val in = MemoryStream[Event](spark)
      def start() = StreamOps.interarrival(in.toDS()).toDF().writeStream
        .foreachBatch((b: Dataset[org.apache.spark.sql.Row], _: Long) =>
          { b.count(); () })
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      val q1 = start()
      val tb0 = System.nanoTime()
      events.grouped(math.max(1, n / 4)).foreach { chunk =>
        in.addData(chunk: _*); q1.processAllAvailable()
      }
      val buildS = (System.nanoTime() - tb0) / 1e9
      val sRows = Option(q1.lastProgress)
        .filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      q1.stop()
      val t0 = System.nanoTime()
      val q2 = start()
      in.addData(mkEvents(1, 1).map(e => e.copy(eventId = n + 1L)): _*)
      q2.processAllAvailable()
      val recoveryS = (System.nanoTime() - t0) / 1e9
      q2.stop()
      System.err.println(
        f"[stream-bench] recovery: state=$sRows keys, build=$buildS%.1f s, restart->first-emit=$recoveryS%.2f s")
      println(s"""{"metric":"stream_recovery","rows":$n,"keys":$nKeys,"state_rows":$sRows,"recovery_s":${f"$recoveryS%.2f"}}""")
    }
    spark.stop()
  }

  /** EXECUTOR-JVM-loss recovery (round-9; round-8 measured QUERY-restart
    * recovery — this is the harder operational event): a keyed RocksDB
    * stream runs under `local-cluster[2,1,2048]` (two real executor
    * JVMs forked as child processes), state is built across both, then
    * ONE executor is SIGKILLed mid-stream — the query itself never
    * stops. The measured window is kill → the next micro-batch fully
    * processed: task-loss detection, re-schedule onto the survivor (or
    * the standalone master's relaunched executor), RocksDB state
    * reload from the CHECKPOINT (the dead JVM's local store is gone),
    * and one emit. A per-batch baseline on the same stream right
    * before the kill gives the overhead factor.
    *
    * Usage: graft.StreamBench <nRows> <nKeys> cluster-kill */
  private def clusterKill(n: Int, nKeys: Int): Unit = {
    val spark = Posture.session("local-cluster[2,1,2048]", Seq(
      "spark.app.name" -> "graft-stream-kill",
      "spark.sql.shuffle.partitions" -> "8") ++ Posture.stream ++ Posture.localCluster)
    import spark.implicits._
    val events = mkEvents(n, nKeys)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_sbench_kill").toString
    val in = MemoryStream[Event](spark)
    @volatile var outRows = 0L
    val q = StreamOps.interarrival(in.toDS()).toDF().writeStream
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], _: Long) =>
        { outRows += b.count(); () })
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    // build keyed state across both executors (4 committed batches)
    val quarter = math.max(1, n / 4)
    val tb0 = System.nanoTime()
    events.take(3 * quarter).grouped(quarter).foreach { c =>
      in.addData(c: _*); q.processAllAvailable()
    }
    val buildS = (System.nanoTime() - tb0) / 1e9
    // per-batch baseline with both executors alive
    val tbl0 = System.nanoTime()
    in.addData(events.slice(3 * quarter, 3 * quarter + quarter / 2): _*)
    q.processAllAvailable()
    val baselineS = (System.nanoTime() - tbl0) / 1e9
    val sRows = Option(q.lastProgress).filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    // the executor JVMs are direct children of this process
    // (local-cluster Workers run in-process and fork
    // CoarseGrainedExecutorBackend JVMs)
    import scala.jdk.CollectionConverters._
    val backends = ProcessHandle.current().children().iterator().asScala
      .filter(_.info().commandLine().map[Boolean](
        (c: String) => c.contains("ExecutorBackend")).orElse(false))
      .toVector
    require(backends.nonEmpty, "no executor JVM children found to kill")
    val victim = backends.head
    System.err.println(
      s"[stream-kill] killing executor JVM pid=${victim.pid()} of ${backends.size}")
    val t0 = System.nanoTime()
    victim.destroyForcibly()
    in.addData(events.slice(3 * quarter + quarter / 2, n): _*)
    q.processAllAvailable() // blocks until the post-kill batch fully commits
    val recoveryS = (System.nanoTime() - t0) / 1e9
    q.stop()
    System.err.println(
      f"[stream-kill] state=$sRows rows, build=$buildS%.1f s, baseline batch=$baselineS%.2f s, kill->batch-committed=$recoveryS%.2f s, out=$outRows")
    println(s"""{"metric":"stream_executor_kill","rows":$n,"keys":$nKeys,"state_rows":$sRows,"baseline_batch_s":${f"$baselineS%.2f"},"kill_recovery_s":${f"$recoveryS%.2f"}}""")
    spark.stop()
  }
}
