package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener}
import graft.stream.{BatchSink, IdempotentParquetSink, Sinks, StreamOps}
import graft.stream.StreamOps.Event

/** Open-loop ingest. One generator thread stamps each event with its due
  * time and feeds it, on schedule, to two continuous queries that end in
  * `Sinks.sinkTo(..., IdempotentParquetSink)`:
  *   - `StreamOps.interarrival`, keyed by (user, type), RocksDB state,
  *     users Zipf-skewed;
  *   - `StreamOps.tumblingCounts`, 1 h windows, 10 min watermark.
  * The offered rate follows a fixed schedule: a reference rung, then a
  * ladder of higher rungs; each is judged on emit latency and on whether
  * the backlog grows. Then come bursts, each a block offered at once. The
  * schedule never waits for the queries, so a stall shows as latency
  * counted from due time and as backlog. The run ends with a stop, a
  * restart from the checkpoints, and a flush that closes every window.
  *
  * Event time advances `Accel` times faster than the schedule, so
  * windows close during the run. 5% of events are out of order by up to
  * 5 min, which the 10 min watermark always admits; 0.5% are late, stamped
  * an hour before the stream began, which every watermark after the
  * warm-up batch drops. Values are multiples of 0.25, so window sums are
  * exact however the events are split into batches. */
object StreamLoad {
  val Accel = 600L
  val Users = 5000
  val Types = Array("click", "view", "purchase", "error")
  val RefRate = 4000.0
  val Ladder = Seq(32000.0)
  val Bursts = 3
  val BurstEvents = 50000
  val WarmupRate = 4000.0
  val WarmupSeconds = 3.0
  val TickMs = 10L

  /** Zipf(1.1) over `Users` ids. */
  final class Gen(seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    private val cdf = {
      val w = (1 to Users).map(i => 1.0 / math.pow(i, 1.1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
    }
    private var nextId = 0L
    val baseTs: Long = 1704067200000L // 2024-01-01 00:00 UTC
    var late = 0L
    /** Expected tumbling output, (bucket ms, type) -> (n, sum). */
    val windows = new java.util.HashMap[(Long, String), (Long, Double)]()
    val keys = new java.util.HashSet[(Long, String)]()

    def event(dueOffsetMs: Double, allowLate: Boolean): Event = {
      val u = java.util.Arrays.binarySearch(cdf, rnd.nextDouble()) match {
        case i if i >= 0 => i
        case i => -i - 1
      }
      val typ = Types(rnd.nextInt(Types.length))
      val onTime = baseTs + (dueOffsetMs * Accel).toLong
      val r = rnd.nextDouble()
      val ts =
        if (allowLate && r < 0.005) { late += 1; baseTs - 3600001L - rnd.nextLong(3600000L) }
        else if (r < 0.055) onTime - rnd.nextLong(300000L)
        else onTime
      val v = rnd.nextInt(400) * 0.25
      if (ts >= baseTs - 3600000L) {
        val b = Math.floorDiv(ts, 3600000L) * 3600000L
        val prev = windows.getOrDefault((b, typ), (0L, 0.0))
        windows.put((b, typ), (prev._1 + 1, prev._2 + v))
      }
      keys.add((u.toLong, typ))
      nextId += 1
      Event(nextId, new java.sql.Timestamp(ts), u.toLong, typ, v)
    }
    def count: Long = nextId
  }

  /** Times each `write` and keeps when its result became visible. */
  final class TimedSink(name: String, inner: BatchSink, rec: Records, dir: String, trace: Boolean)
      extends BatchSink {
    override def write(batch: DataFrame, batchId: Long): Unit = {
      val t0 = Clock.ms()
      inner.write(batch, batchId)
      val t1 = Clock.ms()
      val bytes = if (!trace) 0L else Option(new java.io.File(s"$dir/batch=$batchId").listFiles())
        .map(_.map(_.length).sum).getOrElse(0L)
      rec.add("t" -> "sink", "q" -> name, "batch" -> batchId, "start" -> t0, "end" -> t1, "bytes" -> bytes)
    }
  }

  /** Per-trigger progress: input rows and offsets always (they decide
    * backlog and emit latency); phase durations and state metrics too,
    * which only the traced run reports. */
  final class Progress(rec: Records) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      import scala.jdk.CollectionConverters._
      val ops = p.stateOperators.toSeq
      def custom(k: String): Long = ops.map(o => Option(o.customMetrics.get(k)).map(_.longValue).getOrElse(0L)).sum
      rec.add("t" -> "trigger", "q" -> p.name, "batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "end_offset" -> p.sources.headOption.map(_.endOffset).getOrElse(""),
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "rocksdb_commit_ms" -> (custom("rocksdbCommitFlushLatency") + custom("rocksdbCommitFileSyncLatencyMs") +
          custom("rocksdbCommitCompactLatency") + custom("rocksdbCommitCheckpointLatency") +
          custom("rocksdbCommitPauseLatency") + custom("rocksdbCommitWriteBatchLatency")),
        "late_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum)
    }
  }

  def run(rec: Records, seed: Long, seconds: Double, trace: Boolean): Unit = {
    val mem = new MemorySampler(s"${Work.dir}/scratch")
    val spark = Posture.session(Work.dir, Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    Posture.check(rec, spark)
    if (trace) {
      val t = Tracer.install(spark, rec)
      spark.listenerManager.register(t)
    }
    spark.streams.addListener(new Progress(rec))
    rec.add("t" -> "mark", "name" -> "session_ready", "at" -> Clock.ms())
    import spark.implicits._

    val root = s"${Work.dir}/scratch/stream"
    val inA = MemoryStream[Event](spark, Posture.cores)
    val inB = MemoryStream[Event](spark, Posture.cores)
    val sinkA = new TimedSink("interarrival", new IdempotentParquetSink(s"$root/out_a"), rec, s"$root/out_a", trace)
    val sinkB = new TimedSink("tumbling", new IdempotentParquetSink(s"$root/out_b"), rec, s"$root/out_b", trace)
    def startA(): StreamingQuery =
      Sinks.sinkTo(StreamOps.interarrival(inA.toDS()).toDF(), sinkA, s"$root/ckpt_a")
        .queryName("interarrival").outputMode(OutputMode.Append()).start()
    def startB(): StreamingQuery =
      Sinks.sinkTo(StreamOps.tumblingCounts(inB.toDF()
          .withColumnRenamed("eventId", "event_id").withColumnRenamed("userId", "user_id")
          .withColumnRenamed("eventType", "event_type")),
        sinkB, s"$root/ckpt_b")
        .queryName("tumbling").outputMode(OutputMode.Append()).start()

    val gen = new Gen(seed)
    var qa = startA()
    var qb = startB()
    def feed(evs: Seq[Event]): (Long, Long) = {
      val oa = inA.addData(evs: _*).json.toLong
      val ob = inB.addData(evs: _*).json.toLong
      (oa, ob)
    }
    def drain(): Unit = { qa.processAllAvailable(); qb.processAllAvailable() }

    /** Offer `rate` rows/s for `secs` on the schedule, starting at
      * schedule offset `at` ms; returns the offset after the rung. Every
      * `TickMs` the generator adds the events that have fallen due. */
    def rung(name: String, rate: Double, secs: Double, at: Double, allowLate: Boolean): Double = {
      val n = (rate * secs).toLong
      val t0 = Clock.ms()
      rec.add("t" -> "rung", "name" -> name, "rate" -> rate, "start" -> t0, "seconds" -> secs, "events" -> n)
      var i = 0L
      var tick = 0L
      while (i < n) {
        val due = math.min(n, ((Clock.ms() - t0) * rate / 1000.0).toLong + 1)
        if (due > i) {
          val evs = (i until due).map(j => gen.event(at + j * 1000.0 / rate, allowLate))
          val addAt = Clock.ms()
          val (oa, ob) = feed(evs)
          rec.add("t" -> "tick", "rung" -> name, "offset_a" -> oa, "offset_b" -> ob, "n" -> (due - i),
            "first_due" -> (t0 + i * 1000.0 / rate), "last_due" -> (t0 + (due - 1) * 1000.0 / rate),
            "add_at" -> addAt, "done_at" -> Clock.ms())
          i = due
        }
        tick += 1
        val sleep = t0 + tick * TickMs - Clock.ms()
        if (i < n && sleep > 0) Thread.sleep(sleep.toLong)
      }
      rec.add("t" -> "rung_end", "name" -> name, "at" -> Clock.ms())
      at + secs * 1000.0
    }

    // warm-up: JIT, RocksDB open and codegen on both queries, then one
    // synchronous batch, so that every later batch sees a watermark
    var at = rung("warmup", WarmupRate, WarmupSeconds, 0.0, allowLate = false)
    drain()
    rec.add("t" -> "mark", "name" -> "setup_done", "at" -> Clock.ms())

    at = rung("ref", RefRate, 0.5 * seconds, at, allowLate = true)
    Ladder.zipWithIndex.foreach { case (r, i) =>
      at = rung(s"ladder$i", r, 0.3 * seconds, at, allowLate = true)
    }
    drain()
    rec.add("t" -> "mark", "name" -> "ladder_done", "at" -> Clock.ms())

    // bursts: a block of events offered at once, timed until both
    // queries have emitted it
    (0 until Bursts).foreach { b =>
      val evs = (0 until BurstEvents).map(j => gen.event(at + j * 0.05, allowLate = true))
      at += BurstEvents * 0.05
      val t0 = Clock.ms()
      val (oa, ob) = feed(evs)
      rec.add("t" -> "tick", "rung" -> "burst", "offset_a" -> oa, "offset_b" -> ob, "n" -> BurstEvents,
        "first_due" -> t0, "last_due" -> t0, "add_at" -> t0, "done_at" -> Clock.ms())
      drain()
      rec.add("t" -> "burst", "start" -> t0, "done" -> Clock.ms(), "events" -> BurstEvents)
    }

    // stop, then restart both queries from their checkpoints with one
    // tick of data waiting; recovery ends at the first post-restore emit
    qa.stop(); qb.stop()
    val lastA = qa.lastProgress.batchId
    val t0 = Clock.ms()
    val (ra, rb) = feed((0 until 200).map(j => gen.event(at + j * 5.0, allowLate = true)))
    rec.add("t" -> "tick", "rung" -> "restart", "offset_a" -> ra, "offset_b" -> rb, "n" -> 200,
      "first_due" -> t0, "last_due" -> t0, "add_at" -> t0, "done_at" -> Clock.ms())
    at += 1000.0
    val restartAt = Clock.ms()
    qa = startA(); qb = startB()
    rec.add("t" -> "restart", "at" -> restartAt, "after_batch" -> lastA, "offset_a" -> ra, "offset_b" -> rb)
    drain()

    // flush: two far-future events move the watermark past every real
    // window; their own window stays open and is not expected
    val farTs = new java.sql.Timestamp(gen.baseTs + (at * Accel).toLong + 2L * 86400000L)
    (0 until 2).foreach { j =>
      feed(Seq(Event(-1L - j, farTs, 0L, "flush", 0.0)))
      drain()
    }
    qa.stop(); qb.stop()

    // output check: expectations that hold however events were batched
    val offered = gen.count
    val gotA = spark.read.parquet(s"$root/out_a").count()
    val wantA = offered + 2 - (gen.keys.size + 1)
    val gotB = spark.read.parquet(s"$root/out_b").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("bucket").getTime, r.getAs[String]("event_type")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toMap
    import scala.jdk.CollectionConverters._
    val wantB = gen.windows.asScala.toMap
    val winBad = (wantB.keySet ++ gotB.keySet).toSeq.map { k =>
      val (wn, ws) = wantB.getOrElse(k, (0L, 0.0))
      val (gn, gs) = gotB.getOrElse(k, (0L, 0.0))
      if (wn == gn && ws == gs) 0L else math.max(1L, math.abs(wn - gn))
    }.sum
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    rec.add("t" -> "stream_check", "offered" -> offered, "interarrival_rows" -> gotA,
      "interarrival_expected" -> wantA, "windows" -> gotB.size, "windows_expected" -> wantB.size,
      "window_mismatch_rows" -> winBad, "late_expected" -> gen.late,
      "window_rows" -> gotB.values.map(_._1).sum)
    mem.stop(rec)
    spark.stop()
  }
}
