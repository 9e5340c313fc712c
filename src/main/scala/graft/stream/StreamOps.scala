package graft.stream

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** SURVEY.md §2.10 — Structured Streaming operators.
  *
  * Each op is a pure transform over a streaming DataFrame/Dataset so it
  * composes with any source (file source in production, MemoryStream in
  * tests) and any sink. Verified by the ScalaTest suites in
  * src/test/scala/graft/StreamingSpec.scala (streaming queries can't be
  * oracle-graded batch entries — SURVEY.md §2 note).
  *
  * Scale notes (100 TB/day ingest): all stateful ops are
  * watermark-bounded so state can't grow without bound; at cluster scale
  * the state store would be RocksDB-backed
  * (spark.sql.streaming.stateStore.providerClass) and sink writes
  * idempotent by (window, key) via foreachBatch upsert.
  */
object StreamOps {

  /** The typed event record (mirrors the events table, §1.3). */
  case class Event(eventId: Long, ts: java.sql.Timestamp, userId: Long,
                   eventType: String, value: Double)

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Exact epoch-µs from a java.sql.Timestamp. getTime truncates to ms
    * (it already carries the ms part of nanos); getNanos restores the
    * sub-ms µs so stateful processors emit the same integer micros as
    * their batch twins' unix_micros — parity would otherwise silently
    * break on sub-ms event times. */
  def toMicros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** Shared keyed-state TTL posture (round-13, mirroring
    * `graft.stream.lineDedup.ttlMs`): `graft.stream.state.ttlMs` > 0
    * ages out cold per-key state across every open-key-space
    * StatefulProcessor in this file (high-water/ewma/sma/rsi/cusum/
    * holt/holt-winters/bloom-dedup/funnel/anomaly/topk/rate/quantile/
    * semantic-index/minhash-index/attribution/scd2/alert-suppress/
    * interarrival) — the at-scale bound for state keyed by user/doc
    * ids, which grow without limit on an open stream. 0/unset = exact
    * unbounded history (the fixture/test posture, and the batch-parity
    * one). TTL > 0 forces TimeMode.ProcessingTime — see
    * [[lineDedupIndex]]'s trigger note (continuous triggers never
    * quiesce under TTL bookkeeping; use AvailableNow or a real
    * interval). The heartbeat detector is the one exception: its
    * event-time TIMERS are incompatible with processing-time TTL, and
    * its state is one long + one self-cleaning timer per key. */
  private def stateTtlMs(ds: org.apache.spark.sql.Dataset[_]): Long =
    ds.sparkSession.conf.getOption("graft.stream.state.ttlMs")
      .map(_.toLong).getOrElse(0L)

  private def ttlConf(ttlMs: Long): org.apache.spark.sql.streaming.TTLConfig =
    if (ttlMs > 0)
      org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofMillis(ttlMs))
    else org.apache.spark.sql.streaming.TTLConfig.NONE

  private def ttlMode(ds: org.apache.spark.sql.Dataset[_])
      : org.apache.spark.sql.streaming.TimeMode =
    if (stateTtlMs(ds) > 0)
      org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
    else org.apache.spark.sql.streaming.TimeMode.None()

  /** s_stream_file_source: micro-batch ingest of event parquet files (the
    * collector poll-loop analogue). */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** s_stream_tumbling_wm: 1h tumbling counts, 10min watermark; rows
    * later than the watermark are dropped, windows finalize in append
    * mode. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"),
              col("n"), col("sum_value"))

  /** s_stream_sliding: 1h windows sliding every 15min. */
  def slidingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("n"))

  /** s_stream_session: session windows with a 30min gap. */
  def sessionCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("user_id"), col("n"))

  /** s_stream_slo_burn: the q_ts_slo_burn alerting composite as a
    * continuous query — hourly error-budget burn against a 99% SLO,
    * emitted as windows finalize. Same integer-exact `burning` flag as
    * the batch twin; the windowed agg is the standard
    * watermark-bounded state shape (state per open window only). */
  def sloBurn(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
           sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))
      .select(col("window.start").as("hour"), col("n_events"), col("n_err"),
              (col("n_err") * lit(100.0) / col("n_events")).as("burn_rate"),
              when(col("n_err") * 100 > col("n_events"), 1L).otherwise(0L).as("burning"))

  /** s_stream_histogram: the q_agg_histogram bucketing as a continuous
    * per-hour query — value-distribution counters emitted as windows
    * finalize (what a collector ships to a TSDB instead of raw
    * samples). Shares graft.ops.Util.bucket50 with the batch twin so
    * the bucket edges can never drift between the two. */
  def streamingHistogram(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"),
               graft.ops.Util.bucket50("value").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour"), col("bucket"), col("n"))

  /** s_stream_dedup: exactly-once event ids within the watermark. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Output row of the stateful running counter. */
  case class UserCounter(userId: Long, nEvents: Long, totalValue: Double)

  /** Internal state of the running counter: the counter plus the
    * latest event time ever seen for the user (monotone — a late batch
    * must never move the expiry deadline backwards). */
  case class CounterState(counter: UserCounter, lastTs: Long)

  /** s_stream_stateful: per-user running counter via
    * flatMapGroupsWithState — the collector cumulative-delta analogue.
    * Emits the updated counter for each group in each micro-batch;
    * state expires after 30min of event-time inactivity. */
  def runningCounter(events: Dataset[Event]): Dataset[UserCounter] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.userId)
      .flatMapGroupsWithState[CounterState, UserCounter](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[CounterState]) =>
          if (state.hasTimedOut) {
            // every update was already emitted in its own batch — expiry
            // only drops the state (re-emitting would double-count
            // downstream)
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(
              CounterState(UserCounter(userId, 0L, 0.0), Long.MinValue))
            var n = prev.counter.nEvents
            var tot = prev.counter.totalValue
            var maxTs = prev.lastTs
            rows.foreach { e =>
              n += 1; tot += e.value
              maxTs = math.max(maxTs, e.ts.getTime)
            }
            val next = UserCounter(userId, n, tot)
            state.update(CounterState(next, maxTs))
            // expire 30min of event time after the user's latest-ever
            // event; the max with the current watermark keeps the
            // deadline legal even if this batch carried only late rows
            val deadline = math.max(maxTs,
              state.getCurrentWatermarkMs()) + 30L * 60 * 1000
            state.setTimeoutTimestamp(deadline)
            Iterator(next)
          }
      }
  }

  /** Output row of the high-water-mark tracker. */
  case class HighWater(userId: Long, value: Double)

  /** s_stream_tws: per-user all-time high-water mark via the Spark 4
    * `transformWithState` API (typed `ValueState`, RocksDB-backed —
    * the successor to flatMapGroupsWithState for arbitrary state).
    * Emits a row each time a user's value exceeds their running max.
    *
    * State here is deliberately O(distinct users) — an ALL-TIME max is
    * unbounded-history semantics by definition (the exception to this
    * file's watermark-bounded rule). A production deployment over an
    * open-ended key space would add `TTLConfig` with
    * `TimeMode.ProcessingTime` to cap it at O(recently-active users). */
  private class HighWaterProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, HighWater] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var max: org.apache.spark.sql.streaming.ValueState[Double] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      max = getHandle.getValueState[Double](
        "max", E.scalaDouble, ttlConf(ttlMs))

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[HighWater] = {
      var cur = if (max.exists()) max.get() else Double.NegativeInfinity
      val out = Seq.newBuilder[HighWater]
      // transformWithState guarantees grouping, not intra-key order —
      // sort by event time so the emitted high-water set is deterministic
      rows.toSeq.sortBy(e => (e.ts.getTime, e.eventId)).foreach { e =>
        if (e.value > cur) { cur = e.value; out += HighWater(key, e.value) }
      }
      max.update(cur)
      out.result().iterator
    }
  }

  /** Requires spark.sql.streaming.stateStore.providerClass =
    * RocksDBStateStoreProvider (transformWithState's only supported
    * store). */
  def highWaterMarks(events: Dataset[Event]): Dataset[HighWater] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .transformWithState(new HighWaterProcessor(stateTtlMs(events)),
        ttlMode(events),
        OutputMode.Append())
  }

  /** s_stream_bloom_dedup: BOUNDED-STATE streaming dedup on event_id.
    * `dropDuplicates` (s_stream_dedup) keeps one state row per distinct
    * key — O(distinct ids), unbounded on an open-ended id space even
    * with a watermark. This variant shards ids and keeps a ROTATING
    * PAIR of Bloom bitsets per shard ([[graft.functions.BloomUtil]],
    * the same kernel as q_join_bloom): membership checks both
    * generations, inserts go to the current one, and when the current
    * generation reaches its design capacity (m·ln2/k inserts — the fill
    * at which fpp meets its analytic bound) it becomes the previous and
    * a fresh one starts. State is 2·shards·m/8 bytes forever AND the
    * false-positive rate stays at the design bound instead of
    * saturating toward 100% as a single ever-filling bitset would.
    * The trades, both one-sided and bounded: ~fpp of uniques are
    * wrongly dropped (the right trade for ingest dedup, where a missed
    * dup poisons training data and a dropped unique is noise), and a
    * duplicate CAN pass only when its first occurrence is older than a
    * full generation (≥ m·ln2/k distinct ids ago on its shard) — the
    * sliding-recency semantics every bounded-memory dedup must pick.
    * Intra-batch rows are processed in full (µs ts, id, payload) order
    * so the emitted set is deterministic under arrival-order shuffle. */
  private class BloomDedupProcessor(numBits: Int, numHashes: Int, ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, Event] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var cur: org.apache.spark.sql.streaming.ValueState[Array[Byte]] = _
    @transient private var prev: org.apache.spark.sql.streaming.ValueState[Array[Byte]] = _
    @transient private var nCur: org.apache.spark.sql.streaming.ValueState[Long] = _
    private val rotateAt: Long = (numBits * math.log(2) / numHashes).toLong.max(1L)

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      val ttl = ttlConf(ttlMs)
      cur = getHandle.getValueState[Array[Byte]]("cur", E.BINARY, ttl)
      prev = getHandle.getValueState[Array[Byte]]("prev", E.BINARY, ttl)
      nCur = getHandle.getValueState[Long]("ncur", E.scalaLong, ttl)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[Event] = {
      import graft.functions.BloomUtil
      var curB = if (cur.exists()) cur.get() else BloomUtil.emptyBlob(numBits, numHashes)
      var prevB = if (prev.exists()) prev.get() else null
      var n = if (nCur.exists()) nCur.get() else 0L
      val out = Seq.newBuilder[Event]
      // java.sql.Timestamp.getTime truncates to ms — getNanos restores
      // the sub-ms part; userId/value break (ts, id) ties so identical
      // keys pick the same representative on every run
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.eventId,
                              e.userId, e.value)).foreach { e =>
        val seen = BloomUtil.contains(curB, e.eventId) ||
          (prevB != null && BloomUtil.contains(prevB, e.eventId))
        if (!seen) {
          if (n >= rotateAt) {
            prevB = curB
            curB = BloomUtil.emptyBlob(numBits, numHashes)
            n = 0L
          }
          BloomUtil.setBits(curB, e.eventId)
          n += 1
          out += e
        }
      }
      cur.update(curB)
      if (prevB != null) prev.update(prevB)
      nCur.update(n)
      out.result().iterator
    }
  }

  /** Output row of the streaming EWMA smoother. */
  case class Smoothed(userId: Long, eventId: Long, ewma: Double)

  /** s_stream_ewma: per-user α=1/2 recursive EWMA — the streaming
    * sibling of the batch q_ts_ewma (which truncates to 16 explicit
    * terms; the stream keeps the full recursion because state makes it
    * free). All arithmetic is 1e-6 fixed-point integer:
    * s_t = (x_fp + s_{t−1}) div 2 — exact halving per step, no float
    * accumulation, so replays and shard moves can never change emitted
    * values. O(1) state (one long) per user. */
  private class EwmaProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, Smoothed] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var state: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[Long](
        "ewma_fp", E.scalaLong, ttlConf(ttlMs))

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[Smoothed] = {
      var has = state.exists()
      var s = if (has) state.get() else 0L
      val out = Seq.newBuilder[Smoothed]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.eventId)).foreach { e =>
        val xfp = math.floor(e.value * 1e6).toLong
        s = if (has) (xfp + s) / 2 else xfp // first sample seeds the level
        has = true
        out += Smoothed(key, e.eventId, s.toDouble / 1e6)
      }
      state.update(s)
      out.result().iterator
    }
  }

  /** Streaming SMA-crossover output: per-event cross flags once the
    * slow window is full. */
  case class CrossOut(eventType: String, eventId: Long,
                      golden: Boolean, death: Boolean)

  /** Keyed crossover state: the last ≤20 fixed-point samples + the
    * previous above/below-flag (−1 = not yet established). */
  case class SmaState(buf: Seq[Long], prevAbove: Int)

  /** s_stream_sma_crossover: per-type golden-cross/death-cross
    * detection — the streaming twin of `q_win_sma_crossover`, with the
    * SAME zero-division integer test (SMA₅>SMA₂₀ ⟺ 4·Σ₅>Σ₂₀ on 1e-2
    * fixed point). State is a BOUNDED ring of the last 20 samples plus
    * one flag — O(1) per key regardless of stream length, the shape
    * that distinguishes a window-bounded streaming op from the
    * unbounded-list anti-pattern. Flags fire exactly at the batch
    * op's transitions (first full window establishes the side without
    * firing, like the batch rn≥20 + lag-over-filtered-set contract). */
  private class SmaCrossProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Event, CrossOut] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var state: org.apache.spark.sql.streaming.ValueState[SmaState] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[SmaState](
        "sma_buf", E.product[SmaState], ttlConf(ttlMs))

    override def handleInputRows(key: String, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[CrossOut] = {
      var st = if (state.exists()) state.get() else SmaState(Vector.empty, -1)
      val out = Seq.newBuilder[CrossOut]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.eventId)).foreach { e =>
        val x = math.floor(e.value * 100 + 0.5).toLong
        val buf = (st.buf :+ x).takeRight(20)
        if (buf.size >= 20) {
          val s5 = buf.takeRight(5).sum
          val s20 = buf.sum
          val above = if (4 * s5 > s20) 1 else 0
          out += CrossOut(key, e.eventId,
            golden = st.prevAbove == 0 && above == 1,
            death = st.prevAbove == 1 && above == 0)
          st = SmaState(buf, above)
        } else st = SmaState(buf, st.prevAbove)
      }
      state.update(st)
      out.result().iterator
    }
  }

  /** Requires the RocksDB state store, like [[highWaterMarks]]. */
  def smaCrossover(events: Dataset[Event]): Dataset[CrossOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.eventType)
      .transformWithState(new SmaCrossProcessor(stateTtlMs(events)),
        ttlMode(events),
        OutputMode.Append())
  }

  /** Streaming RSI output: 1e4 fixed-point RSI once the delta window
    * is full. */
  case class RsiOut(eventType: String, eventId: Long, rsiFp: Long)

  /** Keyed RSI state: the last ≤15 fixed-point samples (14 deltas). */
  case class RsiState(buf: Seq[Long])

  /** s_stream_rsi: per-type Cutler RSI over the event-value stream —
    * the streaming twin of `q_win_rsi`'s frame arithmetic (the batch
    * op folds the daily series; the stream scores each event against
    * its last 14 deltas, the per-sample deployment): gain/loss are
    * conditional sums over the deltas of a BOUNDED 15-sample ring,
    * RSI = (10000·gain) div (gain+loss) with the same 5000 flat-frame
    * midpoint pin. O(1) state per key regardless of stream length;
    * exact integer arithmetic → replay/shard-move invariant. */
  private[graft] class RsiProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Event, RsiOut] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var state: org.apache.spark.sql.streaming.ValueState[RsiState] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[RsiState](
        "rsi_buf", E.product[RsiState], ttlConf(ttlMs))

    override def handleInputRows(key: String, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[RsiOut] = {
      // Round 14 (§1.2 per-task work): the per-row Vector append +
      // takeRight + sliding-iterator pipeline allocated ~20 objects per
      // event and measured rsi_ring at 26.6k rows/s against the 38.4k
      // rows/s scalar-state floor (cusum) on the same harness — the gap
      // was processor CPU, not the state store. The ring is now a
      // primitive long array shifted in place, gain/loss a plain loop
      // over the 14 deltas; the Seq[Long] state shape (and therefore
      // the checkpoint encoding) is unchanged, converted once per key
      // per batch at the state boundary. Arithmetic and emit order are
      // bit-identical.
      val st = if (state.exists()) state.get() else RsiState(Vector.empty)
      val out = Seq.newBuilder[RsiOut]
      val arr = rows.toArray
      java.util.Arrays.sort(arr, (a: Event, b: Event) => {
        var c = java.lang.Long.compare(a.ts.getTime, b.ts.getTime)
        if (c == 0) c = java.lang.Integer.compare(a.ts.getNanos, b.ts.getNanos)
        if (c == 0) c = java.lang.Long.compare(a.eventId, b.eventId)
        c
      })
      val buf = new Array[Long](15)
      var n = 0
      // the newest ≤ 15 samples: a restored state written out of spec
      // (longer than the ring) must not overflow the array and kill
      // the query
      st.buf.takeRight(15).foreach { v => buf(n) = v; n += 1 }
      var i = 0
      while (i < arr.length) {
        val e = arr(i)
        val x = math.floor(e.value * 100 + 0.5).toLong
        if (n < 15) { buf(n) = x; n += 1 }
        else { System.arraycopy(buf, 1, buf, 0, 14); buf(14) = x }
        if (n >= 15) {
          var gain = 0L; var loss = 0L
          var j = 1
          while (j < 15) {
            val d = buf(j) - buf(j - 1)
            if (d > 0) gain += d else loss -= d
            j += 1
          }
          val rsi = if (gain + loss > 0) (10000L * gain) / (gain + loss) else 5000L
          out += RsiOut(key, e.eventId, rsi)
        }
        i += 1
      }
      state.update(RsiState(buf.take(n).toVector))
      out.result().iterator
    }
  }

  /** Requires the RocksDB state store, like [[highWaterMarks]]. */
  def rsi(events: Dataset[Event]): Dataset[RsiOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.eventType)
      .transformWithState(new RsiProcessor(stateTtlMs(events)),
        ttlMode(events),
        OutputMode.Append())
  }

  /** Streaming CUSUM output: the running statistic + alert flag. */
  case class CusumOut(eventType: String, eventId: Long, s: Long, alert: Boolean)

  /** s_stream_cusum: per-type sequential CUSUM drift detector — the
    * streaming twin of the `q_ts_cusum` batch fold, against a FIXED
    * target (a stream can't know the corpus mean; the target is the
    * SLO/expected level, which is how CUSUM is deployed online):
    * S = max(0, S + (x − target)) on 1e-2 fixed-point longs, alert
    * while S exceeds the drift budget. O(1) ValueState per type;
    * exact integer arithmetic → replay/shard-move invariant. */
  private class CusumProcessor(targetFp: Long, threshFp: Long, ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Event, CusumOut] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var state: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[Long](
        "cusum_fp", E.scalaLong, ttlConf(ttlMs))

    override def handleInputRows(key: String, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[CusumOut] = {
      var s = if (state.exists()) state.get() else 0L
      val out = Seq.newBuilder[CusumOut]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.eventId)).foreach { e =>
        val xfp = math.floor(e.value * 100 + 0.5).toLong
        s = math.max(0L, s + (xfp - targetFp))
        out += CusumOut(key, e.eventId, s, s > threshFp)
      }
      state.update(s)
      out.result().iterator
    }
  }

  /** Requires the RocksDB state store, like [[highWaterMarks]]. */
  def cusum(events: Dataset[Event], targetFp: Long = 10000L,
            threshFp: Long = 20000L): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.eventType)
      .transformWithState(new CusumProcessor(targetFp, threshFp, stateTtlMs(events)),
        ttlMode(events),
        OutputMode.Append())
  }

  /** Output row of the streaming Holt smoother: level + trend +
    * one-step forecast, 1e-4 fixed point. */
  case class HoltOut(userId: Long, eventId: Long, levelFp: Long, trendFp: Long)

  /** Keyed Holt state — the O(1) pair the batch fold carries. */
  case class HoltState(l: Long, t: Long)

  /** s_stream_holt: per-user Holt DOUBLE-exponential smoothing (level +
    * trend) — the streaming twin of the batch `q_ts_holt` fold, with
    * the SAME α=β=1/2 shift arithmetic on 1e-4 fixed-point longs:
    * l′ = (x + l + t) >> 1, t′ = (l′ − l + t) >> 1 (arithmetic shift =
    * floor, matching `shiftright` on both engines). Where q_ts_holt
    * collects each key's history into a list and folds it, the stream
    * keeps ONLY (l, t) per user — O(1) ValueState, unbounded series.
    * First sample seeds l = x, t = 0 exactly like the batch seed. */
  private class HoltProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, HoltOut] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var state: org.apache.spark.sql.streaming.ValueState[HoltState] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[HoltState](
        "holt_fp", E.product[HoltState], ttlConf(ttlMs))

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[HoltOut] = {
      var st = if (state.exists()) state.get() else null
      val out = Seq.newBuilder[HoltOut]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.eventId)).foreach { e =>
        val x = math.floor(e.value * 1e4 + 0.5).toLong
        st =
          if (st == null) HoltState(x, 0L) // batch-fold seed: (x₀, 0)
          else {
            val l2 = (x + st.l + st.t) >> 1
            HoltState(l2, (l2 - st.l + st.t) >> 1)
          }
        out += HoltOut(key, e.eventId, st.l, st.t)
      }
      state.update(st)
      out.result().iterator
    }
  }

  /** Output of the streaming Holt–Winters: smoothed state after each
    * sample, including the updated seasonal slot. */
  case class HoltWintersOut(eventType: String, eventId: Long,
                            levelFp: Long, trendFp: Long, seasFp: Long)

  /** (level, trend, 7 weekly seasonal slots) — O(1) per key. */
  case class HoltWintersState(l: Long, t: Long, s: Array[Long])

  /** s_stream_holt_winters: the `q_ts_holt_winters` seasonal recursion
    * as an online per-event-type fold — l′ = (x−s_dow+l+t) >> 1,
    * t′ = (l′−l+t) >> 1, s_dow′ = (x−l′+s_dow) >> 1 on 1e-4 fixed
    * point, dow = epoch-day mod 7 of the sample's event time. Where
    * the batch op folds the collected daily series, the stream keeps
    * ONLY (l, t, s[7]) per type: O(1) ValueState, unbounded series.
    * First sample seeds l = x, t = 0, s = 0⁷ exactly like the batch
    * seed. */
  private class HoltWintersProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Event, HoltWintersOut] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var state:
      org.apache.spark.sql.streaming.ValueState[HoltWintersState] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[HoltWintersState](
        "hw_fp", E.product[HoltWintersState],
        ttlConf(ttlMs))

    override def handleInputRows(key: String, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[HoltWintersOut] = {
      var st = if (state.exists()) state.get() else null
      val out = Seq.newBuilder[HoltWintersOut]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.eventId)).foreach { e =>
        val x = math.floor(e.value * 1e4 + 0.5).toLong
        val dow = (Math.floorDiv(e.ts.getTime, 86400000L) % 7L).toInt
        st =
          if (st == null) HoltWintersState(x, 0L, Array.fill(7)(0L))
          else {
            val sd = st.s(dow)
            val l2 = (x - sd + st.l + st.t) >> 1
            val s2 = st.s.clone()
            s2(dow) = (x - l2 + sd) >> 1
            HoltWintersState(l2, (l2 - st.l + st.t) >> 1, s2)
          }
        out += HoltWintersOut(key, e.eventId, st.l, st.t, st.s(dow))
      }
      state.update(st)
      out.result().iterator
    }
  }

  /** Requires the RocksDB state store, like [[highWaterMarks]]. */
  def holtWinters(events: Dataset[Event]): Dataset[HoltWintersOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.eventType)
      .transformWithState(new HoltWintersProcessor(stateTtlMs(events)),
        ttlMode(events),
        OutputMode.Append())
  }

  /** Requires the RocksDB state store, like [[highWaterMarks]]. */
  def holt(events: Dataset[Event]): Dataset[HoltOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .transformWithState(new HoltProcessor(stateTtlMs(events)),
        ttlMode(events),
        OutputMode.Append())
  }

  /** Requires the RocksDB state store, like [[highWaterMarks]]. */
  def ewma(events: Dataset[Event]): Dataset[Smoothed] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .transformWithState(new EwmaProcessor(stateTtlMs(events)),
        ttlMode(events),
        OutputMode.Append())
  }

  /** Requires the RocksDB state store, like [[highWaterMarks]]. */
  def bloomDedup(events: Dataset[Event], shards: Int = 32,
                 numBits: Int = 1 << 15, numHashes: Int = 4): Dataset[Event] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.eventId % shards)
      .transformWithState(new BloomDedupProcessor(numBits, numHashes, stateTtlMs(events)),
        ttlMode(events),
        OutputMode.Append())
  }

  /** Output row of the streaming funnel: a user advancing to a stage. */
  case class StageAdvance(userId: Long, stage: Int, ts: java.sql.Timestamp)

  /** s_stream_funnel: the q_ts_funnel conversion chain as a per-user
    * streaming STATE MACHINE — the signup→view→click→purchase ladder
    * tracked incrementally, emitting one row each time a user advances
    * a stage (an event only counts when the user already sits at the
    * immediately preceding stage and the event is not earlier than that
    * stage's timestamp). State per user is (current stage, its ts):
    * O(1) per key, the streaming analogue of the batch op's
    * min-ts-after-previous-stage chain.
    *
    * State is O(distinct users) like [[HighWaterProcessor]]; production
    * over an open key space would add TTL. */
  private class FunnelProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, StageAdvance] {
    import org.apache.spark.sql.{Encoders => E}
    private val stageOf = Map("signup" -> 1, "view" -> 2, "click" -> 3, "purchase" -> 4)
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Int, Long)] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Int, Long)](
        "stage", E.tuple(E.scalaInt, E.scalaLong),
        ttlConf(ttlMs))

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[StageAdvance] = {
      val init = if (st.exists()) st.get() else (0, 0L)
      var (stage, stageTs) = init
      val out = Seq.newBuilder[StageAdvance]
      // grouping guaranteed, intra-key order not — sort by event time so
      // the advance sequence is deterministic
      rows.toSeq.sortBy(e => (e.ts.getTime, e.eventId)).foreach { e =>
        stageOf.get(e.eventType).foreach { s =>
          if (s == stage + 1 && (stage == 0 || e.ts.getTime >= stageTs)) {
            stage = s; stageTs = e.ts.getTime
            out += StageAdvance(key, s, e.ts)
          }
        }
      }
      // only write state when something advanced: spares a RocksDB
      // write per batch for parked users and never materializes state
      // for users outside the funnel (e.g. view-only, never signed up)
      if ((stage, stageTs) != init) st.update((stage, stageTs))
      out.result().iterator
    }
  }

  /** Requires the RocksDB state store, like [[highWaterMarks]]. */
  def streamingFunnel(events: Dataset[Event]): Dataset[StageAdvance] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .transformWithState(new FunnelProcessor(stateTtlMs(events)),
        ttlMode(events),
        OutputMode.Append())
  }

  /** Output row of the streaming anomaly detector. */
  case class Anomaly(userId: Long, eventId: Long, value: Double, z: Double)

  /** s_stream_anomaly: per-user streaming z-score outliers — the
    * streaming twin of batch `q_ts_anomaly`. State is the Welford
    * running-moment triple (n, mean, M2) per user: O(1) per key, exact
    * single-pass variance with no catastrophic cancellation (the naive
    * Σx² − (Σx)²/n form loses all significance once mean ≫ σ). Each
    * point is scored against the moments of the points BEFORE it
    * (expanding window — the streaming analogue of the batch op's
    * trailing frame) and flagged at |z| > 3 after a 5-event warmup.
    *
    * State is O(distinct users) like [[HighWaterProcessor]]; a
    * production deployment over an open key space would add `TTLConfig`
    * with `TimeMode.ProcessingTime` to cap it at recently-active users. */
  private class AnomalyProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, Anomaly] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var moments:
      org.apache.spark.sql.streaming.ValueState[(Long, Double, Double)] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      moments = getHandle.getValueState[(Long, Double, Double)](
        "welford", E.tuple(E.scalaLong, E.scalaDouble, E.scalaDouble),
        ttlConf(ttlMs))

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[Anomaly] = {
      var (n, mean, m2) =
        if (moments.exists()) moments.get() else (0L, 0.0, 0.0)
      val out = Seq.newBuilder[Anomaly]
      // grouping is guaranteed, intra-key order is not — sort by event
      // time so scoring against "prior" points is deterministic
      rows.toSeq.sortBy(e => (e.ts.getTime, e.eventId)).foreach { e =>
        if (n >= 5) {
          val sd = math.sqrt(m2 / (n - 1))
          if (sd > 0) {
            val z = (e.value - mean) / sd
            if (math.abs(z) > 3) out += Anomaly(key, e.eventId, e.value, z)
          }
        }
        n += 1
        val d = e.value - mean
        mean += d / n
        m2 += d * (e.value - mean)
      }
      moments.update((n, mean, m2))
      out.result().iterator
    }
  }

  /** Requires the RocksDB state store (transformWithState's only
    * supported provider), like [[highWaterMarks]]. */
  def streamingAnomalies(events: Dataset[Event]): Dataset[Anomaly] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .transformWithState(new AnomalyProcessor(stateTtlMs(events)),
        ttlMode(events),
        OutputMode.Append())
  }

  /** s_stream_join: stream-stream interval join — attribute each click
    * to an impression by the same user within the preceding 30 min.
    * Both sides are watermarked and the join condition bounds event
    * time on both ends, so Spark can expire join state (unbounded state
    * is the classic stream-join failure at ingest scale). */
  def intervalJoin(impressions: DataFrame, clicks: DataFrame): DataFrame = {
    val imp = impressions.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("imp_id"), col("user_id").as("imp_user"),
              col("ts").as("imp_ts"))
    val clk = clicks.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("clk_id"), col("user_id").as("clk_user"),
              col("ts").as("clk_ts"))
    imp.join(clk,
      col("imp_user") === col("clk_user") &&
      col("clk_ts") >= col("imp_ts") &&
      col("clk_ts") <= col("imp_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("imp_id"), col("clk_id"), col("imp_user").as("user_id"),
              col("imp_ts"), col("clk_ts"))
  }

  /** s_stream_join_outer: LEFT OUTER stream-stream interval join — the
    * un-attributed-impression readout `intervalJoin` cannot give: an
    * impression with no click inside its 30-min window must still
    * emit, with NULL click columns. Structured Streaming holds such
    * rows in state until the WATERMARK passes the end of their join
    * window (only then is "no match" final — emitting earlier would be
    * wrong, never emitting would leak state), so unmatched rows appear
    * one watermark-advance later than matches. Same bounded-state
    * discipline as the inner join. */
  def intervalJoinOuter(impressions: DataFrame, clicks: DataFrame): DataFrame = {
    val imp = impressions.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("imp_id"), col("user_id").as("imp_user"),
              col("ts").as("imp_ts"))
    val clk = clicks.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("clk_id"), col("user_id").as("clk_user"),
              col("ts").as("clk_ts"))
    imp.join(clk,
      col("imp_user") === col("clk_user") &&
      col("clk_ts") >= col("imp_ts") &&
      col("clk_ts") <= col("imp_ts") + expr("INTERVAL 30 MINUTES"),
      "left_outer")
      .select(col("imp_id"), col("clk_id"), col("imp_user").as("user_id"),
              col("imp_ts"), col("clk_ts"))
  }

  /** s_stream_foreachbatch_sink: micro-batch append through the
    * [[BatchSink]] seam (Sinks.scala) — parquet binding here; the JDBC
    * binding ([[JdbcAppendSink]]) is the "write to ClickHouse"
    * production form, compiled but untestable offline. */
  def foreachBatchParquetSink(df: DataFrame, outDir: String, checkpoint: String) =
    Sinks.sinkTo(df, new ParquetAppendSink(outDir), checkpoint)

  /** s_stream_idempotent_sink: replay-safe micro-batch sink — see
    * [[IdempotentParquetSink]]. */
  def idempotentParquetSink(df: DataFrame, outDir: String, checkpoint: String) =
    Sinks.sinkTo(df, new IdempotentParquetSink(outDir), checkpoint)

  case class TopKHit(eventType: String, item: String, est: Long)

  /** s_stream_topk: streaming heavy hitters — a bounded SpaceSaving
    * summary per key maintained across micro-batches via
    * `transformWithState` (the streaming form of `a_agg_topk_sketch`,
    * same kernel: [[graft.functions.SpaceSavingUtil]], so eviction rule
    * and wire format are shared with the batch aggregate by
    * construction). State per key is O(capacity) FOREVER — the
    * all-time top talkers readout that a per-window groupBy.count
    * cannot give without unbounded state. Each batch re-emits the
    * current top-k snapshot (Update-mode semantics); intra-batch rows
    * feed the summary in full (ts, id) order so emitted estimates are
    * deterministic under arrival-order shuffle. */
  private class TopKProcessor(k: Int, capacity: Int, ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Event, TopKHit] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var sk: org.apache.spark.sql.streaming.ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sk = getHandle.getValueState[Array[Byte]](
        "sk", E.BINARY, ttlConf(ttlMs))

    override def handleInputRows(key: String, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[TopKHit] = {
      import graft.functions.SpaceSavingUtil
      val b = if (sk.exists()) SpaceSavingUtil.deser(sk.get())
              else scala.collection.mutable.HashMap.empty[String, Long]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.eventId))
        .foreach(e => SpaceSavingUtil.add(b, e.userId.toString, 1L, capacity))
      sk.update(SpaceSavingUtil.ser(b))
      SpaceSavingUtil.top(b, k).map { case (item, est) => TopKHit(key, item, est) }
        .iterator
    }
  }

  /** Requires the RocksDB state store (transformWithState's only
    * supported provider), like [[highWaterMarks]]. */
  def topkPerKey(events: Dataset[Event], k: Int, capacity: Int): Dataset[TopKHit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.eventType)
      .transformWithState(new TopKProcessor(k, capacity, stateTtlMs(events)),
        ttlMode(events),
        OutputMode.Update())
  }

  /** A missed-heartbeat alert: the key went silent past the gap. */
  case class GapAlert(userId: Long, lastSeenMs: Long)

  /** s_stream_gap_detect: missed-heartbeat detection via EVENT-TIME
    * TIMERS — the monitoring primitive aggregation can't express (an
    * absence fires no row to aggregate; only a timer can speak for a
    * silent key): each batch re-arms one timer at last-seen + gap, and
    * when the WATERMARK passes it unanswered, `handleExpiredTimer`
    * emits the alert. Covers the one `transformWithState` surface the
    * suite didn't yet exercise (registerTimer / deleteTimer /
    * handleExpiredTimer, TimeMode.EventTime). State per key: one long
    * + one timer. */
  private class HeartbeatProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, GapAlert] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var lastSeen: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      // deliberately un-TTL'd: event-time timers (this processor's whole
      // point) exclude the processing-time TTL the shared conf implies;
      // state is one long + one self-cleaning timer per key
      lastSeen = getHandle.getValueState[Long](
        "last", E.scalaLong, org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[GapAlert] = {
      val batchMax = rows.map(_.ts.getTime).max
      val seen = if (lastSeen.exists()) math.max(lastSeen.get(), batchMax) else batchMax
      lastSeen.update(seen)
      // re-arm: exactly one pending timer per key
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(seen + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long,
        timers: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[GapAlert] =
      Iterator(GapAlert(key, lastSeen.get()))
  }

  /** Requires the RocksDB state store; input must carry a watermark on
    * `ts` (event-time timers fire against the watermark). */
  def heartbeatGaps(events: Dataset[Event], gapMs: Long): Dataset[GapAlert] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "0 seconds")
      .groupByKey(_.userId)
      .transformWithState(new HeartbeatProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** One per-sample rate emission from the streaming counter-delta op. */
  case class RateOut(userId: Long, ts: java.sql.Timestamp, ratePerSec: Double)

  /** s_stream_rate: cumulative counter → per-interval rate AT INGEST —
    * the literal telemetry-collector core loop (a `pg_stat`-class
    * poller ships cumulative counters; the rate must be computed
    * against the PREVIOUS poll, which lives across micro-batches):
    * per-key ValueState holds (last µs, last value); each sample emits
    * Δv/Δt against it, with the counter-RESET rule (v < prev → the
    * counter restarted, increase = v) mirrored from the batch
    * `q_ts_counter_reset`/`q_ts_irate` semantics. State is O(keys) ×
    * 16 bytes forever — the minimum any cross-batch delta needs. */
  private class CounterRateProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, RateOut] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var last: org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      last = getHandle.getValueState[(Long, Double)](
        "last", E.tuple(E.scalaLong, E.scalaDouble),
        ttlConf(ttlMs))

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[RateOut] = {
      var prev: Option[(Long, Double)] = if (last.exists()) Some(last.get()) else None
      val out = Seq.newBuilder[RateOut]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.eventId)).foreach { e =>
        val us = toMicros(e.ts)
        prev match {
          case Some((pUs, pV)) =>
            if (us > pUs) {
              val inc = if (e.value < pV) e.value else e.value - pV // reset rule
              out += RateOut(key, e.ts, inc / ((us - pUs) / 1e6))
              prev = Some((us, e.value))
            }
            // else: a LATE sample at-or-before the stored timestamp —
            // ignore it entirely. Advancing state here would rewind
            // last-seen backwards and make the next in-order sample
            // double-count the increase.
          case None => // first sample ever: prime state, no rate yet
            prev = Some((us, e.value))
        }
      }
      prev.foreach(last.update)
      out.result().iterator
    }
  }

  /** Requires the RocksDB state store, like [[highWaterMarks]]. */
  def streamingRates(events: Dataset[Event]): Dataset[RateOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .transformWithState(new CounterRateProcessor(stateTtlMs(events)),
        ttlMode(events),
        OutputMode.Append())
  }

  /** Streaming percentile readout per event type. */
  case class QuantileOut(eventType: String, n: Long, p50: Double, p95: Double)

  /** s_stream_quantile: running p50/p95 per event type with BOUNDED
    * state — the GK quantile sketch ([[graft.functions
    * .QuantileSketchUtil]], the same kernel as the batch
    * `a_agg_quantile_partial`) lives in a per-key ValueState as its
    * serialized blob: O(1/ε · log εN) summary entries per key forever,
    * where exact streaming percentiles would buffer every value. Each
    * micro-batch inserts its rows, re-serializes (which compresses),
    * and emits the updated estimates — batch/stream parity for the
    * sketch family, like the minhash index is for dedup. */
  private class QuantileProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Event, QuantileOut] {
    import org.apache.spark.sql.{Encoders => E}
    import graft.functions.QuantileSketchUtil
    @transient private var sk: org.apache.spark.sql.streaming.ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sk = getHandle.getValueState[Array[Byte]](
        "sk", E.BINARY, ttlConf(ttlMs))

    override def handleInputRows(key: String, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[QuantileOut] = {
      val buf = if (sk.exists()) QuantileSketchUtil.deser(sk.get())
                else QuantileSketchUtil.empty(0.01)
      rows.foreach(e => buf.qs = buf.qs.insert(e.value))
      val blob = QuantileSketchUtil.ser(buf) // compresses as a side effect
      sk.update(blob)
      Iterator(QuantileOut(key, buf.qs.count,
        QuantileSketchUtil.queryBlob(blob, 0.5),
        QuantileSketchUtil.queryBlob(blob, 0.95)))
    }
  }

  /** Requires the RocksDB state store, like [[highWaterMarks]]. */
  def streamingQuantiles(events: Dataset[Event]): Dataset[QuantileOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.eventType)
      .transformWithState(new QuantileProcessor(stateTtlMs(events)),
        ttlMode(events),
        OutputMode.Update())
  }

  /** One cell-assigned vector entering the standing semantic index. */
  case class CellVec(cell: Int, vecId: Long, v: Array[Double], nrm: Double)

  /** A kept (index-resident) vector in cell state. */
  case class KeptVec(vecId: Long, v: Array[Double], nrm: Double)

  /** A semantic drop verdict: `vecId` is a near-dup of the earlier-kept
    * `keptFor` (the lowest-id match, the batch op's rule) at exact
    * cosine `sim` (max over matches, rounded 1e-4). */
  case class SemDrop(vecId: Long, keptFor: Long, sim: Double)

  /** s_stream_semantic_index: STREAMING SemDeDup — the online twin of
    * the batch `a_dedup_semantic`, closing batch/stream parity for the
    * embedding-dedup family. Vectors are assigned to a k-means cell by
    * the same codegen `graft_ivf_cells` kernel against a PRE-TRAINED
    * centroid matrix (the production shape: the quantizer is trained
    * offline on a corpus snapshot — [[graft.ops.Vectors.kmeansCentroids]]
    * — and streams assign against it); `transformWithState` then keeps
    * each cell's KEPT vectors in RocksDB ListState. An arriving vector
    * with exact cosine ≥ τ to any standing keeper is DROPPED (emitted
    * with the lowest-id match and the max similarity — the batch op's
    * deterministic verdict) and never enters state; otherwise it joins
    * the index. Cross-micro-batch by construction: a near-dup in batch
    * N is flagged against a keeper from batch N−k.
    *
    * State per cell is O(keepers × dim) and keepers are bounded by the
    * cell's distinct-content volume (duplicates never enter), the same
    * bounded-state story as the minhash index; top-1 assignment (the
    * streaming regime is the high-τ SemDeDup design point where
    * same-cell recall is the published trade — the batch op's 4-probe
    * widening exists for low-τ screens). Replay idempotence: keepers
    * re-arriving are skipped; a replayed drop re-emits the identical
    * verdict (sink dedup by vecId, the minhash-index contract). */
  def semanticIndexDedup(vecs: DataFrame, cents: Array[Array[Double]],
                         tau: Double = 0.4): Dataset[SemDrop] = {
    import vecs.sparkSession.implicits._
    // Per-cell keeper CAP (round-10 verdict #6): cell state is
    // O(keepers × dim), bounded only by the dedup property itself — a
    // pathological all-unique stream (adversarial content, a broken
    // upstream encoder emitting noise vectors) would grow RocksDB
    // without bound. Past the cap a novel vector is still passed
    // through (it is KEPT — only drops are emitted) but no longer
    // ENTERS the index, so later near-dups of post-cap keepers go
    // unflagged: the documented recall consequence, the same trade the
    // batch op's cluster-size target makes. 8192 keepers × 64 dims ×
    // 8 B ≈ 4 MiB of cell state at the default — bounded regardless
    // of stream content. Conf: graft.stream.semantic.maxKeepers,
    // read at query build (the stream's processor is constructed once).
    val maxKeepers = vecs.sparkSession.conf
      .getOption("graft.stream.semantic.maxKeepers")
      .map(_.toInt).getOrElse(8192)
    val dv = transform(col("embedding"), e => e.cast("double"))
    vecs.select(
        graft.functions.VectorExpressions.ivfCells(dv, cents, 1).getItem(0).as("cell"),
        col("vec_id").as("vecId"), dv.as("v"),
        sqrt(aggregate(transform(dv, x => x * x), lit(0.0), (a, x) => a + x)).as("nrm"))
      .as[CellVec]
      .groupByKey(_.cell)
      .transformWithState(new SemanticIndexProcessor(tau, maxKeepers, stateTtlMs(vecs)),
        ttlMode(vecs),
        OutputMode.Append())
  }

  private class SemanticIndexProcessor(tau: Double, maxKeepers: Int, ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Int, CellVec, SemDrop] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var kept: org.apache.spark.sql.streaming.ListState[KeptVec] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      kept = getHandle.getListState[KeptVec](
        "kept", E.product[KeptVec], ttlConf(ttlMs))

    override def handleInputRows(key: Int, rows: Iterator[CellVec],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[SemDrop] = {
      val stored = scala.collection.mutable.ArrayBuffer.empty[KeptVec]
      if (kept.exists()) kept.get().foreach(stored += _)
      val out = Seq.newBuilder[SemDrop]
      // grouping is guaranteed, intra-key order is not — sort by vecId
      // so in-batch verdicts are deterministic
      rows.toSeq.sortBy(_.vecId).foreach { d =>
        if (!stored.exists(_.vecId == d.vecId)) { // keeper replay = no-op
          var bestSim = -1.0
          var keptFor = Long.MaxValue
          stored.foreach { s =>
            var dot = 0.0
            var i = 0
            while (i < d.v.length) { dot += d.v(i) * s.v(i); i += 1 }
            val sim = dot / (d.nrm * s.nrm)
            if (sim >= tau) {
              if (sim > bestSim) bestSim = sim
              if (s.vecId < keptFor) keptFor = s.vecId
            }
          }
          if (keptFor != Long.MaxValue)
            out += SemDrop(d.vecId, keptFor, math.floor(bestSim * 1e4 + 0.5) / 1e4)
          else if (stored.length < maxKeepers) {
            stored += KeptVec(d.vecId, d.v, d.nrm)
            kept.appendValue(KeptVec(d.vecId, d.v, d.nrm))
          }
          // else: cell at keeper capacity — the vector passes through
          // unindexed (kept but unprotected against later near-dups);
          // state stays bounded at maxKeepers × dim per cell
        }
      }
      out.result().iterator
    }
  }

  /** One banded signature row entering the standing LSH index. */
  case class BandDoc(key: Long, docId: Long, sig: Array[Long])

  /** An indexed signature held in band-bucket state. */
  case class IndexedSig(docId: Long, sig: Array[Long])

  /** A flagged near-dup: `aId` < `bId`, `nAgree` of 32 minhashes equal
    * (agreement/32 is the unbiased Jaccard estimate). */
  case class DupHit(aId: Long, bId: Long, nAgree: Int)

  /** s_stream_minhash_index: the band-bucket keyed state — every doc's
    * full 32-hash signature is appended to its 16 band buckets; an
    * arriving doc compares against the bucket's standing members, so a
    * near-dup is flagged across micro-batches (batch N vs batch N−k).
    *
    * Bucket state is BOUNDED (round-11 verdict #2, the
    * `graft.stream.semantic.maxKeepers` treatment): at most
    * `maxMembers` signatures per band bucket — a hot bucket (exactly
    * what boilerplate template families produce) stops growing RocksDB
    * and keeps the per-arrival compare O(maxMembers), not
    * O(|bucket|²)-per-batch. A post-cap arrival still VERIFIES against
    * the standing members (dups of indexed docs keep flagging) but is
    * not indexed itself — the documented recall trade: a LATER dup of
    * a post-cap doc goes unflagged in that bucket (the doc's 15 other
    * bands each get their own shot, so full misses need all 16 buckets
    * hot). Replay idempotence rides a docId hash-set probe (O(1),
    * replacing the linear `exists` scan); a production deployment over
    * an open-ended corpus additionally adds TTLConfig to age out cold
    * docs — same trade declared on [[HighWaterProcessor]]. */
  private class MinhashIndexProcessor(minAgree: Int, maxMembers: Int, ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, BandDoc, DupHit] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var index: org.apache.spark.sql.streaming.ListState[IndexedSig] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      index = getHandle.getListState[IndexedSig](
        "sigs", E.product[IndexedSig], ttlConf(ttlMs))

    override def handleInputRows(key: Long, rows: Iterator[BandDoc],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[DupHit] = {
      val stored = scala.collection.mutable.ArrayBuffer.empty[IndexedSig]
      if (index.exists()) index.get().foreach(stored += _)
      val seen = scala.collection.mutable.HashSet.empty[Long]
      stored.foreach(seen += _.docId)
      val out = Seq.newBuilder[DupHit]
      // grouping is guaranteed, intra-key order is not — sort by docId
      // so in-batch pair emission is deterministic
      rows.toSeq.sortBy(_.docId).foreach { d =>
        if (!seen.contains(d.docId)) { // idempotent on replay, O(1) probe
          stored.foreach { s =>
            var agree = 0
            var i = 0
            while (i < d.sig.length) { if (d.sig(i) == s.sig(i)) agree += 1; i += 1 }
            if (agree >= minAgree)
              out += DupHit(math.min(d.docId, s.docId),
                            math.max(d.docId, s.docId), agree)
          }
          seen += d.docId
          if (stored.length < maxMembers) {
            stored += IndexedSig(d.docId, d.sig)
            index.appendValue(IndexedSig(d.docId, d.sig))
          }
          // else: bucket at member capacity — verified above, passes
          // through unindexed; state stays ≤ maxMembers × 32 longs
        }
      }
      out.result().iterator
    }
  }

  /** s_stream_minhash_index: STREAMING near-dup detection against a
    * standing LSH index — the streaming twin of the batch
    * `a_dedup_minhash`, closing batch/stream parity for the dedup
    * family. Same signature scheme as the batch op (32 murmur3-affine
    * minhashes, 16 bands × 2 rows, band key = xxhash64(band, sig…));
    * the DataFrame pre-stage computes signatures with codegen'd column
    * functions, then `transformWithState` keeps each band bucket's
    * member signatures in RocksDB ListState. A colliding pair is
    * verified by signature agreement (≥ `minAgree` of 32 — the
    * estimated-Jaccard cut), so output needs no second pass over text.
    * A pair colliding in several bands emits per band — downstream
    * dedup is one `distinct` in the sink (same contract as the batch
    * op's candidate stage). Band buckets are capped at
    * `graft.stream.minhash.maxMembers` standing signatures (default
    * 256 ≈ 64 KB/bucket; see [[MinhashIndexProcessor]] for the
    * post-cap recall trade). Requires the RocksDB state store, like
    * [[highWaterMarks]]. */
  def minhashIndexDedup(docs: DataFrame, minAgree: Int = 16): Dataset[DupHit] = {
    import docs.sparkSession.implicits._
    val maxMembers = docs.sparkSession.conf
      .getOption("graft.stream.minhash.maxMembers").map(_.toInt).getOrElse(256)
    val nHashes = 32
    val rowsPerBand = 2
    val prime = 2147483647L
    val tk = array_distinct(split(lower(col("text")), " "))
    val sigs: Seq[Column] = (0 until nHashes).map { i =>
      val a = 2L * i + 1; val b = 104729L * (i + 1)
      array_min(transform(tk,
        t => pmod(hash(t).cast("long") * a + b, lit(prime))))
    }
    val bands: Column = array((0 until nHashes / rowsPerBand).map { j =>
      xxhash64((lit(j) +: sigs.slice(j * rowsPerBand, (j + 1) * rowsPerBand)): _*)
    }: _*)
    docs.select(explode(bands).as("key"), col("doc_id").as("docId"),
                array(sigs: _*).as("sig"))
      .as[BandDoc]
      .groupByKey(_.key)
      .transformWithState(new MinhashIndexProcessor(minAgree, maxMembers, stateTtlMs(docs)),
        ttlMode(docs),
        OutputMode.Append())
  }

  /** One exploded line entering the standing line index. The line key
    * is 120 bits of the line's md5 (two 60-bit longs from hex chars
    * 1–15 / 16–30) — the batch twin `q_text_line_dedup` keys on the
    * full 128-bit md5, and at the documented corpus scale (state is
    * O(distinct lines), 10⁹+ lines) a 64-bit key's birthday collisions
    * would flag false dups and DROP UNIQUE LINES; 120 bits puts the
    * collision posture back at the batch op's (≈n²/2¹²¹). */
  case class LineRow(k1: Long, k2: Long, docId: Long, lineId: Long)

  /** First-occurrence record held per line hash. */
  case class FirstSeen(docId: Long, lineId: Long)

  /** A corpus-duplicated line occurrence: (docId, lineId) repeats a
    * line first seen at (firstDocId, firstLineId). */
  case class LineDup(docId: Long, lineId: Long,
                     firstDocId: Long, firstLineId: Long)

  /** Keyed by line hash; ValueState holds the first occurrence ever
    * seen, every later occurrence emits a dup hit. Replay contract
    * (narrowed per round-11 ADVICE): the KEEPER never flags itself —
    * the (docId, lineId) equality check — so replaying the keeper's
    * batch is a state no-op; dup OCCURRENCES in a replayed batch
    * re-emit their hits (downstream dedup is one `distinct`, the same
    * sink contract as [[MinhashIndexProcessor]]). */
  private class LineDedupProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[(Long, Long), LineRow, LineDup] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var first: org.apache.spark.sql.streaming.ValueState[FirstSeen] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      first = getHandle.getValueState[FirstSeen](
        "first", E.product[FirstSeen],
        ttlConf(ttlMs))

    override def handleInputRows(key: (Long, Long), rows: Iterator[LineRow],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[LineDup] = {
      var f = if (first.exists()) first.get() else null
      val out = Seq.newBuilder[LineDup]
      // grouping is guaranteed, intra-key order is not — (docId, lineId)
      // order makes the chosen first occurrence deterministic
      rows.toSeq.sortBy(r => (r.docId, r.lineId)).foreach { r =>
        if (f == null) { f = FirstSeen(r.docId, r.lineId); first.update(f) }
        else if (f.docId != r.docId || f.lineId != r.lineId)
          out += LineDup(r.docId, r.lineId, f.docId, f.lineId)
      }
      out.result().iterator
    }
  }

  /** s_stream_line_dedup: STREAMING line-level dedup against a standing
    * line-hash index — the streaming twin of `q_text_line_dedup`
    * (C4's "discard every line that occurs more than once in the
    * corpus" runs online at ingest: boilerplate seen in batch N−k must
    * flag batch N's copy). Same deterministic 8-token line slicing as
    * the batch op; each line's xxhash64 keys a RocksDB ValueState
    * holding its FIRST occurrence, and every later occurrence — within
    * a doc, across docs, or across micro-batches — emits a dup hit
    * carrying the keeper's coordinates. Only (120-bit md5 key, 2 ids)
    * crosses the shuffle; text never leaves the map side. State is
    * O(distinct lines); the explicit at-scale decision (round-11
    * verdict #2's lineDedupIndex rider): set
    * `graft.stream.lineDedup.ttlMs` to age out cold lines —
    * first-seen records past the TTL expire, so a re-arriving old line
    * is re-adopted as its own keeper instead of flagged (the recall
    * trade of any TTL'd exact index); unset = exact unbounded history.
    * TTL forces TimeMode.ProcessingTime, under which a
    * continuous-trigger query never quiesces (TTL bookkeeping counts
    * as work every poll) — run TTL'd deployments with
    * Trigger.AvailableNow or a real processing-time trigger interval.
    * Requires the RocksDB state store. */
  def lineDedupIndex(docs: DataFrame): Dataset[LineDup] = {
    import docs.sparkSession.implicits._
    val ttlMs = docs.sparkSession.conf
      .getOption("graft.stream.lineDedup.ttlMs").map(_.toLong).getOrElse(0L)
    val lh = md5(concat_ws(" ",
      slice(col("tk"), (col("start") + 1L).cast("int"), lit(8))))
    docs
      .select(col("doc_id").cast("long").as("docId"),
              split(col("text"), " ").as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
      .where(col("n") >= 1L)
      .select(col("docId"), col("tk"),
        posexplode(sequence(lit(0L), (expr("(n + 7) div 8") - 1L) * 8L, lit(8L)))
          .as(Seq("lineId", "start")))
      .select(
        conv(substring(lh, 1, 15), 16, 10).cast("long").as("k1"),
        conv(substring(lh, 16, 15), 16, 10).cast("long").as("k2"),
        col("docId"), col("lineId").cast("long").as("lineId"))
      .as[LineRow]
      .groupByKey(r => (r.k1, r.k2))
      .transformWithState(new LineDedupProcessor(ttlMs),
        if (ttlMs > 0) org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
        else org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** s_stream_cdc_upsert: streaming CDC MERGE — maintain a key→latest
    * snapshot on plain parquet across micro-batches (the streaming form
    * of `q_upsert_snapshot`, and the shape a warehouse sink's keyed
    * MERGE takes behind the [[BatchSink]] seam). Per batch: (1) the
    * batch collapses to its last change per key (`max_by` on the total
    * (ts, event_id) order — so a REPLAYED batch re-applies as a no-op,
    * which is the exactly-once story across sink retries), (2) FULL
    * OUTER join against the current snapshot; the update row wins
    * WHOLE-ROW when present (a presence marker, not per-column
    * coalesce — so an update legitimately carrying NULL in a column
    * sets NULL instead of resurrecting the old value, matching MERGE
    * semantics), (3) write to a temp dir and swap via a crash-safe
    * three-step (base → `_old`, tmp → base, delete `_old`) with
    * recovery at the next batch — a crash at any point leaves either
    * the old or the new snapshot intact, never neither. At scale the join shuffles on the key and
    * AQE broadcast-converts small change batches against the big base
    * (same plan as q_upsert_snapshot). */
  def cdcUpsert(changes: DataFrame, snapshotDir: String,
                checkpoint: String): DataStreamWriter[Row] = {
    val writer = new Sinks.ParquetWriter
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCdcBatch(batch, batchId, snapshotDir, writer)
      }
  }

  /** The batch-form merge `cdcUpsert` runs per micro-batch — public so
    * a batch backfill can apply the identical merge rule. */
  def applyCdcBatch(batch: DataFrame, batchId: Long, snapshotDir: String): Unit =
    applyCdcBatch(batch, batchId, snapshotDir, new Sinks.ParquetWriter)

  private def applyCdcBatch(batch: DataFrame, batchId: Long, snapshotDir: String,
                            writer: Sinks.ParquetWriter): Unit = {
    val dir = new java.io.File(snapshotDir)
    val old = new java.io.File(snapshotDir + "_old")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
      f.delete()
    }
    // Crash recovery BEFORE any read: a previous swap may have died
    // between its renames. base missing + _old present = died mid-swap
    // (restore the old snapshot; the checkpoint will replay that batch
    // against it); both present = died after commit, before cleanup
    // (the commit stands; just drop _old).
    if (!dir.exists() && old.exists())
      require(old.renameTo(dir), s"snapshot recovery failed: $old -> $dir")
    else if (old.exists()) rm(old)
    if (batch.isEmpty) return
    val s = batch.sparkSession
    val latest = batch.groupBy(col("user_id"))
      .agg(max_by(struct(col("ts"), col("event_id"), col("event_type"), col("value")),
                  struct(col("ts"), col("event_id"))).as("r"))
      .select(col("user_id"), col("r.ts").as("ts"), col("r.event_id").as("event_id"),
              col("r.event_type").as("event_type"), col("r.value").as("value"))
    val merged =
      if (dir.exists()) {
        val base = s.read.parquet(snapshotDir)
        // presence marker, not per-column coalesce: the update row wins
        // whole-row, so NULL-carrying updates set NULL (MERGE semantics)
        val upd = latest.withColumn("u_present", lit(true))
        val won = col("u_present").isNotNull
        base.alias("b").join(upd.alias("u"), Seq("user_id"), "full_outer")
          .select(col("user_id"),
            when(won, col("u.ts")).otherwise(col("b.ts")).as("ts"),
            when(won, col("u.event_id")).otherwise(col("b.event_id")).as("event_id"),
            when(won, col("u.event_type")).otherwise(col("b.event_type")).as("event_type"),
            when(won, col("u.value")).otherwise(col("b.value")).as("value"))
      } else latest
    // write-then-swap: the tmp write materializes the merge (which
    // still reads the old snapshot lazily) BEFORE the old dir goes
    // away; then the three-step swap above's counterpart — at every
    // point a complete snapshot exists as either `dir` or `_old`.
    val tmp = new java.io.File(snapshotDir + s"_tmp$batchId")
    writer.write(merged, tmp.getAbsoluteFile.getParent, tmp.getName, replace = true)
    if (dir.exists())
      require(dir.renameTo(old), s"snapshot swap failed: $dir -> $old")
    require(tmp.renameTo(dir), s"snapshot swap failed: $tmp -> $dir")
    rm(old) // crash here is healed by the recovery block next batch
  }

  /** Output of the streaming attribution: one row per purchase with
    * its attributed channel. */
  case class Attributed(userId: Long, eventId: Long, channel: String,
                        value: Double)

  /** Per-user last-touch memory: channel + its event-time micros. */
  case class TouchState(channel: String, tsMicros: Long)

  /** s_stream_attribution: per-user LAST-TOUCH conversion attribution —
    * the streaming twin of batch `q_ts_attribution`, same 7-day
    * lookback semantics: every click/view updates an O(1) per-user
    * ValueState (channel, event-time µs); every purchase emits the
    * remembered channel if it is within the lookback, else 'none'.
    * Where the batch form is a window pass over history, the stream
    * keeps ONLY the latest touch per user — state is 2 fields forever,
    * the shape that survives unbounded retention at 100 TB/day.
    * Intra-batch rows are processed in (ts, event_id) order so a
    * touch and a purchase landing in one micro-batch attribute
    * exactly as the batch window would. */
  private class AttributionProcessor(lookbackMicros: Long, ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, Attributed] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var touch: org.apache.spark.sql.streaming.ValueState[TouchState] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      touch = getHandle.getValueState[TouchState](
        "last_touch", E.product[TouchState],
        ttlConf(ttlMs))

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[Attributed] = {
      var st = if (touch.exists()) touch.get() else null
      val out = Seq.newBuilder[Attributed]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.eventId)).foreach { e =>
        val tMicros = toMicros(e.ts)
        e.eventType match {
          case "click" | "view" => st = TouchState(e.eventType, tMicros)
          case "purchase" =>
            val ch = if (st != null && tMicros - st.tsMicros <= lookbackMicros)
              st.channel else "none"
            out += Attributed(key, e.eventId, ch, e.value)
          case _ => ()
        }
      }
      if (st != null) touch.update(st)
      out.result().iterator
    }
  }

  /** Requires the RocksDB state store, like [[highWaterMarks]]. */
  def attribution(events: Dataset[Event],
                  lookbackMicros: Long = 604800000000L): Dataset[Attributed] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .transformWithState(new AttributionProcessor(lookbackMicros, stateTtlMs(events)),
        ttlMode(events),
        OutputMode.Append())
  }

  /** A CLOSED SCD2 version row: the run's state, its validity interval,
    * and how many events it compressed. */
  case class Scd2Closed(userId: Long, version: Long, state: String,
                        validFromUs: Long, validToUs: Long, nEvents: Long)

  /** The open run per user: O(1) state forever, like [[TouchState]]. */
  case class RunState(state: String, validFromUs: Long, version: Long,
                      nEvents: Long)

  /** s_stream_scd2: streaming SCD Type-2 history maintenance — the
    * streaming twin of batch `q_cdc_scd2`, same run-compression
    * semantics: per user, consecutive events with the same state
    * (event_type) extend the OPEN version held in a 4-field ValueState;
    * a state change CLOSES the version (emits it with
    * `valid_to_us` = the new state's start) and opens the next. Append
    * mode emits exactly the closed versions — the rows batch qCdcScd2
    * produces with a non-NULL `valid_to_us`; the open version is the
    * state itself, never re-emitted (exactly-once per version across
    * retries). Intra-batch rows replay in (ts, event_id) order so a
    * multi-change batch closes the same versions the batch window
    * would. State is O(1) per user regardless of history length — the
    * shape that survives unbounded retention. */
  private class Scd2Processor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, Scd2Closed] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var run: org.apache.spark.sql.streaming.ValueState[RunState] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      run = getHandle.getValueState[RunState](
        "open_run", E.product[RunState],
        ttlConf(ttlMs))

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[Scd2Closed] = {
      var st = if (run.exists()) run.get() else null
      val out = Seq.newBuilder[Scd2Closed]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.eventId)).foreach { e =>
        val t = toMicros(e.ts)
        if (st == null) st = RunState(e.eventType, t, 1L, 1L)
        else if (st.state == e.eventType) st = st.copy(nEvents = st.nEvents + 1)
        else {
          out += Scd2Closed(key, st.version, st.state, st.validFromUs, t, st.nEvents)
          st = RunState(e.eventType, t, st.version + 1, 1L)
        }
      }
      if (st != null) run.update(st)
      out.result().iterator
    }
  }

  /** One alert-routing decision: fired=true pages, fired=false was
    * suppressed as a flap of the running incident. */
  case class AlertDecision(userId: Long, eventId: Long, fired: Boolean)

  /** s_stream_alert_suppress: streaming quiet-period alert dedup — the
    * twin of batch `q_ts_alert_suppress`, same rule: an error pages
    * only when the same user's previous error is more than
    * `quietMicros` old; closer repeats are suppressed. The state is
    * ONE long per user (last error µs) — where the batch form lags
    * over history, the stream keeps only the newest timestamp, the
    * O(1)-forever shape. Intra-batch rows replay in (ts, event_id)
    * order so a burst landing in one micro-batch suppresses exactly as
    * the batch window would. */
  private class AlertSuppressProcessor(quietMicros: Long, ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, AlertDecision] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var lastUs: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      lastUs = getHandle.getValueState[Long](
        "last_error_us", E.scalaLong,
        ttlConf(ttlMs))

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[AlertDecision] = {
      var prev = if (lastUs.exists()) Some(lastUs.get()) else None
      val out = Seq.newBuilder[AlertDecision]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.eventId)).foreach { e =>
        if (e.eventType == "error") {
          val t = toMicros(e.ts)
          out += AlertDecision(key, e.eventId,
            prev.forall(p => t - p > quietMicros))
          prev = Some(t)
        }
      }
      prev.foreach(lastUs.update)
      out.result().iterator
    }
  }

  /** One observed inter-arrival gap on a (user, type) stream;
    * `overdue` flags a gap past the watchdog threshold. */
  case class GapObs(userId: Long, eventType: String, eventId: Long,
                    gapUs: Long, overdue: Boolean)

  /** s_stream_interarrival: per-(user, type) inter-arrival watchdog —
    * the streaming side of batch `q_ts_interarrival`: each arrival
    * after a stream's first emits the exact integer-µs gap from the
    * previous arrival, flagged `overdue` past the threshold (the
    * dying-producer early signal, live instead of retrospective).
    * State is ONE long per (user, type) stream — the newest arrival
    * µs — forever. The composite key rides the groupByKey tuple, so
    * per-user streams of different types never cross. */
  private class InterarrivalProcessor(thresholdMicros: Long, ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[(Long, String), Event, GapObs] {
    import org.apache.spark.sql.{Encoders => E}
    @transient private var lastUs: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      lastUs = getHandle.getValueState[Long](
        "last_arrival_us", E.scalaLong,
        ttlConf(ttlMs))

    override def handleInputRows(key: (Long, String), rows: Iterator[Event],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[GapObs] = {
      var prev = if (lastUs.exists()) Some(lastUs.get()) else None
      val out = Seq.newBuilder[GapObs]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.eventId)).foreach { e =>
        val t = toMicros(e.ts)
        prev.foreach { p =>
          out += GapObs(key._1, key._2, e.eventId, t - p, t - p > thresholdMicros)
        }
        prev = Some(t)
      }
      prev.foreach(lastUs.update)
      out.result().iterator
    }
  }

  /** Requires the RocksDB state store, like [[highWaterMarks]]. */
  def interarrival(events: Dataset[Event],
                   thresholdMicros: Long = 1800L * 1000000L): Dataset[GapObs] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.userId, e.eventType))
      .transformWithState(new InterarrivalProcessor(thresholdMicros, stateTtlMs(events)),
        ttlMode(events),
        OutputMode.Append())
  }

  /** Requires the RocksDB state store, like [[highWaterMarks]]. */
  def alertSuppress(events: Dataset[Event],
                    quietMicros: Long = 1800L * 1000000L): Dataset[AlertDecision] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .transformWithState(new AlertSuppressProcessor(quietMicros, stateTtlMs(events)),
        ttlMode(events),
        OutputMode.Append())
  }

  /** Requires the RocksDB state store, like [[highWaterMarks]]. */
  def scd2(events: Dataset[Event]): Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .transformWithState(new Scd2Processor(stateTtlMs(events)),
        ttlMode(events),
        OutputMode.Append())
  }
}
