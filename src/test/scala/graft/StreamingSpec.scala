package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.stream.StreamOps
import graft.stream.StreamOps.Event

/** §2.10 streaming capabilities, MemoryStream-driven (§5.2(4)). Each
  * test runs micro-batches with processAllAvailable so results are
  * deterministic.
  *
  * The WHOLE suite runs under the RocksDB state store provider
  * (beforeAll): the default HDFS-backed provider keeps every key's
  * state on-heap, which at 100 TB key cardinalities is the streaming
  * scale-killer — RocksDB spills to local disk with bounded heap. The
  * rocksdbjni jar ships in /opt/spark/jars, so this is the deployment
  * configuration, proven across all streaming tests, not just the
  * transformWithState family that REQUIRES it. */
class StreamingSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private var prevProvider: Option[String] = None
  override protected def beforeAll(): Unit = {
    super.beforeAll()
    prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }
  override protected def afterAll(): Unit = {
    prevProvider match {
      case Some(p) => spark.conf.set(providerKey, p)
      case None => spark.conf.unset(providerKey)
    }
    super.afterAll()
  }

  private def ts(minutes: Long): Timestamp =
    new Timestamp(1704067200000L + minutes * 60000L) // 2024-01-01 00:00 UTC

  /** Rename the Encoder's camelCase columns to the production snake_case schema. */
  private def snake(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.toDF("event_id", "ts", "user_id", "event_type", "value")

  private def ev(id: Long, min: Long, user: Long = 1, typ: String = "click",
                 value: Double = 1.0): Event =
    Event(id, ts(min), user, typ, value)

  /** Marker for tests whose operator REQUIRES RocksDB
    * (transformWithState's only supported provider). The provider is
    * suite-wide now (beforeAll); the wrapper stays as the explicit
    * requirement marker. */
  private def withRocksDB(body: => Unit): Unit = body

  test("s_stream_tumbling_wm: watermark drops late rows, windows finalize") {
    import spark.implicits._
    val in = MemoryStream[Event](spark)
    val q = StreamOps.tumblingCounts(snake(in.toDF()))
      .writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 5), ev(2, 20), ev(3, 65))     // wm -> 55min
      q.processAllAvailable()
      in.addData(ev(4, 130))                          // wm -> 120min: hour-0 finalizes
      q.processAllAvailable()
      in.addData(ev(5, 10))                           // LATE: behind watermark, dropped
      in.addData(ev(6, 200))                          // wm advances: hour-1,2 finalize
      q.processAllAvailable()
      in.addData(ev(7, 300))
      q.processAllAvailable()
      val rows = spark.table("tumbling").collect()
        .map(r => (r.getTimestamp(0).getTime / 60000 - 1704067200000L / 60000, r.getLong(2)))
        .toMap
      assert(rows(0L) == 2, s"hour-0 must count 2 (late row dropped): $rows")
      assert(rows(60L) == 1 && rows(120L) == 1)
    } finally q.stop()
  }

  test("s_stream_histogram: per-hour bucket counters match the batch bucketing") {
    import spark.implicits._
    val in = MemoryStream[Event](spark)
    val q = StreamOps.streamingHistogram(snake(in.toDF()))
      .writeStream.format("memory").queryName("shist")
      .outputMode(OutputMode.Append).start()
    try {
      // hour 0: values 10 (bucket 0), 60 (bucket 1), 750 (bucket 15
      // CLAMPED to 9 — overflow value actually exercises the clamp)
      in.addData(ev(1, 5, value = 10.0), ev(2, 20, value = 60.0),
                 ev(3, 40, value = 750.0))
      q.processAllAvailable()
      in.addData(ev(4, 130))   // watermark past hour 0: it finalizes
      q.processAllAvailable()
      val rows = spark.table("shist").collect()
        .filter(_.getTimestamp(0).getTime == 1704067200000L)
        .map(r => (r.getLong(1), r.getLong(2))).toMap
      assert(rows == Map(0L -> 1L, 1L -> 1L, 9L -> 1L),
             s"hour-0 buckets must be {0,1,9} with 750 clamped to 9: $rows")
    } finally q.stop()
  }

  test("s_stream_slo_burn: hourly burn rate finalizes with exact integer flag") {
    import spark.implicits._
    val in = MemoryStream[Event](spark)
    val q = StreamOps.sloBurn(snake(in.toDF()))
      .writeStream.format("memory").queryName("sloburn")
      .outputMode(OutputMode.Append).start()
    try {
      // hour 0: 3 events, 1 error -> 33.3% error rate, burning
      in.addData(ev(1, 5), ev(2, 20, typ = "error"), ev(3, 40))
      q.processAllAvailable()
      in.addData(ev(4, 130))   // watermark past hour 0: it finalizes
      q.processAllAvailable()
      val rows = spark.table("sloburn").collect()
        .map(r => (r.getTimestamp(0).getTime, (r.getLong(1), r.getLong(2), r.getLong(4))))
        .toMap
      val hour0 = rows(1704067200000L)
      assert(hour0 == ((3L, 1L, 1L)), s"hour-0 must be 3 events / 1 err / burning: $rows")
    } finally q.stop()
  }

  test("s_stream_sliding: 1h window sliding 15min assigns a row to 4 windows") {
    import spark.implicits._
    val in = MemoryStream[Event](spark)
    val q = StreamOps.slidingCounts(snake(in.toDF()))
      .writeStream.format("memory").queryName("sliding")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(ev(1, 60))
      q.processAllAvailable()
      val n = spark.table("sliding").count()
      assert(n == 4, s"one event must fall in 4 sliding windows, got $n")
    } finally q.stop()
  }

  test("s_stream_session: 30min gap merges close events, splits far ones") {
    import spark.implicits._
    val in = MemoryStream[Event](spark)
    val q = StreamOps.sessionCounts(snake(in.toDF()))
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(ev(1, 0), ev(2, 10), ev(3, 20),      // one session (gaps 10min)
                 ev(4, 120), ev(5, 125))              // second session (gap 100min)
      q.processAllAvailable()
      val sessions = spark.table("sessions").collect()
      assert(sessions.length == 2, s"expected 2 sessions: ${sessions.mkString}")
      assert(sessions.map(_.getLong(3)).sorted.sameElements(Array(2L, 3L)))
    } finally q.stop()
  }

  test("s_stream_dedup: duplicate event ids within watermark collapse") {
    import spark.implicits._
    val in = MemoryStream[Event](spark)
    val q = StreamOps.dedupWithinWatermark(snake(in.toDF()))
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 0), ev(1, 1), ev(2, 2))        // id 1 duplicated
      q.processAllAvailable()
      in.addData(ev(1, 3), ev(3, 4))                  // id 1 again within wm
      q.processAllAvailable()
      assert(spark.table("dedup").select("event_id").collect()
        .map(_.getLong(0)).sorted.sameElements(Array(1L, 2L, 3L)))
    } finally q.stop()
  }

  test("s_stream_stateful: per-user running counter accumulates across batches") {
    import spark.implicits._
    val in = MemoryStream[Event](spark)
    val q = StreamOps.runningCounter(in.toDS())
      .writeStream.format("memory").queryName("counter")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(ev(1, 0, user = 7, value = 2.0), ev(2, 1, user = 7, value = 3.0))
      q.processAllAvailable()
      in.addData(ev(3, 2, user = 7, value = 5.0), ev(4, 2, user = 8, value = 1.0))
      q.processAllAvailable()
      val byBatch = spark.table("counter").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // user 7: first batch (2 events, 5.0), second batch (3 events, 10.0)
      assert(byBatch.contains((7L, 2L, 5.0)), s"got ${byBatch.mkString}")
      assert(byBatch.contains((7L, 3L, 10.0)))
      assert(byBatch.contains((8L, 1L, 1.0)))
    } finally q.stop()
  }

  test("s_stream_join: click attributes to impression within 30min, not beyond") {
    import spark.implicits._
    val imps = MemoryStream[Event](spark)
    val clks = MemoryStream[Event](spark)
    val q = StreamOps.intervalJoin(snake(imps.toDF()), snake(clks.toDF()))
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append).start()
    try {
      imps.addData(ev(100, 0, user = 1), ev(101, 0, user = 2))
      clks.addData(ev(200, 10, user = 1), // within 30min of imp 100 → joins
                   ev(201, 50, user = 2), // 50min after imp 101 → no join
                   ev(202, 5, user = 3))  // no impression → no join
      q.processAllAvailable()
      val pairs = spark.table("attrib").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((100L, 200L)), s"got $pairs")
    } finally q.stop()
  }

  test("s_stream_join_outer: unmatched impression emits with NULL click after watermark") {
    import spark.implicits._
    val imps = MemoryStream[Event](spark)
    val clks = MemoryStream[Event](spark)
    val q = StreamOps.intervalJoinOuter(snake(imps.toDF()), snake(clks.toDF()))
      .writeStream.format("memory").queryName("attrib_outer")
      .outputMode(OutputMode.Append).start()
    try {
      imps.addData(ev(100, 0, user = 1), ev(101, 0, user = 2))
      clks.addData(ev(200, 10, user = 1)) // matches imp 100; imp 101 unmatched
      q.processAllAvailable()
      // advance BOTH watermarks well past imp 101's join window
      // (0 + 30min) + 10min watermark: events at t=120min
      imps.addData(ev(102, 120, user = 9))
      clks.addData(ev(201, 120, user = 9))
      q.processAllAvailable()
      imps.addData(ev(103, 125, user = 9)) // one more batch to flush state
      q.processAllAvailable()
      val rows = spark.table("attrib_outer").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toMap
      assert(rows(100L) == 200L, s"matched pair must join: $rows")
      assert(rows.contains(101L) && rows(101L) == -1L,
             s"unmatched impression must emit with NULL click after watermark: $rows")
    } finally q.stop()
  }

  test("s_stream_anomaly: Welford z-score flags the spike, not the warmup") {
    import spark.implicits._
    withRocksDB {
      val in = MemoryStream[Event](spark)
      val q = StreamOps.streamingAnomalies(in.toDS())
        .writeStream.format("memory").queryName("anomaly")
        .outputMode(OutputMode.Append).start()
      try {
        // warmup: 6 values with small spread (sd > 0), all unflagged —
        // scoring needs n >= 5 priors
        in.addData(ev(1, 0, value = 10.0), ev(2, 1, value = 10.2),
                   ev(3, 2, value = 9.8), ev(4, 3, value = 10.1),
                   ev(5, 4, value = 9.9), ev(6, 5, value = 10.0))
        q.processAllAvailable()
        // spike far beyond 3 sigma of the warmup, then a normal point;
        // a second user still in warmup stays silent
        in.addData(ev(7, 6, value = 50.0), ev(8, 7, value = 10.0),
                   ev(9, 8, user = 2, value = 999.0))
        q.processAllAvailable()
        val rows = spark.table("anomaly").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(rows == Set((1L, 7L)), s"expected only the user-1 spike, got $rows")
      } finally q.stop()
    }
  }

  test("s_stream_funnel: per-user stage machine advances in order, skips none") {
    import spark.implicits._
    withRocksDB {
      val in = MemoryStream[Event](spark)
      val q = StreamOps.streamingFunnel(in.toDS())
        .writeStream.format("memory").queryName("sfunnel")
        .outputMode(OutputMode.Append).start()
      try {
        // user 1: purchase BEFORE reaching click must not advance; then
        // the proper ladder advances one stage per qualifying event,
        // across micro-batches (state carries between batches)
        in.addData(ev(1, 0, user = 1, typ = "signup"),
                   ev(2, 1, user = 1, typ = "purchase"), // stage 4 ≠ 1+1 — ignored
                   ev(3, 2, user = 1, typ = "view"))
        q.processAllAvailable()
        in.addData(ev(4, 3, user = 1, typ = "click"),
                   ev(5, 4, user = 1, typ = "purchase"),
                   ev(6, 5, user = 2, typ = "view"))     // no signup yet — ignored
        q.processAllAvailable()
        val rows = spark.table("sfunnel").collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSet
        assert(rows == Set((1L, 1), (1L, 2), (1L, 3), (1L, 4)),
               s"user 1 must advance 1→4 in order, user 2 never: $rows")
      } finally q.stop()
    }
  }

  test("s_stream_tws: transformWithState tracks per-user high-water marks") {
    import spark.implicits._
    withRocksDB {
      val in = MemoryStream[Event](spark)
      val q = StreamOps.highWaterMarks(in.toDS())
        .writeStream.format("memory").queryName("hwm")
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(ev(1, 0, user = 1, value = 5.0),
                   ev(2, 1, user = 1, value = 3.0),  // below max — no emit
                   ev(3, 2, user = 2, value = 1.0))
        q.processAllAvailable()
        in.addData(ev(4, 3, user = 1, value = 7.0),  // new max — emit
                   ev(5, 4, user = 2, value = 0.5))  // below — no emit
        q.processAllAvailable()
        val rows = spark.table("hwm").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSet
        assert(rows == Set((1L, 5.0), (2L, 1.0), (1L, 7.0)), s"got $rows")
      } finally q.stop()
    }
  }

  test("s_stream_topk: SpaceSaving state accumulates exact counts across batches") {
    import spark.implicits._
    withRocksDB {
      val in = MemoryStream[Event](spark)
      // capacity 8 > 3 distinct users -> the summary is EXACT here; the
      // point under test is cross-batch state carry + deterministic order
      val q = StreamOps.topkPerKey(in.toDS(), k = 2, capacity = 8)
        .writeStream.format("memory").queryName("sstopk")
        .outputMode(OutputMode.Update).start()
      try {
        in.addData(ev(1, 0, user = 1), ev(2, 1, user = 1), ev(3, 2, user = 2))
        q.processAllAvailable()
        in.addData(ev(4, 3, user = 2), ev(5, 4, user = 2), ev(6, 5, user = 3))
        q.processAllAvailable()
        // batch 2 snapshot: user 2 has 3 total, user 1 has 2
        val latest = spark.table("sstopk").collect()
          .map(r => (r.getString(1), r.getLong(2))).toSet
        assert(latest.contains(("2", 3L)), s"user 2 must show 3 cumulative, got $latest")
        assert(latest.contains(("1", 2L)), s"user 1 must show 2 cumulative, got $latest")
      } finally q.stop()
    }
  }

  test("s_stream_sma_crossover: bounded 20-sample state, crosses fire at exact transitions") {
    import spark.implicits._
    withRocksDB {
      val in = MemoryStream[Event](spark)
      val q = StreamOps.smaCrossover(in.toDS())
        .writeStream.format("memory").queryName("smacross")
        .outputMode(OutputMode.Append).start()
      try {
        // 19 flat + 1 flat (window fills, establishes side, no fire),
        // then a surge (golden), then a slump (death) — split across
        // batches so the ring buffer must survive the state store
        val flat = (1L to 20L).map(i => ev(i, i, value = 100.0))
        in.addData(flat: _*)
        q.processAllAvailable()
        in.addData(ev(21, 21, value = 300.0), ev(22, 22, value = 300.0))
        q.processAllAvailable()
        in.addData((23L to 30L).map(i => ev(i, i, value = 1.0)): _*)
        q.processAllAvailable()
        // replicate the exact fold
        val vals = Seq.fill(20)(10000L) ++ Seq(30000L, 30000L) ++ Seq.fill(8)(100L)
        var buf = Vector.empty[Long]; var prev = -1
        val exp = scala.collection.mutable.Map[Long, (Boolean, Boolean)]()
        vals.zipWithIndex.foreach { case (x, i) =>
          buf = (buf :+ x).takeRight(20)
          if (buf.size >= 20) {
            val above = if (4 * buf.takeRight(5).sum > buf.sum) 1 else 0
            exp(i + 1L) = (prev == 0 && above == 1, prev == 1 && above == 0)
            prev = above
          }
        }
        val rows = spark.table("smacross").collect()
          .map(r => (r.getLong(1), (r.getBoolean(2), r.getBoolean(3)))).toMap
        assert(rows == exp.toMap, s"got $rows expected $exp")
        assert(rows.values.count(_._1) == 1 && rows.values.count(_._2) == 1,
               "exactly one golden and one death cross in this series")
      } finally q.stop()
    }
  }

  test("s_stream_rsi: bounded 15-sample state, fixed-point parity with the direct fold across batches") {
    import spark.implicits._
    withRocksDB {
      val in = MemoryStream[Event](spark)
      val q = StreamOps.rsi(in.toDS())
        .writeStream.format("memory").queryName("srsi")
        .outputMode(OutputMode.Append).start()
      try {
        // ramp up (pure gains), then a choppy stretch, split across
        // batches so the ring must survive the state store
        val vals = (1 to 15).map(_ * 10.0) ++
          Seq(140.0, 160.0, 110.0, 110.5, 90.0, 200.0)
        in.addData(vals.take(15).zipWithIndex.map { case (v, i) =>
          ev(i + 1L, i.toLong, value = v) }: _*)
        q.processAllAvailable()
        in.addData(vals.drop(15).zipWithIndex.map { case (v, i) =>
          ev(i + 16L, i + 15L, value = v) }: _*)
        q.processAllAvailable()
        // replicate the exact fold
        var buf = Vector.empty[Long]
        val exp = scala.collection.mutable.Map[Long, Long]()
        vals.zipWithIndex.foreach { case (v, i) =>
          buf = (buf :+ math.floor(v * 100 + 0.5).toLong).takeRight(15)
          if (buf.size >= 15) {
            val d = buf.sliding(2).map(p => p(1) - p(0)).toSeq
            val g = d.filter(_ > 0).sum; val l = -d.filter(_ < 0).sum
            exp(i + 1L) = if (g + l > 0) (10000L * g) / (g + l) else 5000L
          }
        }
        val rows = spark.table("srsi").collect()
          .map(r => (r.getLong(1), r.getLong(2))).toMap
        assert(rows == exp.toMap, s"got $rows expected $exp")
        assert(rows(15L) == 10000L, "a pure-gain window must read RSI=100.00")
        assert(rows.values.exists(v => v > 0 && v < 10000L),
               "the choppy stretch must produce an interior RSI")
      } finally q.stop()
    }
  }

  test("s_stream_cusum: drift statistic floors at zero, alerts past budget, exact across batches") {
    import spark.implicits._
    withRocksDB {
      val in = MemoryStream[Event](spark)
      // target 100.00, budget 200.00 (1e-2 fixed point)
      val q = StreamOps.cusum(in.toDS(), targetFp = 10000L, threshFp = 20000L)
        .writeStream.format("memory").queryName("cusum")
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(ev(1, 0, value = 50.0),   // below target: floors at 0
                   ev(2, 1, value = 250.0))  // +150.00 -> S=15000
        q.processAllAvailable()
        in.addData(ev(3, 2, value = 180.0),  // +80.00 -> S=23000 (alert)
                   ev(4, 3, value = 40.0))   // -60.00 -> S=17000 (clears)
        q.processAllAvailable()
        val rows = spark.table("cusum").collect()
          .map(r => (r.getLong(1), (r.getLong(2), r.getBoolean(3)))).toMap
        assert(rows == Map(1L -> (0L, false), 2L -> (15000L, false),
                           3L -> (23000L, true), 4L -> (17000L, false)),
               s"got $rows")
      } finally q.stop()
    }
  }

  test("s_stream_holt: level+trend shift recursion exact across batches, batch-fold parity") {
    import spark.implicits._
    withRocksDB {
      val in = MemoryStream[Event](spark)
      val q = StreamOps.holt(in.toDS())
        .writeStream.format("memory").queryName("holt")
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(ev(1, 0, user = 1, value = 4.0),
                   ev(2, 1, user = 1, value = 2.0))
        q.processAllAvailable()
        in.addData(ev(3, 2, user = 1, value = 6.0),
                   ev(4, 3, user = 1, value = 1.5)) // x·1e4 exercises rounding
        q.processAllAvailable()
        // the EXACT batch-fold recursion (q_ts_holt): l'=(x+l+t)>>1,
        // t'=(l'-l+t)>>1, seeded (x0, 0) — replicated step by step so a
        // drifted stream implementation cannot agree with it
        def step(st: (Long, Long), x: Long): (Long, Long) = {
          val l2 = (x + st._1 + st._2) >> 1; (l2, (l2 - st._1 + st._2) >> 1)
        }
        var st = (40000L, 0L)
        val exp = scala.collection.mutable.Map(1L -> st)
        for ((id, x) <- Seq(2L -> 20000L, 3L -> 60000L, 4L -> 15000L)) {
          st = step(st, x); exp(id) = st
        }
        val rows = spark.table("holt").collect()
          .map(r => (r.getLong(1), (r.getLong(2), r.getLong(3)))).toMap
        assert(rows == exp.toMap, s"got $rows expected $exp")
      } finally q.stop()
    }
  }

  test("s_stream_holt_winters: seasonal shift recursion exact across batches and dow slots") {
    import spark.implicits._
    withRocksDB {
      val in = MemoryStream[Event](spark)
      val q = StreamOps.holtWinters(in.toDS())
        .writeStream.format("memory").queryName("hw")
        .outputMode(OutputMode.Append).start()
      try {
        // minutes chosen to span FOUR different epoch days (dow slots)
        in.addData(ev(1, 0, value = 4.0),
                   ev(2, 1440, value = 2.0))
        q.processAllAvailable()
        in.addData(ev(3, 2880, value = 6.0),
                   ev(4, 1440 * 8, value = 1.5)) // day 8 → same dow as day 1
        q.processAllAvailable()
        // the EXACT q_ts_holt_winters recursion, seeded (x0, 0, 0^7)
        val s = Array.fill(7)(0L)
        var (l, t) = (40000L, 0L)
        val base = Math.floorDiv(1704067200000L, 86400000L)
        def dowOf(min: Long) = ((base + min / 1440) % 7).toInt
        val exp = scala.collection.mutable.Map(1L -> ((l, t, s(dowOf(0)))))
        for ((id, min, x) <- Seq((2L, 1440L, 20000L), (3L, 2880L, 60000L),
                                 (4L, 1440L * 8, 15000L))) {
          val dow = dowOf(min)
          val l2 = (x - s(dow) + l + t) >> 1
          val t2 = (l2 - l + t) >> 1
          s(dow) = (x - l2 + s(dow)) >> 1
          l = l2; t = t2
          exp(id) = ((l, t, s(dow)))
        }
        val rows = spark.table("hw").collect()
          .map(r => (r.getLong(1), (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
        assert(rows == exp.toMap, s"got $rows expected $exp")
      } finally q.stop()
    }
  }

  test("s_stream_ewma: fixed-point recursion is exact within and across batches") {
    import spark.implicits._
    withRocksDB {
      val in = MemoryStream[Event](spark)
      val q = StreamOps.ewma(in.toDS())
        .writeStream.format("memory").queryName("ewma")
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(ev(1, 0, user = 1, value = 4.0),
                   ev(2, 1, user = 1, value = 2.0))
        q.processAllAvailable()
        in.addData(ev(3, 2, user = 1, value = 5.0))
        q.processAllAvailable()
        val rows = spark.table("ewma").collect()
          .map(r => (r.getLong(1), r.getDouble(2))).toMap
        // seed 4.0; (2+4)/2 = 3.0; (5+3)/2 = 4.0 — exact halving chain
        assert(rows == Map(1L -> 4.0, 2L -> 3.0, 3L -> 4.0), s"got $rows")
      } finally q.stop()
    }
  }

  test("s_stream_bloom_dedup: bounded-state dedup drops dups in and across batches") {
    import spark.implicits._
    withRocksDB {
      val in = MemoryStream[Event](spark)
      val q = StreamOps.bloomDedup(in.toDS())
        .writeStream.format("memory").queryName("bloomdedup")
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(ev(10, 0), ev(11, 1), ev(10, 2), // intra-batch dup id 10
                   ev(12, 3))
        q.processAllAvailable()
        in.addData(ev(11, 4), ev(12, 5),            // cross-batch dups
                   ev(13, 6))
        q.processAllAvailable()
        val ids = spark.table("bloomdedup").collect().map(_.getLong(0)).toSeq
        // no id emitted twice; at this load (4 ids, 2^15-bit blooms) the
        // fpp is ~0 so exactly the distinct set passes
        assert(ids.sorted == Seq(10L, 11L, 12L, 13L), s"got $ids")
      } finally q.stop()
    }
  }

  test("s_stream_cdc_upsert: snapshot holds the latest change per key across batches and replays") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    val snap = s"$tmp/snap"; val ckpt = s"$tmp/ckpt"
    val in = MemoryStream[Event](spark)
    val q = StreamOps.cdcUpsert(snake(in.toDF()), snap, ckpt).start()
    try {
      in.addData(ev(1, 0, user = 1, value = 1.0), ev(2, 1, user = 2, value = 2.0),
                 ev(3, 2, user = 1, value = 5.0)) // in-batch: later change wins
      q.processAllAvailable()
      in.addData(ev(4, 3, user = 1, value = 9.0), ev(5, 4, user = 3, value = 3.0))
      q.processAllAvailable()
      val out = spark.read.parquet(snap).orderBy("user_id").collect()
      assert(out.length == 3, "one row per key")
      assert(out(0).getAs[Double]("value") == 9.0, "user 1 updated by batch 2")
      assert(out(1).getAs[Double]("value") == 2.0, "user 2 untouched by batch 2")
      assert(out(2).getAs[Double]("value") == 3.0, "user 3 inserted by batch 2")
      // replay idempotence: re-applying batch 2's rows changes nothing
      StreamOps.applyCdcBatch(
        snake(Seq(ev(4, 3, user = 1, value = 9.0), ev(5, 4, user = 3, value = 3.0)).toDF()),
        99L, snap)
      val replayed = spark.read.parquet(snap).orderBy("user_id").collect()
      assert(replayed.map(_.getAs[Double]("value")).sameElements(Array(9.0, 2.0, 3.0)))
    } finally q.stop()
  }

  test("s_stream_cdc_upsert: crash-safe swap recovery + NULL-carrying update sets NULL") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_rec").toString
    val snap = s"$tmp/snap"
    StreamOps.applyCdcBatch(
      snake(Seq(ev(1, 0, user = 1, value = 1.0),
                ev(2, 1, user = 2, value = 2.0)).toDF()), 0L, snap)
    // simulate a crash between the swap's two renames: base moved
    // aside, the new snapshot never landed
    val dir = new java.io.File(snap)
    val old = new java.io.File(snap + "_old")
    assert(dir.renameTo(old), "test setup: move base aside")
    // the next batch must RESTORE the pre-crash snapshot before merging
    StreamOps.applyCdcBatch(
      snake(Seq(ev(3, 2, user = 3, value = 3.0)).toDF()), 1L, snap)
    val rows = spark.read.parquet(snap).orderBy("user_id").collect()
    assert(rows.length == 3, "recovery must preserve every pre-crash key")
    assert(rows(0).getAs[Double]("value") == 1.0 &&
           rows(1).getAs[Double]("value") == 2.0, "pre-crash values intact")
    assert(!old.exists(), "recovery artifacts cleaned up")
    // MERGE semantics: an update legitimately carrying NULL must SET
    // null, not resurrect the old value through a coalesce
    val nullUpd = Seq((99L, ts(10), 1L, "click", None: Option[Double]))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    StreamOps.applyCdcBatch(nullUpd, 2L, snap)
    val after = spark.read.parquet(snap).orderBy("user_id").collect()
    assert(after.length == 3)
    assert(after(0).isNullAt(after(0).fieldIndex("value")),
           "NULL-carrying update must set NULL (whole-row win, not coalesce)")
    assert(after(1).getAs[Double]("value") == 2.0 &&
           after(2).getAs[Double]("value") == 3.0, "untouched keys keep values")
  }

  test("s_stream_dsv2_source: the custom MicroBatchStream polls by offset ranges, exactly once") {
    val stream = spark.readStream.format("graft.sources.TelemetrySource")
      .option("series", "4").option("samples", "10")
      .option("samplesPerTrigger", "4")
      .load()
    val q = stream.writeStream.format("memory").queryName("tele_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("tele_stream")
      assert(rows.count() == 40, "4 series x 10 samples, each exactly once")
      assert(rows.select("sample_idx").distinct().count() == 10)
      assert(rows.select("series_id").distinct().count() == 4)
      // the 10-sample cap at 4 samples/trigger needs >= 3 micro-batches
      // — proves offsets advanced incrementally, not one big batch
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
             s"expected >=3 polls, got ${q.recentProgress.map(_.numInputRows).mkString(",")}")
    } finally q.stop()
  }

  test("s_stream_dsv2_source: restart restores the poll high-water mark from the checkpointed offset") {
    // Unit-level restart simulation against the public connector API:
    // a fresh MicroBatchStream (new JVM / query restart) replays the
    // offset log through deserializeOffset; latestOffset() afterwards
    // must resume ABOVE the checkpointed offset, never below it —
    // regressing would re-plan (duplicate) already-emitted ranges.
    import scala.jdk.CollectionConverters._
    val props = Map("series" -> "4", "samples" -> "10",
                    "samplesPerTrigger" -> "4")
    def newStream() = new graft.sources.TelemetrySource()
      .getTable(graft.sources.TelemetrySource.schema,
        Array.empty[org.apache.spark.sql.connector.expressions.Transform],
        new java.util.HashMap[String, String](props.asJava))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(props.asJava))
      .build().toMicroBatchStream("unused")
    val run1 = newStream()
    assert(run1.latestOffset().json().toLong == 4L)
    assert(run1.latestOffset().json().toLong == 8L) // checkpointed, then "crash"
    val run2 = newStream() // restart: engine replays the offset log
    run2.deserializeOffset("8")
    val resumed = run2.latestOffset().json().toLong
    assert(resumed >= 8L,
      s"latestOffset regressed to $resumed after restoring checkpoint 8 — would duplicate rows")
    assert(resumed == 10L, "next poll caps at nSamples")
  }

  test("s_stream_gap_detect: event-time timer fires for the silent key only") {
    withRocksDB {
      import spark.implicits._
      val in = MemoryStream[Event](spark)
      val q = StreamOps.heartbeatGaps(in.toDS(), gapMs = 5 * 60000L)
        .writeStream.format("memory").queryName("gap_out")
        .outputMode("append").start()
      try {
        in.addData(ev(1, 0, user = 1), ev(2, 0, user = 2))
        q.processAllAvailable()
        // user 1 keeps beating (re-arming its timer past the watermark);
        // user 2 goes silent — its t0+5min timer must fire once the
        // watermark (driven by user 1's events) passes it
        in.addData(ev(3, 4, user = 1))
        q.processAllAvailable()
        in.addData(ev(4, 10, user = 1))
        q.processAllAvailable()
        in.addData(ev(5, 12, user = 1))
        q.processAllAvailable()
        val alerts = spark.table("gap_out").collect()
        assert(alerts.map(_.getAs[Long]("userId")).toSet == Set(2L),
               s"exactly the silent key must alert, got ${alerts.mkString(",")}")
        assert(alerts.head.getAs[Long]("lastSeenMs") == ts(0).getTime,
               "alert must carry the key's last heartbeat")
      } finally q.stop()
    }
  }

  test("s_stream_rate: counter deltas computed against the PREVIOUS batch's sample, with reset rule") {
    withRocksDB {
      import spark.implicits._
      val in = MemoryStream[Event](spark)
      val q = StreamOps.streamingRates(in.toDS())
        .writeStream.format("memory").queryName("rate_out")
        .outputMode("append").start()
      try {
        in.addData(ev(1, 0, user = 7, value = 10.0), ev(2, 1, user = 7, value = 70.0))
        q.processAllAvailable()
        // batch 2: cross-batch delta (against batch 1's last sample),
        // then a counter reset (value drops)
        in.addData(ev(3, 2, user = 7, value = 130.0), ev(4, 3, user = 7, value = 10.0))
        q.processAllAvailable()
        val rates = spark.table("rate_out").orderBy("ts").collect()
          .map(_.getAs[Double]("ratePerSec"))
        assert(rates.length == 3, "first-ever sample emits no rate")
        assert(math.abs(rates(0) - 1.0) < 1e-9)  // (70-10)/60s
        assert(math.abs(rates(1) - 1.0) < 1e-9,  // (130-70)/60s — CROSS-BATCH
               "cross-batch delta must use the previous batch's state")
        assert(math.abs(rates(2) - 10.0 / 60) < 1e-9,
               "reset rule: value drop means increase = value itself")
        // batch 3: a LATE sample (ts before the stored last-seen) must
        // neither emit a rate nor rewind state — otherwise the next
        // in-order sample double-counts the increase
        in.addData(ev(5, 2, user = 7, value = 999.0))
        q.processAllAvailable()
        assert(spark.table("rate_out").count() == 3,
               "late sample must emit nothing")
        in.addData(ev(6, 4, user = 7, value = 70.0))
        q.processAllAvailable()
        val all = spark.table("rate_out").orderBy("ts").collect()
          .map(_.getAs[Double]("ratePerSec"))
        assert(all.length == 4)
        assert(math.abs(all(3) - 1.0) < 1e-9,  // (70-10)/60s vs min-3 state
               "in-order sample must delta against pre-late state, not the late sample")
      } finally q.stop()
    }
  }

  test("s_stream_quantile: GK-sketch state accumulates across batches within the rank bound") {
    withRocksDB {
      import spark.implicits._
      val in = MemoryStream[Event](spark)
      val q = StreamOps.streamingQuantiles(in.toDS())
        .writeStream.format("memory").queryName("sq_out")
        .outputMode("update").start()
      try {
        in.addData((1 to 100).map(i => ev(i, i, value = i.toDouble)): _*)
        q.processAllAvailable()
        in.addData((101 to 200).map(i => ev(i, i, value = i.toDouble)): _*)
        q.processAllAvailable()
        // latest emission covers BOTH batches (state carried across)
        val last = spark.table("sq_out").orderBy(org.apache.spark.sql.functions.desc("n"))
          .head()
        assert(last.getAs[Long]("n") == 200L, "sketch must span both batches")
        val eps = 0.01
        for ((phi, colName) <- Seq(0.5 -> "p50", 0.95 -> "p95")) {
          val est = last.getAs[Double](colName)
          val rank = (1 to 200).count(_ <= est) // values are exactly 1..200
          assert(math.abs(rank - phi * 200) <= eps * 200 + 1,
                 s"$colName=$est rank=$rank violates the GK bound")
        }
      } finally q.stop()
    }
  }

  test("s_stream_semantic_index: embedding near-dup in batch N dropped against a keeper from batch N-k") {
    withRocksDB {
      import spark.implicits._
      // quantizer trained offline (here: two orthogonal unit centroids)
      val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
      val base = Array(0.9f, 0.1f, 0.0f, 0.0f)          // cell 0 keeper
      val near = Array(0.88f, 0.12f, 0.01f, 0.0f)       // cos ~0.999 vs base
      val far  = Array(0.05f, 0.95f, 0.0f, 0.0f)        // cell 1 keeper
      val in = MemoryStream[(Long, Array[Float])](spark)
      val vecs = in.toDF().toDF("vec_id", "embedding")
      val drops = StreamOps.semanticIndexDedup(vecs, cents, tau = 0.9)
      val q = drops.writeStream.format("memory").queryName("sem_drops")
        .outputMode("append").start()
      try {
        in.addData((1L, base), (2L, far)) // batch 0: both become keepers
        q.processAllAvailable()
        assert(spark.table("sem_drops").count() == 0,
               "orthogonal-cell keepers must not drop each other")
        in.addData((3L, near)) // batch 1: near-dup of keeper 1 from batch 0
        q.processAllAvailable()
        val got = spark.table("sem_drops")
          .select("vecId", "keptFor").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == Set((3L, 1L)),
               s"expected cross-batch semantic drop (3 -> kept 1), got $got")
        val sim = spark.table("sem_drops")
          .agg(org.apache.spark.sql.functions.max("sim")).head.getDouble(0)
        assert(sim >= 0.99, s"exact cosine $sim implausibly low for a near-copy")
        // a dropped vector never becomes a keeper: another copy still
        // resolves against keeper 1, not against vec 3
        in.addData((4L, near))
        q.processAllAvailable()
        val again = spark.table("sem_drops").where("vecId = 4")
          .select("keptFor").head.getLong(0)
        assert(again == 1L, s"drop must resolve to the standing keeper, got $again")
      } finally q.stop()
    }
  }

  test("s_stream_semantic_index keeper cap: state stays bounded, post-cap vectors pass unindexed") {
    withRocksDB {
      import spark.implicits._
      // one cell so every vector contends for the same keeper list
      val cents = Array(Array(1.0, 0.0, 0.0, 0.0))
      // distinct directions, pairwise cosine < 0.9: all keeper-eligible
      val v1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
      val v2 = Array(0.0f, 1.0f, 0.0f, 0.0f)
      val v3 = Array(0.0f, 0.0f, 1.0f, 0.0f) // arrives at capacity → unindexed
      val nearV1 = Array(0.99f, 0.01f, 0.0f, 0.0f) // dup of an in-cap keeper
      val nearV3 = Array(0.01f, 0.0f, 0.99f, 0.0f) // dup of the UNindexed vector
      spark.conf.set("graft.stream.semantic.maxKeepers", "2")
      val in = MemoryStream[(Long, Array[Float])](spark)
      val drops = StreamOps.semanticIndexDedup(
        in.toDF().toDF("vec_id", "embedding"), cents, tau = 0.9)
      val q = drops.writeStream.format("memory").queryName("sem_cap_drops")
        .outputMode("append").start()
      try {
        in.addData((1L, v1), (2L, v2), (3L, v3))
        q.processAllAvailable()
        assert(spark.table("sem_cap_drops").count() == 0,
               "distinct directions must not drop each other")
        in.addData((4L, nearV1), (5L, nearV3))
        q.processAllAvailable()
        val got = spark.table("sem_cap_drops")
          .select("vecId", "keptFor").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        // 4 resolves against in-cap keeper 1; 5 passes UNflagged —
        // vec 3 arrived at capacity and never entered the index (the
        // documented recall consequence of the state bound)
        assert(got == Set((4L, 1L)),
               s"expected only the in-cap drop (4 -> 1), got $got")
      } finally {
        q.stop()
        spark.conf.unset("graft.stream.semantic.maxKeepers")
      }
    }
  }

  test("s_stream_minhash_index: near-dup in batch N flagged against a doc indexed in batch N-k") {
    withRocksDB {
      import spark.implicits._
      val base = "the quick brown fox jumps over the lazy dog near the old river bank " +
        "while rain falls softly on green meadows and distant hills fade into mist"
      val nearDup = base.replace("softly", "gently") // one-token edit → high Jaccard
      val unrelated = "completely different content about database engines sorting " +
        "columnar pages through vectorized execution kernels without any shared words"
      val in = MemoryStream[(Long, String)](spark)
      val docs = in.toDF().toDF("doc_id", "text")
      val hits = StreamOps.minhashIndexDedup(docs)
      val q = hits.writeStream.format("memory").queryName("mh_hits")
        .outputMode("append").start()
      try {
        in.addData((1L, base), (2L, unrelated)) // batch 0: index only
        q.processAllAvailable()
        assert(spark.table("mh_hits").count() == 0,
               "unrelated docs must not collide")
        in.addData((3L, nearDup)) // batch 1: must hit doc 1 from batch 0
        q.processAllAvailable()
        val found = spark.table("mh_hits")
          .select("aId", "bId").distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(found == Set((1L, 3L)),
               s"expected cross-batch near-dup (1,3) only, got $found")
        // agreement estimates the true Jaccard: a one-token edit keeps
        // most of the 32 minhashes equal
        val agree = spark.table("mh_hits")
          .agg(org.apache.spark.sql.functions.max("nAgree")).head.getInt(0)
        assert(agree >= 24, s"agreement $agree/32 implausibly low for a near-copy")
      } finally q.stop()
    }
  }

  test("s_stream_minhash_index member cap: post-cap docs verify but don't index; later dups of them go unflagged") {
    withRocksDB {
      import spark.implicits._
      val base = "the quick brown fox jumps over the lazy dog near the old river bank " +
        "while rain falls softly on green meadows and distant hills fade into mist"
      spark.conf.set("graft.stream.minhash.maxMembers", "2")
      val in = MemoryStream[(Long, String)](spark)
      val hits = StreamOps.minhashIndexDedup(in.toDF().toDF("doc_id", "text"))
      val q = hits.writeStream.format("memory").queryName("mh_cap_hits")
        .outputMode("append").start()
      try {
        def pairs(): Set[(Long, Long)] = spark.table("mh_cap_hits")
          .select("aId", "bId").distinct().collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        in.addData((1L, base)); q.processAllAvailable() // indexed (1/2)
        in.addData((2L, base)); q.processAllAvailable() // flags vs 1, indexed (2/2)
        assert(pairs() == Set((1L, 2L)))
        // doc 3 arrives at capacity: still VERIFIES against the
        // standing members (both flagged) but is not indexed
        in.addData((3L, base)); q.processAllAvailable()
        assert(pairs() == Set((1L, 2L), (1L, 3L), (2L, 3L)))
        // doc 4: flags vs the in-cap members 1 and 2 only — doc 3
        // never entered the index (the documented recall trade)
        in.addData((4L, base)); q.processAllAvailable()
        assert(pairs() == Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L)),
          "a post-cap doc must not act as a standing member")
      } finally {
        q.stop()
        spark.conf.unset("graft.stream.minhash.maxMembers")
      }
    }
  }

  test("s_stream_minhash_index hot bucket: output stays LINEAR in arrivals under the cap (one template family)") {
    withRocksDB {
      import spark.implicits._
      // one boilerplate template, n identical docs → every band bucket
      // is maximally hot. Under cap c the i-th arrival compares against
      // min(i−1, c) members, so distinct pairs = C(c+1,2) + c·(n−c−1):
      // LINEAR in n where the uncapped bucket produced n²/2.
      val tmpl = "subscribe to our newsletter for weekly updates and exclusive offers today " +
        "unsubscribe anytime from the link at the bottom of every message sent"
      val n = 300; val c = 4
      spark.conf.set("graft.stream.minhash.maxMembers", c.toString)
      val in = MemoryStream[(Long, String)](spark)
      val hits = StreamOps.minhashIndexDedup(in.toDF().toDF("doc_id", "text"))
      val q = hits.writeStream.format("memory").queryName("mh_hot_hits")
        .outputMode("append").start()
      try {
        in.addData((1L to n.toLong).map(i => (i, tmpl)): _*)
        q.processAllAvailable()
        val distinctPairs = spark.table("mh_hot_hits")
          .select("aId", "bId").distinct().count()
        val expected = c * (c + 1) / 2 + c * (n - c - 1)
        assert(distinctPairs == expected,
          s"hot bucket emitted $distinctPairs distinct pairs, expected the " +
            s"linear-in-n $expected (uncapped would be ${n.toLong * (n - 1) / 2})")
      } finally {
        q.stop()
        spark.conf.unset("graft.stream.minhash.maxMembers")
      }
    }
  }

  test("s_stream_line_dedup TTL conf: ProcessingTime TTL path plumbs (unexpired state behaves exactly)") {
    withRocksDB {
      import spark.implicits._
      // TTL'd state forces TimeMode.ProcessingTime, under which the
      // query never QUIESCES (TTL bookkeeping counts as pending work
      // every poll, so processAllAvailable would spin forever) — the
      // test polls the sink with a deadline instead, the shape a real
      // TTL'd deployment monitors with.
      val banner = "accept all cookies to continue reading this site"
      val bodyA = "columnar scan kernels prune row groups by zone"
      spark.conf.set("graft.stream.lineDedup.ttlMs", "3600000")
      val in = MemoryStream[(Long, String)](spark)
      val hits = StreamOps.lineDedupIndex(in.toDF().toDF("doc_id", "text"))
      val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
      val q = hits.toDF().writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = b.select("docId", "lineId", "firstDocId", "firstLineId")
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          buf.synchronized { buf ++= rows }; ()
        }
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
        .start()
      def await(cond: => Boolean, what: String): Unit = {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (!cond && System.nanoTime() < deadline) {
          if (q.exception.isDefined) throw q.exception.get
          Thread.sleep(200)
        }
        assert(cond, s"timed out waiting for $what")
      }
      try {
        in.addData((1L, s"$banner $bodyA"))
        // foreachBatch sinks report numOutputRows = -1 — wait on batch
        // progress itself, then assert no hit surfaced for the keeper
        await(q.lastProgress != null && q.lastProgress.batchId >= 0,
              "first batch to commit")
        assert(buf.synchronized(buf.isEmpty), "first occurrences must never flag")
        in.addData((2L, banner))
        await(buf.synchronized(buf.nonEmpty), "the dup hit to surface")
        val found = buf.synchronized(buf.toSet)
        assert(found == Set((2L, 0L, 1L, 0L)),
          s"within-TTL first-seen state must flag the later copy, got $found")
      } finally {
        q.stop()
        spark.conf.unset("graft.stream.lineDedup.ttlMs")
      }
    }
  }

  test("s_stream_line_dedup: boilerplate line indexed in batch N-k flags batch N's copy; keeper never flags itself") {
    withRocksDB {
      import spark.implicits._
      // 8-token "lines" per the batch op's slicing discipline
      val banner = "accept all cookies to continue reading this site"
      val bodyA = "columnar scan kernels prune row groups by zone"
      val bodyB = "watermark state expires after thirty minutes of idle"
      val in = MemoryStream[(Long, String)](spark)
      val docs = in.toDF().toDF("doc_id", "text")
      val hits = StreamOps.lineDedupIndex(docs)
      val q = hits.writeStream.format("memory").queryName("line_hits")
        .outputMode("append").start()
      try {
        in.addData((1L, s"$banner $bodyA")) // batch 0: index only
        q.processAllAvailable()
        assert(spark.table("line_hits").count() == 0,
               "first occurrences must never flag")
        // batch 1: doc 2 repeats the banner (line 0) and repeats its
        // own second line within the doc (lines 1 and 2 identical)
        in.addData((2L, s"$banner $bodyB $bodyB"))
        q.processAllAvailable()
        val found = spark.table("line_hits")
          .select("docId", "lineId", "firstDocId", "firstLineId").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        assert(found == Set((2L, 0L, 1L, 0L),   // cross-batch banner hit
                            (2L, 2L, 2L, 1L)),  // within-doc repeat
               s"expected banner + within-doc dup hits, got $found")
      } finally q.stop()
    }
  }

  test("s_stream_jdbc_sink: foreachBatch through JdbcAppendSink round-trips an embedded warehouse") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_jdbc").toString
    // Derby embedded — a real JDBC database in this JVM (ships with
    // Spark for the Hive metastore), standing in for the deployment's
    // ClickHouse/Postgres URL on the SAME code path: Spark's JDBC
    // writer fans out per partition, the sink only binds url+table.
    val url = s"jdbc:derby:$tmp/db;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    val in = MemoryStream[Event](spark)
    val sink = new graft.stream.JdbcAppendSink(url, "events_sink",
      Map("driver" -> driver))
    val q = graft.stream.Sinks.sinkTo(snake(in.toDF()), sink, s"$tmp/ckpt").start()
    try {
      in.addData(ev(1, 0), ev(2, 1, user = 2, value = 2.5))
      q.processAllAvailable()
      in.addData(ev(3, 2, user = 3, typ = "error", value = -1.0))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "events_sink")
      .option("driver", driver).load()
      .orderBy("event_id").collect()
    assert(back.length == 3, "both micro-batches landed")
    assert(back.map(_.getAs[Long]("event_id")).sameElements(Array(1L, 2L, 3L)))
    assert(back(1).getAs[Double]("value") == 2.5)
    assert(back(2).getAs[String]("event_type") == "error")
    assert(back(0).getAs[Timestamp]("ts") == ts(0), "timestamps survive the dialect")
  }

  test("s_stream_jdbc_idempotent: a replayed batch replaces its own rows in the warehouse") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_jdbci").toString
    val url = s"jdbc:derby:$tmp/db;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    // Credentials matter: in Derby the username IS the default schema,
    // so the claim connection must carry the same user/password options
    // as the Spark writer — a credential-less claim would probe schema
    // APP while the writer appends to GRAFT.events_eo, silently
    // defeating exactly-once (the ADVICE round-4 finding).
    val sink = new graft.stream.JdbcIdempotentSink(url, "events_eo",
      Map("driver" -> driver, "user" -> "graft", "password" -> "pw"))
    val in = MemoryStream[Event](spark)
    val q = graft.stream.Sinks.sinkTo(snake(in.toDF()), sink, s"$tmp/ckpt").start()
    try {
      in.addData(ev(1, 0), ev(2, 1))
      q.processAllAvailable()
      in.addData(ev(3, 2))
      q.processAllAvailable()
    } finally q.stop()
    def readBack() = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "events_eo")
      .option("driver", driver)
      .option("user", "graft").option("password", "pw").load()
    assert(readBack().count() == 3)
    // simulate a sink retry: re-deliver batch 1's rows under the SAME
    // batchId — the claim step must delete the previous attempt first
    sink.write(snake(Seq(ev(3, 2)).toDF()), 1L)
    assert(readBack().count() == 3,
           "replayed batchId must replace its own rows, not append")
    // contrast: a NEW batchId appends
    sink.write(snake(Seq(ev(4, 3)).toDF()), 2L)
    assert(readBack().count() == 4)
  }

  test("s_stream_idempotent_sink: a replayed batch overwrites itself, never duplicates") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_idem").toString
    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val in = MemoryStream[Event](spark)
    val q = StreamOps.idempotentParquetSink(snake(in.toDF()), out, ckpt).start()
    try {
      in.addData(ev(1, 0), ev(2, 1))
      q.processAllAvailable()
      in.addData(ev(3, 2))
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() == 3)
      // simulate a sink retry: re-deliver batch 1's rows under the SAME batchId
      new graft.stream.IdempotentParquetSink(out)
        .write(snake(Seq(ev(3, 2)).toDF()), 1L)
      assert(spark.read.parquet(out).count() == 3,
             "replayed batchId must overwrite its own directory, not append")
      // a plain append sink WOULD have duplicated — the contrast pin
      new graft.stream.ParquetAppendSink(s"$tmp/append")
        .write(snake(Seq(ev(3, 2)).toDF()), 1L)
      new graft.stream.ParquetAppendSink(s"$tmp/append")
        .write(snake(Seq(ev(3, 2)).toDF()), 1L)
      assert(spark.read.parquet(s"$tmp/append").count() == 2)
    } finally q.stop()
  }

  test("s_stream_trigger_availablenow: drains the backlog as batches, then stops itself") {
    // Trigger.AvailableNow — the "incremental batch" operating mode: a
    // scheduled job runs the STREAMING pipeline (same code, same
    // checkpoint, same exactly-once) over whatever accumulated since
    // the last run, then exits. awaitTermination returning (vs running
    // forever) IS the semantic under test; a second invocation resumes
    // from the checkpoint and picks up only the new file.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_avnow").toString
    val srcDir = s"$tmp/src"; val outDir = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    snake(Seq(ev(1, 0), ev(2, 1)).toDF()).write.parquet(s"$srcDir/b1.parquet")
    def drain(): Unit = {
      val q = StreamOps.foreachBatchParquetSink(
          StreamOps.fileSource(spark, s"$srcDir/*/"), outDir, ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "AvailableNow query must terminate itself")
    }
    drain()
    assert(spark.read.parquet(outDir).count() == 2)
    snake(Seq(ev(3, 2)).toDF()).write.parquet(s"$srcDir/b2.parquet")
    drain()
    assert(spark.read.parquet(outDir).count() == 3,
           "second drain must process only the new backlog from the checkpoint")
  }

  test("s_stream_file_source + s_stream_foreachbatch_sink: file ingest to parquet sink") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val srcDir = s"$tmp/src"; val outDir = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    // seed two "poll files" the file source will pick up as micro-batches
    snake(Seq(ev(1, 0), ev(2, 1)).toDF()).write.parquet(s"$srcDir/batch1.parquet")
    val stream = StreamOps.fileSource(spark, s"$srcDir/*/")
    val q = StreamOps.foreachBatchParquetSink(stream, outDir, ckpt).start()
    try {
      q.processAllAvailable()
      snake(Seq(ev(3, 2)).toDF()).write.parquet(s"$srcDir/batch2.parquet")
      q.processAllAvailable()
      val out = spark.read.parquet(outDir)
      assert(out.count() == 3)
      assert(out.select("event_id").collect().map(_.getLong(0)).sorted
        .sameElements(Array(1L, 2L, 3L)))
    } finally q.stop()
  }

  test("s_stream_attribution: last-touch channel memory across batches, lookback + none bucket") {
    import spark.implicits._
    withRocksDB {
      val in = MemoryStream[Event](spark)
      val q = StreamOps.attribution(in.toDS())
        .writeStream.format("memory").queryName("sattr")
        .outputMode(OutputMode.Append).start()
      try {
        // batch 1: user 1 clicks then purchases (-> click); user 2
        // purchases with NO prior touch (-> none), then clicks
        in.addData(ev(1, 0, user = 1, typ = "click"),
                   ev(2, 10, user = 1, typ = "purchase", value = 5.0),
                   ev(3, 12, user = 2, typ = "purchase", value = 7.0),
                   ev(8, 15, user = 2, typ = "click"))
        q.processAllAvailable()
        // batch 2: the click state must survive the batch boundary;
        // then a view supersedes it; user 2's purchase 8 days after
        // its remembered click is past the 7-day lookback (-> none)
        in.addData(ev(4, 20, user = 1, typ = "purchase", value = 1.0),
                   ev(5, 30, user = 1, typ = "view"),
                   ev(6, 40, user = 1, typ = "purchase", value = 2.0),
                   ev(7, 15 + 8 * 24 * 60, user = 2, typ = "purchase", value = 3.0))
        q.processAllAvailable()
        val rows = spark.table("sattr").collect()
          .map(r => (r.getLong(1), r.getString(2))).toMap
        assert(rows == Map(2L -> "click", 3L -> "none", 4L -> "click",
                           6L -> "view", 7L -> "none"),
               s"attribution must remember the last touch across batches: $rows")
      } finally q.stop()
    }
  }

  test("s_stream_scd2: state changes close versions across batches; same-state runs stay open") {
    import spark.implicits._
    withRocksDB {
      val in = MemoryStream[Event](spark)
      val q = StreamOps.scd2(in.toDS())
        .writeStream.format("memory").queryName("sscd2")
        .outputMode(OutputMode.Append).start()
      try {
        // batch 1: user 1 runs click,click,view -> closes v1 (click,
        // n=2); user 2 stays in one state -> nothing emitted yet
        in.addData(ev(1, 0, user = 1, typ = "click"),
                   ev(2, 5, user = 1, typ = "click"),
                   ev(3, 9, user = 1, typ = "view"),
                   ev(4, 1, user = 2, typ = "error"),
                   ev(5, 6, user = 2, typ = "error"))
        q.processAllAvailable()
        // batch 2: user 1 EXTENDS the open view run then flips to error
        // -> closes v2 with n=2 spanning the batch boundary (only
        // correct if the open run survived in state); user 2 flips ->
        // closes its v1 whose count also straddles the boundary
        in.addData(ev(6, 15, user = 1, typ = "view"),
                   ev(7, 20, user = 1, typ = "error"),
                   ev(8, 30, user = 2, typ = "view"))
        q.processAllAvailable()
        def us(min: Long) = ts(min).getTime * 1000L
        val rows = spark.table("sscd2").collect()
          .map(r => (r.getLong(0), r.getLong(1)) ->
                ((r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
        assert(rows == Map(
          (1L, 1L) -> (("click", us(0), us(9), 2L)),
          (1L, 2L) -> (("view", us(9), us(20), 2L)),
          (2L, 1L) -> (("error", us(1), us(30), 2L))),
          s"closed SCD2 versions must match the batch run-compression: $rows")
      } finally q.stop()
    }
  }

  test("s_stream_alert_suppress: quiet-period memory spans batches; non-errors pass through silently") {
    import spark.implicits._
    withRocksDB {
      val in = MemoryStream[Event](spark)
      val q = StreamOps.alertSuppress(in.toDS())
        .writeStream.format("memory").queryName("salert")
        .outputMode(OutputMode.Append).start()
      try {
        // batch 1: user 1 first error fires, a 10-min repeat is
        // suppressed; a click is not an alert at all
        in.addData(ev(1, 0, user = 1, typ = "error"),
                   ev(2, 10, user = 1, typ = "error"),
                   ev(3, 12, user = 1, typ = "click"))
        q.processAllAvailable()
        // batch 2: a 20-min-later repeat is STILL inside the 30-min
        // quiet window measured from the batch-1 error (state memory);
        // user 2's first-ever error fires; 40 min later user 1 re-arms
        in.addData(ev(4, 30, user = 1, typ = "error"),
                   ev(5, 31, user = 2, typ = "error"),
                   ev(6, 70, user = 1, typ = "error"))
        q.processAllAvailable()
        val rows = spark.table("salert").collect()
          .map(r => r.getLong(1) -> r.getBoolean(2)).toMap
        assert(rows == Map(1L -> true, 2L -> false, 4L -> false,
                           5L -> true, 6L -> true),
               s"suppression must measure from the remembered last error: $rows")
      } finally q.stop()
    }
  }

  test("s_stream_interarrival: per-(user,type) gaps span batches; streams never cross") {
    import spark.implicits._
    withRocksDB {
      val in = MemoryStream[Event](spark)
      val q = StreamOps.interarrival(in.toDS())
        .writeStream.format("memory").queryName("sgap")
        .outputMode(OutputMode.Append).start()
      try {
        // batch 1: user 1 clicks at t0/t10 (one 10-min gap); the view
        // at t5 is a DIFFERENT stream — no cross-type gap may appear
        in.addData(ev(1, 0, user = 1, typ = "click"),
                   ev(2, 10, user = 1, typ = "click"),
                   ev(3, 5, user = 1, typ = "view"))
        q.processAllAvailable()
        // batch 2: the click at t50 measures 40 min from the REMEMBERED
        // t10 (state across the boundary, overdue at >30 min); user 2's
        // first click emits nothing
        in.addData(ev(4, 50, user = 1, typ = "click"),
                   ev(5, 55, user = 2, typ = "click"))
        q.processAllAvailable()
        val rows = spark.table("sgap").collect()
          .map(r => r.getLong(2) -> ((r.getLong(3), r.getBoolean(4)))).toMap
        assert(rows == Map(2L -> ((600000000L, false)),
                           4L -> ((2400000000L, true))),
               s"gaps must come from the per-stream remembered arrival: $rows")
      } finally q.stop()
    }
  }

  // ---- kill-and-resume-from-checkpoint: the transformWithState fleet ----
  //
  // The cross-batch parity tests above prove state carries BETWEEN
  // micro-batches of one query run; these three prove it survives a
  // STOPPED QUERY — stop() (the planned form of an executor/driver
  // loss), then a fresh writeStream against the same checkpoint, whose
  // first post-restart batch can only be correct if the RocksDB state
  // came back from the checkpoint. One test per state shape: ring
  // buffer (RSI's last-15 samples), sketch (SpaceSaving summary),
  // scalar recursion (CUSUM drift statistic). MemoryStream retains its
  // data across the restart, so the recovered offset log resumes at
  // the right batch. The sink is foreachBatch (the memory sink refuses
  // checkpoint recovery) collecting into a per-run buffer, so the
  // post-restart buffer holds ONLY post-restart output — exactly the
  // rows whose correctness depends on recovered state.

  /** Checkpoint-recoverable collecting sink for the restart tests. */
  private def collectingSink[T](ds: org.apache.spark.sql.Dataset[T], ckpt: String,
      mode: OutputMode, buf: scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]) =
    ds.toDF().writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        { val rows = b.collect(); buf.synchronized { buf ++= rows }; () })
      .option("checkpointLocation", ckpt).outputMode(mode).start()

  test("restart: RSI ring state survives stop + resume from checkpoint") {
    import spark.implicits._
    withRocksDB {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_rst_rsi").toString
      val in = MemoryStream[Event](spark)
      val out = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
      def start() = collectingSink(StreamOps.rsi(in.toDS()), ckpt,
                                   OutputMode.Append, out)
      val vals = (1 to 16).map(_ * 10.0) ++ Seq(140.0, 90.0)
      val q1 = start()
      try {
        in.addData(vals.take(16).zipWithIndex.map { case (v, i) =>
          ev(i + 1L, i.toLong, value = v) }: _*)
        q1.processAllAvailable()
      } finally q1.stop() // kill
      out.clear()         // keep only post-restart output
      val q2 = start()    // resume: the 15-sample ring must come back
      try {
        in.addData(vals.drop(16).zipWithIndex.map { case (v, i) =>
          ev(i + 17L, i + 16L, value = v) }: _*)
        q2.processAllAvailable()
        // the direct fold over the FULL series — rows 17/18 only agree
        // if the pre-restart ring was recovered (an empty ring would
        // emit nothing: it needs 15 samples before the first output)
        var buf = Vector.empty[Long]
        val exp = scala.collection.mutable.Map[Long, Long]()
        vals.zipWithIndex.foreach { case (v, i) =>
          buf = (buf :+ math.floor(v * 100 + 0.5).toLong).takeRight(15)
          if (buf.size >= 15) {
            val d = buf.sliding(2).map(p => p(1) - p(0)).toSeq
            val g = d.filter(_ > 0).sum; val l = -d.filter(_ < 0).sum
            exp(i + 1L) = if (g + l > 0) (10000L * g) / (g + l) else 5000L
          }
        }
        val rows = out.synchronized {
          out.map(r => (r.getLong(1), r.getLong(2))).toMap }
        assert(rows == Map(17L -> exp(17L), 18L -> exp(18L)),
               s"post-restart RSI must continue the recovered ring: got $rows, " +
               s"expected ${Map(17L -> exp(17L), 18L -> exp(18L))}")
      } finally q2.stop()
    }
  }

  test("restart: an out-of-spec restored RSI ring (20 samples) keeps the newest 15") {
    // drive the processor directly against a restored state LONGER than
    // the ring — a state written by an older or foreign build; the
    // restore must keep the newest 15 samples instead of overflowing
    import org.apache.spark.sql.Encoder
    import org.apache.spark.sql.streaming._
    val restored = (1 to 20).map(_ * 1000L).toVector
    var held: StreamOps.RsiState = StreamOps.RsiState(restored)
    val state = new ValueState[StreamOps.RsiState] {
      def exists(): Boolean = held != null
      def get(): StreamOps.RsiState = held
      def update(v: StreamOps.RsiState): Unit = held = v
      def clear(): Unit = held = null
    }
    val handle = new StatefulProcessorHandle {
      def getValueState[T](n: String, e: Encoder[T], t: TTLConfig): ValueState[T] =
        state.asInstanceOf[ValueState[T]]
      def getValueState[T](n: String, t: TTLConfig)(implicit e: Encoder[T]): ValueState[T] =
        state.asInstanceOf[ValueState[T]]
      def getListState[T](n: String, e: Encoder[T], t: TTLConfig): ListState[T] = ???
      def getListState[T](n: String, t: TTLConfig)(implicit e: Encoder[T]): ListState[T] = ???
      def getMapState[K, V](n: String, k: Encoder[K], v: Encoder[V], t: TTLConfig): MapState[K, V] = ???
      def getMapState[K, V](n: String, t: TTLConfig)(
          implicit k: Encoder[K], v: Encoder[V]): MapState[K, V] = ???
      def getQueryInfo(): QueryInfo = ???
      def registerTimer(ms: Long): Unit = ???
      def deleteTimer(ms: Long): Unit = ???
      def listTimers(): Iterator[Long] = ???
      def deleteIfExists(n: String): Unit = ???
    }
    val timers = new TimerValues {
      def getCurrentProcessingTimeInMs(): Long = 0L
      def getCurrentWatermarkInMs(): Long = 0L
    }
    val p = new StreamOps.RsiProcessor(0L)
    p.setHandle(handle)
    p.init(OutputMode.Append(), TimeMode.None())
    val out = p.handleInputRows("click",
      Iterator(ev(21, 0, value = 30.0)), timers).toList
    val ring = (restored :+ 3000L).takeRight(15)
    val d = ring.sliding(2).map(q => q(1) - q(0)).toSeq
    val g = d.filter(_ > 0).sum; val l = -d.filter(_ < 0).sum
    assert(out == List(StreamOps.RsiOut("click", 21L, (10000L * g) / (g + l))),
           s"got $out")
    assert(held.buf == ring, s"the saved ring must be the newest 15 samples: ${held.buf}")
  }

  test("restart: semantic-index keeper vectors survive stop + resume from checkpoint") {
    import spark.implicits._
    withRocksDB {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_rst_sem").toString
      val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
      val in = MemoryStream[(Long, Array[Float])](spark)
      val buf = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
      def start() = collectingSink(
        StreamOps.semanticIndexDedup(in.toDF().toDF("vec_id", "embedding"), cents, tau = 0.9),
        ckpt, OutputMode.Append, buf)
      val q1 = start()
      try {
        // batch 0: vec 1 becomes the cell-0 keeper (full vector into state)
        in.addData((1L, Array(0.9f, 0.1f, 0.0f, 0.0f)))
        q1.processAllAvailable()
      } finally q1.stop() // kill
      buf.clear()         // keep only post-restart output
      val q2 = start()    // resume: the keeper VECTOR must come back
      try {
        // batch 1 (post-restart): a near-copy of the pre-restart keeper.
        // The drop verdict needs the keeper's full vector (the exact
        // cosine runs against state) — an empty recovered index would
        // silently admit vec 3 as a new keeper and emit nothing.
        in.addData((3L, Array(0.88f, 0.12f, 0.01f, 0.0f)))
        q2.processAllAvailable()
        val got = buf.synchronized {
          buf.map(r => (r.getLong(0), r.getLong(1))).toSet }
        assert(got == Set((3L, 1L)),
               s"post-restart drop must resolve against the recovered keeper: $got")
      } finally q2.stop()
    }
  }

  test("restart: SpaceSaving sketch state survives stop + resume from checkpoint") {
    import spark.implicits._
    withRocksDB {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_rst_topk").toString
      val in = MemoryStream[Event](spark)
      val buf = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
      def start() = collectingSink(StreamOps.topkPerKey(in.toDS(), k = 2, capacity = 8),
                                   ckpt, OutputMode.Update, buf)
      val q1 = start()
      try {
        in.addData(ev(1, 0, user = 1), ev(2, 1, user = 1), ev(3, 2, user = 2))
        q1.processAllAvailable()
      } finally q1.stop() // kill
      buf.clear()         // keep only post-restart output
      val q2 = start()    // resume: counts must ACCUMULATE on the sketch
      try {
        in.addData(ev(4, 3, user = 2), ev(5, 4, user = 2), ev(6, 5, user = 3))
        q2.processAllAvailable()
        val latest = buf.synchronized {
          buf.map(r => (r.getString(1), r.getLong(2))).toSet }
        // user 2: 1 pre-restart + 2 post = 3; user 1's pre-restart 2
        // must still outrank user 3's single post-restart hit
        assert(latest.contains(("2", 3L)),
               s"user 2 must show 3 cumulative (sketch recovered), got $latest")
        assert(latest.contains(("1", 2L)),
               s"user 1's pre-restart count must survive in the sketch, got $latest")
      } finally q2.stop()
    }
  }

  test("restart: CUSUM scalar state survives stop + resume from checkpoint") {
    import spark.implicits._
    withRocksDB {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_rst_cusum").toString
      val in = MemoryStream[Event](spark)
      val buf = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
      def start() = collectingSink(
        StreamOps.cusum(in.toDS(), targetFp = 10000L, threshFp = 20000L),
        ckpt, OutputMode.Append, buf)
      val q1 = start()
      try {
        in.addData(ev(1, 0, value = 250.0)) // +150.00 -> S=15000
        q1.processAllAvailable()
      } finally q1.stop() // kill
      buf.clear()         // keep only post-restart output
      val q2 = start()    // resume: S must continue from 15000, not 0
      try {
        in.addData(ev(2, 1, value = 180.0), // +80.00 -> S=23000 (alert)
                   ev(3, 2, value = 40.0))  // -60.00 -> S=17000 (clears)
        q2.processAllAvailable()
        val rows = buf.synchronized {
          buf.map(r => (r.getLong(1), (r.getLong(2), r.getBoolean(3)))).toMap }
        // a reset-to-zero S would read 8000/false then 2000/false here
        assert(rows == Map(2L -> (23000L, true), 3L -> (17000L, false)),
               s"post-restart CUSUM must continue the recovered drift: got $rows")
      } finally q2.stop()
    }
  }

  test("restart: tuple-keyed interarrival state survives stop + resume from checkpoint") {
    import spark.implicits._
    withRocksDB {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_rst_gap").toString
      val in = MemoryStream[Event](spark)
      val buf = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
      def start() = collectingSink(StreamOps.interarrival(in.toDS()), ckpt,
                                   OutputMode.Append, buf)
      val q1 = start()
      try {
        // seed two DIFFERENT composite-keyed streams: (1, click), (1, view)
        in.addData(ev(1, 0, user = 1, typ = "click"),
                   ev(2, 3, user = 1, typ = "view"))
        q1.processAllAvailable()
      } finally q1.stop() // kill with both last-arrival marks in state
      buf.clear()
      val q2 = start()    // resume: the (Long, String) keyed state must
      try {               // decode back to the RIGHT streams
        in.addData(ev(3, 20, user = 1, typ = "click"),
                   ev(4, 40, user = 1, typ = "view"))
        q2.processAllAvailable()
        val rows = buf.synchronized {
          buf.map(r => r.getLong(2) -> r.getLong(3)).toMap }
        // lost/crossed state would emit nothing or wrong gaps
        assert(rows == Map(3L -> 1200000000L, 4L -> 2220000000L),
          s"post-restart gaps must come from the recovered per-stream marks: $rows")
      } finally q2.stop()
    }
  }

  test("restart: SCD2 open-run state survives stop + resume from checkpoint") {
    import spark.implicits._
    withRocksDB {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_rst_scd2").toString
      val in = MemoryStream[Event](spark)
      val buf = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
      def start() = collectingSink(StreamOps.scd2(in.toDS()), ckpt,
                                   OutputMode.Append, buf)
      val q1 = start()
      try {
        // opens run v1 (click, 2 events) — nothing emitted yet
        in.addData(ev(1, 0, typ = "click"), ev(2, 5, typ = "click"))
        q1.processAllAvailable()
      } finally q1.stop() // kill with the run still open
      buf.clear()         // keep only post-restart output
      val q2 = start()    // resume: the open run must come back
      try {
        // extend the recovered run, then flip: the closed version must
        // span the restart (valid_from from BEFORE the kill, n=3)
        in.addData(ev(3, 9, typ = "click"), ev(4, 12, typ = "view"))
        q2.processAllAvailable()
        def us(min: Long) = ts(min).getTime * 1000L
        val rows = buf.synchronized {
          buf.map(r => (r.getLong(0), r.getLong(1)) ->
            ((r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap }
        // a lost run would instead close (click, from t9, n=1) as v1
        assert(rows == Map((1L, 1L) -> (("click", us(0), us(12), 3L))),
          s"post-restart SCD2 must close the run recovered from state: $rows")
      } finally q2.stop()
    }
  }

  // ---- round-13: shared keyed-state TTL (graft.stream.state.ttlMs) ----
  // One expiry test per state SHAPE the conf governs: primitive
  // ValueState[Long] (ewma), product ValueState[case class] (holt),
  // binary ValueState[Array[Byte]] (bloom dedup). Each proves the same
  // contract: state written under the TTL answers exactly until the
  // deadline, then the key re-seeds as if never seen — the recall trade
  // any TTL'd index makes, chosen by conf, never silently.

  /** Poll-await for TTL'd queries: ProcessingTime TimeMode never
    * quiesces (TTL bookkeeping counts as pending work every poll), so
    * processAllAvailable would spin — monitor the sink with a deadline
    * instead, the shape a real TTL'd deployment watches. */
  private def awaitTtl(q: org.apache.spark.sql.streaming.StreamingQuery)(
      cond: => Boolean, what: String): Unit = {
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!cond && System.nanoTime() < deadline) {
      if (q.exception.isDefined) throw q.exception.get
      Thread.sleep(200)
    }
    assert(cond, s"timed out waiting for $what")
  }

  private def withStateTtl(ttlMs: Long)(body: => Unit): Unit = {
    spark.conf.set("graft.stream.state.ttlMs", ttlMs.toString)
    try body finally spark.conf.unset("graft.stream.state.ttlMs")
  }

  test("state TTL (primitive ValueState): expired ewma level re-seeds instead of averaging") {
    withRocksDB { withStateTtl(2000) {
      import spark.implicits._
      val in = MemoryStream[Event](spark)
      val buf = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
      val q = StreamOps.ewma(in.toDS()).toDF().writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = b.select("eventId", "ewma").collect()
            .map(r => (r.getLong(0), r.getDouble(1)))
          buf.synchronized { buf ++= rows }; ()
        }
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
        .start()
      try {
        in.addData(ev(1, 0, value = 4.0))
        awaitTtl(q)(buf.synchronized(buf.size) == 1, "seed sample")
        assert(buf.synchronized(buf.head) == ((1L, 4.0)), "first sample seeds the level")
        Thread.sleep(3500) // > TTL: the per-user level expires
        in.addData(ev(2, 1, value = 8.0))
        awaitTtl(q)(buf.synchronized(buf.size) == 2, "post-expiry sample")
        // surviving state would average to (8+4)/2 = 6.0; expired re-seeds
        assert(buf.synchronized(buf(1)) == ((2L, 8.0)),
          s"expired level must re-seed at 8.0, got ${buf.synchronized(buf(1))}")
      } finally q.stop()
    } }
  }

  test("state TTL (product ValueState): expired holt (level, trend) re-seeds") {
    withRocksDB { withStateTtl(2000) {
      import spark.implicits._
      val in = MemoryStream[Event](spark)
      val buf = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      val q = StreamOps.holt(in.toDS()).toDF().writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = b.select("eventId", "levelFp", "trendFp").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          buf.synchronized { buf ++= rows }; ()
        }
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
        .start()
      try {
        in.addData(ev(1, 0, value = 4.0))
        awaitTtl(q)(buf.synchronized(buf.size) == 1, "seed sample")
        assert(buf.synchronized(buf.head) == ((1L, 40000L, 0L)),
          "first sample seeds l = x, t = 0")
        Thread.sleep(3500)
        in.addData(ev(2, 1, value = 8.0))
        awaitTtl(q)(buf.synchronized(buf.size) == 2, "post-expiry sample")
        // surviving state: l' = (80000+40000)>>1 = 60000, t' = 10000
        assert(buf.synchronized(buf(1)) == ((2L, 80000L, 0L)),
          s"expired (l, t) must re-seed, got ${buf.synchronized(buf(1))}")
      } finally q.stop()
    } }
  }

  test("state TTL (binary ValueState): expired bloom filter forgets — the dup re-emits") {
    withRocksDB { withStateTtl(2000) {
      import spark.implicits._
      val in = MemoryStream[Event](spark)
      val buf = scala.collection.mutable.ArrayBuffer[Long]()
      val q = StreamOps.bloomDedup(in.toDS()).toDF().writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val rows = b.select("eventId").collect().map(_.getLong(0))
          buf.synchronized { buf ++= rows }; ()
        }
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
        .start()
      try {
        in.addData(ev(42, 0))
        awaitTtl(q)(buf.synchronized(buf.size) == 1, "first occurrence")
        in.addData(ev(42, 1)) // within TTL: the filter remembers
        Thread.sleep(1200)    // give the dup a batch to be (not) emitted
        assert(buf.synchronized(buf.size) == 1, "within-TTL dup must stay suppressed")
        Thread.sleep(3500)    // > TTL measured from the LAST write
        in.addData(ev(42, 2))
        awaitTtl(q)(buf.synchronized(buf.size) == 2, "post-expiry re-emit")
        assert(buf.synchronized(buf.toSeq) == Seq(42L, 42L),
          "expired filter must re-admit the id as first-seen")
      } finally q.stop()
    } }
  }

  // ---- checkpoint compatibility across the local file binding ----
  //
  // Sinks.sinkTo binds the session's `file:` FileContext to
  // graft.io.NioLocalFs (and sets its other session defaults). A
  // checkpoint written before that binding existed must restart under
  // it, and one written under it must restart on an engine without it.

  /** Runs `interarrival` over five fixed batches in legs: each leg is
    * (batches, through `Sinks.sinkTo`?), stopped and restarted on one
    * checkpoint. A plain leg runs with the session defaults unset, as an
    * engine without them would. Returns the sink's rows, sorted. */
  private def interarrivalLegs(legs: Seq[(Int, Boolean)]): Seq[(Long, String, Long, Long, Boolean)] = {
    val s = spark.newSession()
    import s.implicits._
    s.conf.set(providerKey, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val dir = java.nio.file.Files.createTempDirectory("graft_rst_binding").toString
    val ckpt = s"$dir/ckpt"
    val sink = new graft.stream.IdempotentParquetSink(s"$dir/out")
    val in = MemoryStream[Event](s)
    val batches = (0 until 5).map { b =>
      (0 until 6).map(i => ev(b * 10L + i, b * 45L + i * 7L, user = i % 3, typ = Seq("click", "view")(i % 2)))
    }
    val df = StreamOps.interarrival(in.toDS()).toDF()
    var next = 0
    legs.foreach { case (n, viaSinkTo) =>
      val w =
        if (viaSinkTo) graft.stream.Sinks.sinkTo(df, sink, ckpt)
        else {
          graft.stream.Sinks.sessionDefaults.foreach { case (k, _) => s.conf.unset(k) }
          df.writeStream.option("checkpointLocation", ckpt)
            .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) => sink.write(b, id))
        }
      val q = w.outputMode(OutputMode.Append).start()
      try batches.slice(next, next + n).foreach { b => in.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      next += n
    }
    assert(next == batches.size)
    s.read.parquet(s"$dir/out").drop("batch")
      .as[(Long, String, Long, Long, Boolean)].collect().sorted.toSeq
  }

  test("restart: a checkpoint survives the move to sinkTo's binding and the move back") {
    withRocksDB {
      val whole = interarrivalLegs(Seq(5 -> true))
      assert(whole.size == 24, s"five batches of six events over six streams: $whole")
      assert(interarrivalLegs(Seq(3 -> false, 2 -> true)) == whole, "default binding, then sinkTo")
      assert(interarrivalLegs(Seq(3 -> true, 2 -> false)) == whole, "sinkTo, then default binding")
    }
  }
}
