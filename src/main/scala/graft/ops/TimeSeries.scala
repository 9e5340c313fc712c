package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import Util._

/** SURVEY.md §2.9 — time-series / telemetry composites.
  *
  * Scale notes (100 TB): every query buckets by time first (date_trunc),
  * so with date-partitioned storage the scans prune to the queried range
  * and the aggregations shuffle on (bucket, key) — bounded cardinality.
  * Sessionization is a single shuffle on user_id; skewed users would be
  * handled by AQE skew splitting (the window itself is per-user state).
  */
object TimeSeries {

  private def byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))

  /** 1h tumbling buckets × event_type: count / sum / min / max. */
  def qTsTumbling(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           dsum(col("value")).as("sum_value"),
           min(col("value")).as("min_value"),
           max(col("value")).as("max_value"))
      .orderBy("bucket", "event_type")

  /** OHLC downsample: first/last by timestamp + min/max per hour bucket.
    * Timestamps are unique in the fixture (verified), so min_by/max_by
    * on ts is deterministic. */
  def qTsDownsampleOhlc(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(min_by(col("value"), col("ts")).as("open"),
           max(col("value")).as("high"),
           min(col("value")).as("low"),
           max_by(col("value"), col("ts")).as("close"),
           count(lit(1)).as("n"))
      .orderBy("bucket")

  /** Counter→rate: per-user value delta ÷ elapsed seconds. Elapsed time
    * is computed in exact integer microseconds then divided once, the
    * same expression the oracle uses. */
  def qTsRate(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .select(col("event_id"), col("user_id"),
              ((col("value") - lag(col("value"), 1).over(byUser)) /
               ((unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser)) / lit(1000000.0)))
                .as("rate"))
      .orderBy("event_id")

  /** Piecewise aggregate approximation (PAA) — the time-series
    * DIMENSIONALITY REDUCTION primitive under SAX/indexing/motif
    * mining (a series of any length becomes 8 segment means; distance
    * in PAA space lower-bounds true Euclidean distance, which is what
    * makes index pruning sound): ntile(8) splits each user's ordered
    * series into equal-count segments, segment mean via the exact
    * decimal path. One (user_id) window + one hash agg. */
  def qTsPaa(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, sf)
      .withColumn("seg", ntile(8).over(w))
      .groupBy(col("user_id"), col("seg"))
      // floor(x·10⁴+0.5), not round(): the decimal-exact-sum / count
      // quotient has unbounded decimal scale, so round() hits genuine
      // 1e-4 midpoint ties that the engines break differently (§7.3(8))
      .agg(count(lit(1)).as("n"),
           (floor(davg(col("value"), 2) * 10000 + lit(0.5)) / 10000.0).as("seg_mean"))
      .orderBy("user_id", "seg")
  }

  /** SAX symbolization + motif grouping — the step PAA exists FOR:
    * quantize each [[qTsPaa]] segment mean into a 4-letter alphabet
    * (fixed breakpoints 25/50/75 on the value domain), concatenate in
    * segment order into each user's 8-char SAX word, then group
    * identical words — users sharing a word share a coarse behavioral
    * shape (the motif-discovery / whole-series-clustering primitive).
    * Letters compare on the already-hash-proven PAA means (exact
    * floor-rounded doubles, breakpoints exactly representable), the
    * word is an ordered struct-sort concat (the qAggStringAgg
    * determinism recipe), output ordered (count desc, word). */
  def qTsSax(s: SparkSession, sf: String): DataFrame = {
    val letter = when(col("seg_mean") < 25, "a")
      .when(col("seg_mean") < 50, "b")
      .when(col("seg_mean") < 75, "c").otherwise("d")
    qTsPaa(s, sf)
      .withColumn("letter", letter)
      .groupBy(col("user_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("seg"), col("letter")))),
        x => x.getField("letter")), "").as("sax"))
      .groupBy(col("sax"))
      .agg(count(lit(1)).as("n_users"), min(col("user_id")).as("example_user"))
      .orderBy(desc("n_users"), asc("sax"))
  }

  /** Gorilla-style timestamp-compression accounting — the TSDB
    * storage-planning op (Facebook Gorilla / Prometheus encode
    * timestamps as delta-of-delta; regular heartbeats cost ~1 bit per
    * sample, jittery series blow the budget — this op tells you WHICH
    * series, before you size the cluster): per series, Δ²t in seconds
    * buckets into the Gorilla bit classes (0 bits when Δ²t=0, then
    * 7/9/12/32 as the jitter widens), reported as total encoded bits
    * vs 64-bit raw and a 1e-3 fixed-point compression ratio.
    * ALL-INTEGER (µs→s integer division, CASE ladder, integer sums);
    * one (user_id) window shuffle. */
  def qTsCompressGorilla(s: SparkSession, sf: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, sf)
      .withColumn("dus", us - lag(us, 1).over(w))
      .withColumn("d", expr("dus div 1000000")) // exact integer seconds
      .withColumn("dod", col("d") - lag(col("d"), 1).over(w))
      .withColumn("bits",
        when(col("dod").isNull, lit(64L)) // first two samples: raw header
          .when(col("dod") === 0, lit(1L))
          .when(col("dod").between(-63, 64), lit(7L))
          .when(col("dod").between(-255, 256), lit(9L))
          .when(col("dod").between(-2047, 2048), lit(12L))
          .otherwise(lit(32L)))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_samples"),
           sum(col("bits")).as("enc_bits"))
      .withColumn("raw_bits", col("n_samples") * 64L)
      .withColumn("ratio_pm", expr("1000 * enc_bits div raw_bits"))
      .orderBy("user_id")
  }

  /** PromQL-style `irate`: the INSTANTANEOUS rate from each series'
    * LAST TWO samples only — what dashboards show for fast-moving
    * counters, vs [[qTsRate]]'s per-step rates over the whole series
    * (irate reacts instantly and never averages over a scrape gap).
    * Counter-reset rule mirrored from PromQL: v_last < v_prev means
    * the counter restarted, so the increase is v_last itself. One
    * (user_id) window shuffle to rank from the end, a 2-row group per
    * user after the rn ≤ 2 filter — at scale the filter collapses
    * everything past the last two samples map-side. Exact integer µs
    * for Δt; value deltas are scale-2-exact doubles; ONE division +
    * round(4), mirrored. */
  def qTsIrate(s: SparkSession, sf: String): DataFrame = {
    val back = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, sf)
      .withColumn("rn", row_number().over(back))
      .where(col("rn") <= 2)
      .groupBy(col("user_id"))
      .agg(max(when(col("rn") === 1, col("value"))).as("v_last"),
           max(when(col("rn") === 2, col("value"))).as("v_prev"),
           max(when(col("rn") === 1, unix_micros(col("ts")))).as("t_last"),
           max(when(col("rn") === 2, unix_micros(col("ts")))).as("t_prev"))
      .where(col("v_prev").isNotNull && col("t_last") > col("t_prev"))
      .select(col("user_id"),
        round(
          when(col("v_last") < col("v_prev"), col("v_last"))
            .otherwise(col("v_last") - col("v_prev")) /
          ((col("t_last") - col("t_prev")) / lit(1000000.0)), 4).as("irate"))
      .orderBy("user_id")
  }

  /** Dense hourly axis via sequence+explode, zero-filled by left join —
    * gap filling without a driver-side loop (the axis is generated
    * distributively from the min/max bounds). */
  def qTsGapfill(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.events(s, sf)
    val hourly = e.groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val bounds = e.agg(date_trunc("hour", min(col("ts"))).as("lo"),
                       date_trunc("hour", max(col("ts"))).as("hi"))
    val axis = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("bucket"))
    axis.join(hourly, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("cnt"), lit(0L)).as("n"))
      .orderBy("bucket")
  }

  /** Gaps-and-islands sessionization: a >30min silence starts a new
    * session; one window pass (lag → flag → running sum) then a group-by.
    * Session duration in exact integer microseconds → seconds. */
  def qTsSessionize(s: SparkSession, sf: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val newSess = when(us - lag(us, 1).over(byUser) > 1800L * 1000000L, 1)
      .otherwise(0)
    Tables.events(s, sf)
      .withColumn("sess", sum(newSess).over(
        Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts")).as("session_start"),
           ((unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))) / lit(1000000.0))
             .as("duration_s"))
      .orderBy("user_id", "sess")
  }

  /** Day-over-day retention: users active on day d AND day d+1. */
  def qTsRetention(s: SparkSession, sf: String): DataFrame = {
    val days = Tables.events(s, sf)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day")).distinct()
    val next = days.select(col("user_id").as("uid2"), col("day").as("next_day"))
    days.join(next,
        col("user_id") === col("uid2") &&
        col("next_day") === col("day") + expr("INTERVAL 1 DAY"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("retained"))
      .orderBy("day")
  }

  /** Counter-reset-aware increase — the telemetry-collector classic: a
    * cumulative counter that drops (process restart) contributes its
    * post-reset absolute value, not a negative delta (Prometheus
    * `increase()` semantics). Same one-window shuffle as q_ts_rate. */
  def qTsCounterReset(s: SparkSession, sf: String): DataFrame = {
    val delta = col("value") - lag(col("value"), 1).over(byUser)
    Tables.events(s, sf)
      .select(col("event_id"), col("user_id"),
              round(when(delta < 0, col("value")).otherwise(delta), 6)
                .as("increase"))
      .orderBy("event_id")
  }

  /** Linear interpolation of per-user hourly gaps (the TSDB
    * `interpolate()` / PromQL-style gap repair): average value per
    * (user, hour) where samples exist (exact decimal avg), then fill
    * each empty hour from the straight line between its nearest
    * non-null neighbors; boundary gaps extend the nearest value. The
    * fixture series are ~91% sparse at the user level, so most output
    * rows are interpolated.
    *
    * Shape: one hash agg, a broadcast bounds×users spine, and TWO
    * passes of one (user)-partitioned window (prev/next non-null via
    * IGNORE NULLS last over running frames, ascending and descending)
    * — no self-join, no per-gap search. The
    * per-user partition is exactly how this distributes at scale;
    * interp math runs on identical IEEE inputs on both engines. */
  def qTsInterpolate(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.events(s, sf)
    val hourly = e.groupBy(col("user_id"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(davg(col("value")).as("v"))
    val bounds = e.agg(date_trunc("hour", min(col("ts"))).as("lo"),
                       date_trunc("hour", max(col("ts"))).as("hi"))
    val axis = e.select(col("user_id")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"),
              explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("bucket"))
    // Both neighbours come from running frames, one per direction: the
    // next non-null is the last one seen walking the buckets backwards.
    // A forward frame to unboundedFollowing re-aggregates to the end of
    // the partition from every row, which is quadratic per user.
    val byUser = Window.partitionBy("user_id")
    val wPrev = byUser.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, 0)
    val wNext = byUser.orderBy(col("bucket").desc).rowsBetween(Window.unboundedPreceding, 0)
    axis.join(hourly, Seq("user_id", "bucket"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("pb", last(when(col("v").isNotNull, col("bucket")), ignoreNulls = true).over(wPrev))
      .withColumn("nv", last(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("nb", last(when(col("v").isNotNull, col("bucket")), ignoreNulls = true).over(wNext))
      .withColumn("interp",
        when(col("v").isNotNull, col("v"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            expr("timestampdiff(HOUR, pb, bucket)").cast("double") /
            expr("timestampdiff(HOUR, pb, nb)").cast("double")))
      // floor-quantize to 1e-4 instead of round(): the interpolation
      // fraction k/m has SMALL denominators, so the value lattice lands
      // exactly on round()'s grid midpoints (~0.2% of cells here), where
      // Spark (shortest-decimal HALF_UP) and DuckDB (binary-value) break
      // ties differently — §7.3(8). floor of the identical IEEE product
      // involves no tie-breaking at all.
      .select(col("user_id"), col("bucket"),
              (floor(col("interp") * 10000) / 10000.0).as("v"))
      .orderBy("user_id", "bucket")
  }

  /** Rolling z-score anomaly flags: |value − μ₂₀| > 3σ₂₀ over the
    * trailing 20 events per user (σ from the *preceding* frame so the
    * candidate point can't mask itself). Emits only the anomalies —
    * at scale the filter collapses the output to the interesting rows
    * while the window stays one (user_id) shuffle. */
  def qTsAnomaly(s: SparkSession, sf: String): DataFrame = {
    val frame = byUser.rowsBetween(-20, -1)
    // explicit sum/sumsq stddev — engines' native stddev_samp use
    // different incremental algorithms. The sums go through DECIMAL
    // (value is true-scale-2, value² true-scale-4 — exact at these
    // cast scales): windowed double accumulation order is NOT
    // contractually identical cross-engine (DuckDB segment-tree vs
    // Spark frame recompute), and a last-ulp flip could cross the
    // round(z,4) or |z|>3 cut. Decimal window sums are exact and
    // order-independent; the downstream μ/σ/z arithmetic is identical
    // IEEE on identical inputs.
    val n = count(col("value")).over(frame)
    val sm = sum(col("value").cast("decimal(28,2)")).over(frame).cast("double")
    val ssq = sum((col("value") * col("value")).cast("decimal(28,4)"))
      .over(frame).cast("double")
    // EXPLICIT zero-divisor guards (greatest/when), NOT reliance on the
    // n20>=5 filter short-circuiting: ANSI division throws on a zero
    // divisor even for doubles, and whether the filter's conjuncts
    // guard the projection depends on predicate-pushdown inlining — an
    // optimizer detail this query must not bet on. For surviving rows
    // (n ≥ 5, sd > 0) every guard is a no-op, so oracle parity holds.
    val nSafe = greatest(n, lit(1L))
    val mu = sm / nSafe
    // clamp: cancellation can push the variance a hair negative for
    // near-constant frames — Spark sqrt would give NaN (which passes
    // NaN-is-largest filters!) and DuckDB sqrt would hard-error
    val sd = sqrt(greatest(
      (ssq - sm * sm / nSafe) / greatest(n - 1, lit(1L)), lit(0.0)))
    Tables.events(s, sf)
      .withColumn("n20", n).withColumn("sd", sd)
      .withColumn("z", (col("value") - mu) / when(col("sd") > 0, col("sd")))
      .where(col("n20") >= 5 && col("sd") > 0 && abs(col("z")) > 3)
      .select(col("event_id"), col("user_id"), col("value"),
              round(col("z"), 4).as("z"))
      .orderBy("event_id")
  }

  /** Per-user uptime SLI: fraction of hours in the user's observed
    * span with at least one event — the heartbeat-coverage metric a
    * collector reports. All integer arithmetic (hour counts, exact
    * µs-division of hour-truncated bounds) up to one final mirrored
    * double division. */
  def qTsUptime(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(col("user_id"))
      .agg(countDistinct(date_trunc("hour", col("ts"))).as("n_active_hours"),
           min(date_trunc("hour", col("ts"))).as("lo"),
           max(date_trunc("hour", col("ts"))).as("hi"))
      .withColumn("span_hours",
        expr("(unix_micros(hi) - unix_micros(lo)) div 3600000000") + 1)
      .withColumn("uptime_pct",
        col("n_active_hours") * lit(100.0) / col("span_hours"))
      .select("user_id", "n_active_hours", "span_hours", "uptime_pct")
      .orderBy("user_id")

  /** Day-of-week × hour-of-day activity heatmap — the dashboard matrix
    * behind "when is this system busy". One hash agg on the 7×24 grid;
    * Spark's dayofweek is 1-based Sunday-first, DuckDB's 0-based — the
    * oracle adds 1 so both emit the same coordinates. */
  def qTsHeatmap(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(dayofweek(col("ts")).cast("long").as("dow"),
               hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
      .orderBy("dow", "hod")

  /** Hour-of-day seasonality profile per event_type — the diurnal
    * baseline an anomaly detector normalizes against. One hash agg on
    * (type, hour-of-day); the average runs through the exact decimal
    * path. */
  def qTsSeasonality(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
      .orderBy("event_type", "hod")

  /** Day-over-day / week-over-week comparison — the dashboard staple:
    * daily event counts per type, each day's delta vs yesterday and vs
    * 7 days back (lag on the AGGREGATED series, so the window runs
    * over ~days×types rows, not raw events), plus the DoD percent
    * change as one mirrored integer-input division. */
  def qTsDodWow(s: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, sf)
    val daily = e
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    // densify onto the calendar spine FIRST (the q_ts_gapfill lesson):
    // lag(n, 7) over present-rows-only silently compares against 8+
    // calendar days back whenever a day has zero events — the spine
    // makes "yesterday" and "7 days back" mean calendar days always.
    val bounds = e.agg(date_trunc("day", min(col("ts"))).as("lo"),
                       date_trunc("day", max(col("ts"))).as("hi"))
    val spine = bounds
      .select(explode(sequence(col("lo"), col("hi"),
                               expr("INTERVAL 1 DAY"))).as("day"))
      .crossJoin(e.select(col("event_type")).distinct())
    val dense = spine.join(daily, Seq("event_type", "day"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    dense
      .withColumn("dod", col("n") - lag(col("n"), 1).over(w))
      .withColumn("wow", col("n") - lag(col("n"), 7).over(w))
      // nullif guard: a zero-event spine day would otherwise divide by
      // zero, where Spark yields ±Infinity but DuckDB's behavior is its
      // own — NULL is the one value both engines agree on
      .withColumn("dod_pct",
        col("dod") * lit(100.0) / nullif(lag(col("n"), 1).over(w), lit(0L)))
      .orderBy("event_type", "day")
  }

  /** SLO error-budget burn rate — the alerting composite a telemetry
    * collector feeds: per hour, the error-event ratio against a 99%
    * availability SLO (1% budget). The `burning` flag is the INTEGER
    * comparison `100·n_err > n_events` (exact on both engines); the
    * burn multiple itself is one mirrored multiply+divide on counts.
    * Single hash agg by hour — nothing else shuffles. */
  def qTsSloBurn(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"),
           sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))
      .withColumn("burn_rate", col("n_err") * lit(100.0) / col("n_events"))
      .withColumn("burning",
        when(col("n_err") * 100 > col("n_events"), 1L).otherwise(0L))
      .orderBy("hour")

  /** Prometheus-style `histogram_quantile`: p50/p95/p99 per event_type
    * estimated by linear interpolation inside the first histogram
    * bucket whose cumulative count crosses q·N — the way a TSDB
    * answers latency-quantile queries from pre-aggregated bucket
    * counters without touching raw samples. One data-sized hash agg
    * builds the histogram; everything after (cumsum window, quantile
    * pick, interpolation) runs on the ≤ 50-row histogram. All inputs to
    * the float interpolation are integers, and the expression tree is
    * mirrored in the oracle, so the doubles are bit-identical. */
  def qTsHistogramQuantile(s: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.events(s, sf)
      .groupBy(col("event_type"), bucket50("value").as("bucket"))
      .agg(count(lit(1)).as("n"))
    val byType = Window.partitionBy(col("event_type"))
    val cum = hist
      .withColumn("cum", sum(col("n")).over(byType.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("n")).over(byType))
    val first = Window.partitionBy(col("event_type"), col("q")).orderBy(col("bucket"))
    cum
      .withColumn("q", explode(array(lit(0.5), lit(0.95), lit(0.99))))
      .withColumn("tq", col("q") * col("total"))
      .where(col("cum") >= col("tq"))
      .withColumn("rn", row_number().over(first))
      .where(col("rn") === 1)
      .select(col("event_type"), col("q"),
              (col("bucket") * 50 +
               lit(50.0) * (col("tq") - (col("cum") - col("n"))) / col("n")).as("p_est"))
      .orderBy("event_type", "q")
  }

  /** Ordered 4-stage event funnel (signup → view → click → purchase):
    * per user, the first signup, then the first view AT/after it, then
    * the first click at/after that, then the first purchase — the
    * product-analytics conversion query. Emits per-stage user counts
    * and mean hours-from-signup for the users who reached the stage.
    *
    * Shape: each stage is a (user_id)-keyed aggregate joined to the
    * previous stage on the same key — every join and every groupBy
    * shuffles on user_id, so the whole chain runs in ONE partitioning
    * (co-partitioned SMJ / reused exchange), and each stage's row count
    * only shrinks. Time math is integer µs differences; the mean goes
    * through the exact decimal-sum path. */
  def qTsFunnel(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.events(s, sf).select(col("user_id"), col("event_type"), col("ts"))
    def stage(t: String) = e.where(col("event_type") === t)
    // localCheckpoint (NOT persist) on each small per-user stage frame:
    // each is consumed twice — by the next stage AND its level() count —
    // and Spark would otherwise re-execute the whole upstream chain per
    // consumer (~10 events passes for 4 levels). localCheckpoint
    // materializes per INVOCATION, so unlike persist the CacheManager
    // can't serve a later invocation's identical plan from this run's
    // cache (which would turn benchmark re-runs into cache reads), and
    // the blocks are GC-reclaimed with the DataFrame reference.
    val s1 = stage("signup").groupBy(col("user_id"))
      .agg(min(col("ts")).as("tk")).withColumn("t1", col("tk"))
      .serCheckpoint(Tables.rowCount(s, sf, "events") / 100) // ≤|users| rows (~100 events/user)
    def next(prev: DataFrame, t: String): DataFrame =
      stage(t).join(prev.select(col("user_id"), col("tk").as("tprev"), col("t1")), "user_id")
        .where(col("ts") >= col("tprev"))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("tk"), min(col("t1")).as("t1"))
        .serCheckpoint(Tables.rowCount(s, sf, "events") / 100)
    val s2 = next(s1, "view")
    val s3 = next(s2, "click")
    val s4 = next(s3, "purchase")
    val hrs = (unix_micros(col("tk")) - unix_micros(col("t1"))) / lit(1000000.0)
    def level(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_users"),
             (davg(hrs, 6) / lit(3600.0)).as("avg_hours"))
        // no round(): both engines build avg_hours from bit-identical
        // doubles with the same op sequence, so the raw value hash-matches;
        // a round() could only ADD a midpoint-tie divergence (§7.3(8))
        .select(lit(name).as("stage"), col("n_users"), col("avg_hours"))
    level("1_signup", s1)
      .unionAll(level("2_view", s2))
      .unionAll(level("3_click", s3))
      .unionAll(level("4_purchase", s4))
      .orderBy("stage")
  }

  /** Mean-shift change-point detection over the daily event-count
    * series — "when did traffic step?" Offline CUSUM: for every
    * candidate split, compare the left/right segment means and keep the
    * split maximizing |Δmean| (tiebreak earliest day). ALL-INTEGER:
    * |Δmean| ranks by |S₁·n₂ − S₂·n₁| div (n₁·n₂) fixed-point — no
    * float accumulation to drift cross-engine (the q_ts_anomaly
    * lesson). Shape: one data-sized hash agg to daily counts, then two
    * windows + the argmax pick over the tiny days×types series — at
    * 100 TB everything after the first agg touches ~10² rows. */
  def qTsChangepoint(s: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wAll = Window.partitionBy(col("event_type"))
    val scored = daily
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("n1", row_number().over(w).cast("long"))
      .withColumn("stot", sum(col("n")).over(wAll))
      .withColumn("ntot", count(lit(1)).over(wAll))
      .withColumn("n2", col("ntot") - col("n1"))
      .where(col("n2") > 0)
      .withColumn("diff",
        abs(col("s1") * col("n2") - (col("stot") - col("s1")) * col("n1")))
      .withColumn("score_scaled", expr("(1000 * diff) div (n1 * n2)"))
    val pick = Window.partitionBy(col("event_type"))
      .orderBy(col("score_scaled").desc, col("day"))
    scored.withColumn("rn", row_number().over(pick))
      .where(col("rn") === 1)
      .select(col("event_type"), col("day").as("cp_day"), col("score_scaled"),
        expr("(1000 * s1) div n1").as("mean_before_scaled"),
        expr("(1000 * (stot - s1)) div n2").as("mean_after_scaled"))
      .orderBy("event_type")
  }

  /** EWMA smoothing with α=1/2 — the TSDB exponential smoother, made
    * hash-exact: values floor-quantize to 1e-6 fixed point and the
    * 16-term window is an EXPLICIT Σ lag_i·2^(15−i) of integers
    * (power-of-two weights are exact; a recursive s_t = αx + (1−α)s
    * float chain would accumulate engine-order drift, and a windowed
    * Σx·w over doubles is order-dependent). One integer division pair
    * at the end mirrors on both engines. Emitted only where the full
    * 16-row history exists. One (user) window pass, constant memory
    * per row. Weights beyond 16 terms are < 2⁻¹⁶ ≈ 1.5e-5 of the
    * signal — below the 1e-6 quantization floor times typical values,
    * the declared truncation. */
  def qTsEwma(s: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val terms = (0 until 16).map(i =>
      lag(col("xfp"), i).over(byUser) * lit(1L << (15 - i)))
    Tables.events(s, sf)
      .withColumn("xfp", floor(col("value") * lit(1e6)).cast("long"))
      .withColumn("num", terms.reduce(_ + _))
      .withColumn("rn", row_number().over(byUser))
      .where(col("rn") >= 16)
      .select(col("event_id"), col("user_id"),
        (col("num").cast("double") / lit(((1L << 16) - 1).toDouble * 1e6))
          .as("ewma"))
      .orderBy("event_id")
  }

  /** Event-sequence pattern counts (the MATCH_RECOGNIZE-lite funnel
    * miner): each user's journey becomes an ordered initials string
    * (s/v/c/p/o over the unique (ts, event_id) total order) and
    * patterns are counted by non-overlapping `replace` deletion —
    * `(len − len(replace(j, pat, ''))) div |pat|` — which both engines
    * scan left-to-right identically, where regex quantifier semantics
    * (greedy vs leftmost-longest) could diverge. ALL-INTEGER outputs.
    * Shape: one (user) hash agg building the journey via
    * `array_sort(collect_list(struct))` — per-user state is bounded by
    * events-per-user, the sessionize shape; string ops are map-side. */
  def qSeqPattern(s: SparkSession, sf: String): DataFrame = {
    val ch = when(col("event_type") === "signup", "s")
      .when(col("event_type") === "view", "v")
      .when(col("event_type") === "click", "c")
      .when(col("event_type") === "purchase", "p")
      .otherwise("o")
    Tables.events(s, sf)
      .select(col("user_id"), col("ts"), col("event_id"), ch.as("ch"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("ch")))),
          x => x.getField("ch")), "").as("journey"))
      .select(col("user_id"), col("n_events"),
        expr("(length(journey) - length(replace(journey, 'vcp', ''))) div 3").as("n_vcp"),
        expr("(length(journey) - length(replace(journey, 'vp', ''))) div 2").as("n_vp"))
      .orderBy("user_id")
  }

  /** DAU / cumulative-users stickiness — the engagement ratio product
    * dashboards lead with. Cumulative distinct users per day WITHOUT a
    * running-distinct scan: a user's first active day is a plain
    * per-user min, cumulative distinct(d) = # users with first_day ≤ d
    * — one window cumsum over the tiny daily series. ALL-INTEGER
    * (`1000·dau div cum` fixed point). The trick is the 100 TB story:
    * running distinct counts re-derive from per-user firsts forever,
    * no day-over-day distinct re-scan. */
  def qTsStickiness(s: SparkSession, sf: String): DataFrame = {
    val day = date_trunc("day", col("ts"))
    val dau = Tables.events(s, sf)
      .groupBy(day.as("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val newUsers = Tables.events(s, sf)
      .groupBy(col("user_id")).agg(min(day).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_new"))
    val cum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dau.join(newUsers, Seq("day"), "left")
      .withColumn("cum_users", sum(coalesce(col("n_new"), lit(0L))).over(cum))
      .withColumn("stickiness_pm", expr("1000 * dau div cum_users"))
      .select(col("day"), col("dau"), col("cum_users"), col("stickiness_pm"))
      .orderBy("day")
  }

  /** Day-N retention curve — the normalized product metric the weekly
    * cohort matrix doesn't give: for each day offset N, the fraction
    * of users active exactly N days after their OWN first day, pooled
    * across cohorts (numerator = distinct (user, offset) pairs,
    * denominator = all users), in 1e-3 fixed point — ALL-INTEGER.
    * Derived from the dedup'd (user, day) frame; raw events touched
    * once. */
  def qTsRetentionCurve(s: SparkSession, sf: String): DataFrame = {
    val ud = Tables.events(s, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val first = ud.groupBy(col("user_id")).agg(min(col("day")).as("d0"))
    val nUsers = first.agg(count(lit(1)).as("n_users"))
    ud.join(first, "user_id")
      .select(col("user_id"), (col("day") - col("d0")).as("offset_d"))
      .groupBy(col("offset_d"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .crossJoin(broadcast(nUsers))
      .withColumn("retention_pm", expr("1000 * n_active div n_users"))
      .orderBy("offset_d")
  }

  /** Cohort retention matrix — the product-analytics triangle: users
    * cohorted by first active (epoch) week, cells count distinct users
    * active at each week offset. Generalizes `q_ts_retention`'s d/d+1
    * pair to the full matrix; ALL-INTEGER week arithmetic; the matrix
    * derives from the dedup'd (user, week) frame, raw events touched
    * once. */
  def qTsCohortMatrix(s: SparkSession, sf: String): DataFrame = {
    val uw = Tables.events(s, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("week"))
      .distinct()
    val cohort = uw.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    uw.join(cohort, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Time-weighted average (TWAP) per user — the gauge semantics every
    * TSDB applies when samples are irregular: each value holds until
    * the next sample, so its weight is the hold duration (a plain mean
    * over-weights bursts). Σ(v·Δt)/ΣΔt with the products on the exact
    * decimal path: value cast to DECIMAL(18,4) × integer SECOND hold →
    * exact decimal, order-independent partial sums; ONE mirrored final
    * division. Holds are truncated to whole seconds (declared) — NOT a
    * precision nicety: µs holds push the decimal sum past 2^53, where
    * the final decimal→double CAST itself rounds differently per
    * engine (observed: last-ulp twap mismatches); second holds keep
    * every sum inside double-exact range. One (user) window + one
    * hash agg. */
  def qTsTwap(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, sf)
      .withColumn("next_us", lead(unix_micros(col("ts")), 1).over(w))
      .where(col("next_us").isNotNull)
      .withColumn("hold_s", expr("(next_us - unix_micros(ts)) div 1000000"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_holds"),
           sum(col("hold_s")).as("span_s"),
           (sum(col("value").cast(Util.D) * col("hold_s")).cast("double")
             / sum(col("hold_s"))).as("twap"))
      .orderBy("user_id")
  }

  /** Peak days — strict local maxima of the daily series per type that
    * also clear the series mean ("which days actually spiked", the
    * annotation layer a traffic dashboard draws): lag/lead neighbor
    * compares plus the cross-multiplied mean test `x·n_days > total`
    * — ALL-INTEGER, no float mean. Interior days only (both neighbors
    * observed). */
  def qTsPeaks(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val tot = Window.partitionBy("event_type")
    daily
      .withColumn("prev", lag(col("x"), 1).over(w))
      .withColumn("next", lead(col("x"), 1).over(w))
      .withColumn("n_days", count(lit(1)).over(tot))
      .withColumn("total", sum(col("x")).over(tot))
      .where(col("prev").isNotNull && col("next").isNotNull &&
             col("x") > col("prev") && col("x") > col("next") &&
             col("x") * col("n_days") > col("total"))
      .select(col("event_type"), col("day"), col("x").as("n_events"),
              col("prev"), col("next"))
      .orderBy("event_type", "day")
  }

  /** Freshness audit — "which streams stopped reporting": per type,
    * last event time and its staleness against the NEWEST event
    * anywhere (exact integer seconds), plus a stale flag at the 1-hour
    * bound. The first dashboard an on-call opens; ALL-INTEGER. */
  def qTsFreshness(s: SparkSession, sf: String): DataFrame = {
    val per = Tables.events(s, sf)
      .groupBy(col("event_type"))
      .agg(max(col("ts")).as("last_seen"), count(lit(1)).as("n_events"))
    val global = per.agg(max(col("last_seen")).as("newest"))
    per.crossJoin(broadcast(global))
      .withColumn("staleness_s",
        expr("(unix_micros(newest) - unix_micros(last_seen)) div 1000000"))
      .withColumn("stale", when(col("staleness_s") > 3600, 1L).otherwise(0L))
      .select(col("event_type"), col("last_seen"), col("n_events"),
              col("staleness_s"), col("stale"))
      .orderBy("event_type")
  }

  /** Decomposition-lite: DETRENDED weekly seasonality per type — the
    * `q_ts_seasonality` profile is biased when traffic trends (later
    * weekdays absorb the growth); here the OLS trend (the
    * q_ts_forecast_linreg moments, same exact-integer chain) is
    * removed first and the per-day-of-week means are taken over the
    * RESIDUALS. Residuals are floor-quantized at 1e-6 into BIGINT
    * (floor is exact on every double; the fitted value is a
    * deterministic mirrored IEEE chain), so the per-dow aggregation is
    * pure integer; one mirrored final division. Day-of-week class is
    * `day % 7` (epoch-day modulus — mirrored, labels are classes not
    * calendar names). */
  def qTsSeasonalDetrended(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    val d0 = daily.agg(min(col("day")).as("d0"))
    val dd = daily.crossJoin(broadcast(d0))
      .select(col("event_type"), col("day"), (col("day") - col("d0")).as("x"), col("y"))
    val fit = dd.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
           sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")))
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope") * col("sx")) / col("n"))
      .select(col("event_type"), col("slope"), col("intercept"))
    dd.join(broadcast(fit), "event_type")
      .withColumn("resid_fp", expr(
        "CAST(floor((y - (intercept + slope * x)) * 1000000) AS BIGINT)"))
      .groupBy(col("event_type"), (col("day") % 7).as("dow_class"))
      .agg(count(lit(1)).as("n_days"),
           (sum(col("resid_fp")).cast("double") / (count(lit(1)) * lit(1000000)))
             .as("avg_resid"))
      .orderBy("event_type", "dow_class")
  }

  /** MTTR / MTBF over the brownout intervals — the two numbers an
    * SRE review opens with, composed directly ON
    * `q_ts_outage_intervals`' output (the metric and the incident list
    * can never disagree): mean time to recovery = mean quiet-interval
    * length, mean time between failures = mean start-to-start gap,
    * both in hours at 1e-3 fixed point (`1000·Σ div n` — ALL-INTEGER,
    * one mirrored division each). */
  def qTsMttr(s: SparkSession, sf: String): DataFrame = {
    val intervals = qTsOutageIntervals(s, sf)
    val w = Window.orderBy("start_hour")
    val withGap = intervals
      .withColumn("next_start", lead(col("start_hour"), 1).over(w))
      .withColumn("gap", col("next_start") - col("start_hour"))
    withGap.agg(
        count(lit(1)).as("n_incidents"),
        sum(col("n_hours")).as("total_quiet_hours"),
        expr("1000 * sum(n_hours) div count(1)").as("mttr_mh"),
        expr("1000 * sum(gap) div nullif(count(gap), 0)").as("mtbf_mh"))
  }

  /** Lag-1 autocorrelation of the daily count series per type — "is
    * today's traffic predictive of tomorrow's" (≈1 trending, ≈0 noise,
    * <0 oscillating): Pearson corr of (xₜ, xₜ₊₁) from EXACT INTEGER
    * moments over the lagged pairs (daily counts and their products
    * are integers — the q_agg_corr discipline with no decimal cast
    * even needed), closed form in double, 6dp. One data-sized hash
    * agg; the lag window and moments run on days×types rows. */
  def qTsAutocorr(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val pairs = daily
      .withColumn("y", lead(col("x"), 1).over(w))
      .where(col("y").isNotNull)
    pairs.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"),
           sum(col("x")).cast("double").as("sx"), sum(col("y")).cast("double").as("sy"),
           sum(col("x") * col("y")).cast("double").as("sxy"),
           sum(col("x") * col("x")).cast("double").as("sxx"),
           sum(col("y") * col("y")).cast("double").as("syy"))
      .withColumn("autocorr_lag1",
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                 * (col("n") * col("syy") - col("sy") * col("sy"))), 6))
      .select(col("event_type"), col("n").cast("long").as("n_pairs"),
              col("autocorr_lag1"))
      .orderBy("event_type")
  }

  /** Brownout intervals — gaps-and-islands over QUIET hours (the
    * inverse of `q_win_streak`'s activity islands, and the "partial
    * outage" detector a pure zero-traffic rule misses): densify the
    * hourly axis (the `q_ts_gapfill` spine), flag hours below HALF the
    * mean hourly traffic with the cross-multiplied integer test
    * `cnt·n_hours·2 < total` (scale-invariant — no float mean, no
    * tuned absolute threshold), and merge consecutive quiet hours into
    * (start, end, duration) rows via the hour−row_number island key.
    * ALL-INTEGER; every stage runs on the tiny hourly series. */
  def qTsOutageIntervals(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.events(s, sf)
    val hourly = e.groupBy(expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("cnt"))
    val bounds = e.agg(expr("unix_micros(min(ts)) div 3600000000").as("lo"),
                       expr("unix_micros(max(ts)) div 3600000000").as("hi"))
    val axis = bounds.select(explode(sequence(col("lo"), col("hi"))).as("h"))
    val filled = axis.join(hourly, Seq("h"), "left")
      .select(col("h"), coalesce(col("cnt"), lit(0L)).as("c"))
    val totals = filled.agg(count(lit(1)).as("nh"), sum(col("c")).as("total"))
    val quiet = filled.crossJoin(broadcast(totals))
      .where(col("c") * col("nh") * 2 < col("total"))
      .select(col("h"))
    val island = Window.orderBy("h")
    quiet
      .withColumn("isl", col("h") - row_number().over(island))
      .groupBy(col("isl"))
      .agg(min(col("h")).as("start_hour"), max(col("h")).as("end_hour"),
           count(lit(1)).as("n_hours"))
      .select(col("start_hour"), col("end_hour"), col("n_hours"))
      .orderBy("start_hour")
  }

  /** Apdex score per event type — the classic user-satisfaction SLA
    * readout: satisfied (value ≤ T), tolerating (≤ 4T), frustrated;
    * apdex = (sat + tol/2) / total, held in 1e-3 fixed point with the
    * half cleared by cross-multiplication (`1000·(2·sat+tol) div
    * (2·total)`) — ALL-INTEGER, one hash agg. T=50. */
  def qTsApdex(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("total"),
           sum(when(col("value") <= 50.0, 1L).otherwise(0L)).as("sat"),
           sum(when(col("value") > 50.0 && col("value") <= 200.0, 1L).otherwise(0L))
             .as("tol"))
      .withColumn("apdex_pm", expr("1000 * (2 * sat + tol) div (2 * total)"))
      .orderBy("event_type")

  /** Event-type transition matrix — per-user Markov step counts (the
    * "where do users go next" path analysis): lag the previous type
    * over each user's (ts, id)-ordered stream, count (prev, next)
    * cells. One (user) window shuffle + one hash agg to the ≤ types²
    * matrix; ALL-INTEGER. */
  def qTsTransitionMatrix(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, sf)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("prev_type", "event_type")
  }

  /** Cumulative error-budget remaining — the month-long SLO account
    * (vs `q_ts_slo_burn`'s instantaneous rate): against a 99% SLO the
    * budget earned by day d is 1% of events-to-date, spend is errors-
    * to-date; remaining is kept in events×100 fixed point
    * (`cum_events − 100·cum_errors` — positive while inside budget),
    * with an exhausted flag. ALL-INTEGER; two window sums over the
    * tiny daily series. */
  def qTsErrorBudget(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
           sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))
    val cum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("cum_events", sum(col("n_events")).over(cum))
      .withColumn("cum_err", sum(col("n_err")).over(cum))
      .withColumn("budget_left_scaled", col("cum_events") - col("cum_err") * 100)
      .withColumn("exhausted",
        when(col("budget_left_scaled") < 0, 1L).otherwise(0L))
      .orderBy("day")
  }

  /** Rolling 7-day active users (WAU) — EXACT, without a distinct-over-
    * window (which no engine scales): each (user, day) pair fans out to
    * the ≤ 7 window-end days it contributes to (`explode(sequence)` of
    * integer day offsets), then one countDistinct per window day. The
    * fan-out rides the DEDUP'D (user, day) pairs — 7× a small frame,
    * not 7× the raw events — which is the shape that survives 100 TB;
    * trailing phantom windows are clipped at the data's max day.
    * ALL-INTEGER day arithmetic. */
  def qTsWauRolling(s: SparkSession, sf: String): DataFrame = {
    val pairs = Tables.events(s, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val bounds = pairs.agg(max(col("day")).as("maxd"))
    pairs
      .withColumn("o", explode(sequence(lit(0L), lit(6L))))
      .withColumn("window_day", col("day") + col("o"))
      .crossJoin(broadcast(bounds))
      .where(col("window_day") <= col("maxd"))
      .groupBy(col("window_day"))
      .agg(countDistinct(col("user_id")).as("wau"))
      .orderBy("window_day")
  }

  /** Percent-of-total share — "what fraction of today's traffic was
    * errors": each (day, type) cell's share of its day's total, in
    * 1e-3 fixed point (`1000·n div day_total` — ALL-INTEGER, no float
    * division anywhere). The share join is a window sum over the tiny
    * daily matrix, not a second scan. */
  def qTsPercentOfTotal(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val byDay = Window.partitionBy("day")
    daily
      .withColumn("day_total", sum(col("n")).over(byDay))
      .withColumn("share_pm", expr("1000 * n div day_total"))
      .orderBy("day", "event_type")
  }

  /** Top movers — the "what changed most since yesterday" dashboard
    * lead: largest |day-over-day delta| in daily event counts, ranked
    * with a total (|Δ|, type, day) order so the top-10 cut is
    * deterministic. ALL-INTEGER; the rank runs over the tiny
    * days×types series. */
  def qTsTopMovers(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily.withColumn("prev_n", lag(col("n"), 1).over(w))
      .where(col("prev_n").isNotNull)
      .withColumn("delta", col("n") - col("prev_n"))
      .orderBy(abs(col("delta")).desc, col("event_type"), col("day"))
      .limit(10)
  }

  /** Multi-window SLO burn alert (the SRE 2-window page rule): page an
    * hour only when BOTH the fast 1h burn exceeds 2× budget AND the
    * slow trailing-6h burn exceeds budget (budget 1%) — fast-only
    * pages on noise, slow-only pages late. Cross-multiplied integer
    * comparisons (`50·err > n`, `100·err6 > n6`), zero float anywhere.
    * The raw pass is one hash agg; both windows run over the ≤ 720-row
    * hourly series. */
  def qTsBurnMultiwindow(s: SparkSession, sf: String): DataFrame = {
    val hourly = Tables.events(s, sf)
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"),
           sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))
    val w6 = Window.orderBy("hour").rowsBetween(-5, 0)
    hourly
      .withColumn("n6", sum(col("n_events")).over(w6))
      .withColumn("err6", sum(col("n_err")).over(w6))
      .withColumn("page",
        when(col("n_err") * 50 > col("n_events") &&
             col("err6") * 100 > col("n6"), 1L).otherwise(0L))
      .orderBy("hour")
  }

  /** LTTB-style downsampling (largest-triangle, BUCKET-ANCHOR variant)
    * — the dashboard decimation that keeps visual extremes where
    * per-bucket averaging flattens them: per (type, day) keep the ONE
    * event maximizing the triangle area against the previous and next
    * day's mean points. True LTTB anchors on the previously SELECTED
    * point (a sequential dependency no engine parallelizes and no SQL
    * states); anchoring on the neighbor-bucket means — a declared,
    * standard simplification — makes every bucket's argmax independent
    * (embarrassingly parallel at 100 TB, one window pass here).
    * Determinism: x in integer minutes, y floor-quantized to 1e-3, and
    * the area comparison is cleared of its mean denominators by
    * cross-multiplying n₀·n₂ — the ranked quantity is an exact integer
    * (magnitudes ≤ ~2.5e15, long-safe), so the argmax can never flip
    * on float rounding. Interior days only (both anchors exist). */
  def qTsDownsampleLttb(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.events(s, sf)
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .withColumn("x1", expr("unix_micros(ts) div 60000000"))
      .withColumn("y1", expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)"))
    val daily = e.groupBy(col("event_type"), col("day"))
      .agg(sum(col("y1")).as("sd"), count(lit(1)).as("nd"))
    val byDay = Window.partitionBy("event_type").orderBy("day")
    // triangle area in DECIMAL(38,0): at sf100 (55k events/day/type,
    // fixed-point sums ~3e10) the cross product exceeds int64 — ANSI
    // Spark errors loudly, DuckDB overflows (the sf100 sweep's catch;
    // the true sf100 area is ~3.7e19, beyond int64 even as output).
    // The RANKING runs on the exact decimal (round-9 ADVICE: ranking on
    // the double readout collapsed distinct areas above 2^53 to the
    // event_id tiebreak); only the readout column converts to double —
    // a correctly-rounded conversion of the same exact integer in both
    // engines (DuckDB mirrors: HUGEINT rank, DOUBLE readout), so the
    // argmax can never flip on float rounding at any scale.
    //
    // FOLDED form (round-11, verdict ask #7): the area
    //   |(x1−x0)·C − (x2−x0)·(y1·n0 − s0)·n2|,  C = s2·n0 − s0·n2
    // distributes into |x1·C − y1·D + F| with D = (x2−x0)·n0·n2 and
    // F = (x2−x0)·s0·n2 − x0·C — C/D/F depend only on the ANCHOR row
    // (days×types of them), so the per-candidate decimal128 work drops
    // from ~6 multiplies to 2 multiplies + 2 adds on the same exact
    // integers (algebraically identical value, bit-equal ranking; the
    // DuckDB oracle keeps the unfolded spelling and hash-matches).
    val anchors = daily.select(col("event_type"), col("day"),
        lag(col("sd"), 1).over(byDay).as("s0"), lag(col("nd"), 1).over(byDay).as("n0"),
        (lag(col("day"), 1).over(byDay) * 1440 + 720).as("x0"),
        lead(col("sd"), 1).over(byDay).as("s2"), lead(col("nd"), 1).over(byDay).as("n2"),
        (lead(col("day"), 1).over(byDay) * 1440 + 720).as("x2"))
      .where(col("n0").isNotNull && col("n2").isNotNull)
      .withColumn("c_d", expr(
        "CAST(s2 AS DECIMAL(38,0)) * n0 - CAST(s0 AS DECIMAL(38,0)) * n2"))
      .withColumn("d_d", expr("CAST(x2 - x0 AS DECIMAL(38,0)) * n0 * n2"))
      .withColumn("f_d", expr(
        "CAST(x2 - x0 AS DECIMAL(38,0)) * s0 * n2 - CAST(x0 AS DECIMAL(38,0)) * c_d"))
    val areaDec = expr("abs(CAST(x1 AS DECIMAL(38,0)) * c_d - CAST(y1 AS DECIMAL(38,0)) * d_d + f_d)")
    val pick = Window.partitionBy("event_type", "day")
      .orderBy(col("area_dec").desc, col("event_id").asc)
    e.join(broadcast(anchors), Seq("event_type", "day"))
      .withColumn("area_dec", areaDec)
      .withColumn("rn", row_number().over(pick))
      .where(col("rn") === 1)
      .select(col("event_type"), col("day"), col("event_id"), col("value"),
              col("area_dec").cast("double").as("area"))
      .orderBy("event_type", "day")
  }

  /** Per-type linear trend + forecast — OLS over the daily count
    * series, the "is traffic growing and where will it be next week"
    * dashboard readout. The q_agg_corr discipline: every moment
    * (n, Σx, Σy, Σxy, Σx²) is an exact INTEGER sum (x = day index,
    * y = daily count), so slope = (nΣxy−ΣxΣy)/(nΣxx−Σx²) is one
    * double division of two exact integers, and intercept/forecast
    * are short mirrored IEEE chains — no accumulation-order drift
    * anywhere. Day index is day − global-min-day (a broadcast 1-row
    * scalar), keeping the integers small. The raw-data pass is one
    * hash agg to days×types rows; the regression runs on that tiny
    * series. */
  def qTsForecastLinreg(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    val d0 = daily.agg(min(col("day")).as("d0"))
    val dd = daily.crossJoin(broadcast(d0)).select(
      col("event_type"), (col("day") - col("d0")).as("x"), col("y"))
    dd.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
           sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
           max(col("x")).as("mx"))
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")))
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope") * col("sx")) / col("n"))
      .withColumn("forecast_7d",
        col("intercept") + col("slope") * (col("mx") + lit(7)))
      .select(col("event_type"), col("n").as("n_days"), col("slope"),
              col("intercept"), col("forecast_7d"))
      .orderBy("event_type")
  }

  /** Holt double-exponential smoothing (level + trend) per user — the
    * forecasting step up from `q_ts_ewma` (level only) and
    * `q_ts_forecast_linreg` (global trend only): a COUPLED linear
    * recursion no window frame can express, run as a per-key ORDERED
    * FOLD — `aggregate` over the sorted event list (codegen'd HOF; the
    * list stays inside the executor, one row out per key). α=β=1/2 so
    * every update is an exact arithmetic shift on 1e-4 fixed-point
    * longs (`shiftright` floors identically on both engines for
    * negatives — unlike integer division, which Spark truncates and
    * DuckDB floors): replay/shard-move invariant, zero float anywhere.
    * The DuckDB twin is `list_reduce`, which seeds the accumulator
    * with the FIRST element — mirrored here via `aggregate(slice(seq,
    * 2, …), seq[1], …)`, making the Holt init (level₀ = x₀, trend₀ =
    * 0) the seed element itself on both engines.
    *
    * Scale: one hash agg (collect per user) + map-side fold. Per-key
    * state is the user's event list — bounded by per-key cardinality
    * like every collect_sorted-family op; the streaming form would be
    * an O(1) ValueState recursion (the s_stream_ewma shape). */
  def qTsHolt(s: SparkSession, sf: String): DataFrame = {
    Tables.events(s, sf)
      // round-half-up to 1e-4 fixed point BEFORE any arithmetic —
      // floor(x·1e4 + 0.5) is the cross-engine-stable rounding (§7.3)
      .withColumn("xfp", floor(col("value") * lit(1e4) + lit(0.5)).cast("long"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"), col("xfp"))))
        .as("seq"))
      .withColumn("st", expr("""
        aggregate(
          slice(transform(seq, e -> named_struct('l', e.xfp, 't', CAST(0 AS BIGINT))),
                2, greatest(size(seq) - 1, 0)),
          named_struct('l', element_at(seq, 1).xfp, 't', CAST(0 AS BIGINT)),
          (acc, e) -> named_struct(
            'l', shiftright(e.l + acc.l + acc.t, 1),
            't', shiftright(shiftright(e.l + acc.l + acc.t, 1) - acc.l + acc.t, 1)))"""))
      .select(col("user_id"),
              col("st.l").as("level_fp"), col("st.t").as("trend_fp"),
              (col("st.l") + col("st.t")).as("forecast_fp"))
      .orderBy("user_id")
  }

  /** Holt–Winters additive level+trend+WEEKLY-seasonal fold over the
    * per-type daily count series — the seasonal extension of
    * `q_ts_holt` (α=β=γ=1/2 as arithmetic shifts, counts pre-scaled
    * ×256 for sub-integer resolution): lᵢ = (x−s_dow+l+t)>>1,
    * tᵢ = (lᵢ−l+t)>>1, s_dowᵢ = (x−lᵢ+s_dow)>>1, everything exact
    * BIGINT (Spark `shiftright` ≡ DuckDB `>>`, both arithmetic).
    * The per-step seasonal-slot update defeats every window rewrite →
    * per-key ordered FOLD (`aggregate` HOF) with the 7-slot seasonal
    * vector as an array the lambda updates functionally; the oracle
    * states the identical recursion as a recursive CTE carrying
    * s0..s6 as columns. Forecast = l + t + s[(last_day+1) mod 7].
    * One data-sized hash agg; the fold runs over ≤ types×days rows. */
  def qTsHoltWinters(s: SparkSession, sf: String): DataFrame = {
    Tables.events(s, sf)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('day', ts)) div 86400000000").as("day"))
      .agg((count(lit(1)) * lit(256L)).as("xfp"))
      .withColumn("dow", expr("day % 7"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
           sort_array(collect_list(struct(col("day"), col("dow"), col("xfp"))))
             .as("seq"))
      .withColumn("st", expr("""
        aggregate(
          slice(seq, 2, greatest(size(seq) - 1, 0)),
          named_struct('l', element_at(seq, 1).xfp, 't', CAST(0 AS BIGINT),
                       's', array_repeat(CAST(0 AS BIGINT), 7)),
          (acc, e) -> named_struct(
            'l', shiftright(e.xfp - element_at(acc.s, CAST(e.dow AS INT) + 1)
                            + acc.l + acc.t, 1),
            't', shiftright(shiftright(e.xfp - element_at(acc.s, CAST(e.dow AS INT) + 1)
                                       + acc.l + acc.t, 1) - acc.l + acc.t, 1),
            's', transform(acc.s, (v, k) -> CASE WHEN k = CAST(e.dow AS INT)
                   THEN shiftright(e.xfp
                          - shiftright(e.xfp - v + acc.l + acc.t, 1) + v, 1)
                   ELSE v END)))"""))
      .select(col("event_type"), col("n_days"),
              col("st.l").as("level_fp"), col("st.t").as("trend_fp"),
              expr("aggregate(st.s, CAST(0 AS BIGINT), (a, v) -> a + v)")
                .as("seas_sum_fp"),
              expr("""st.l + st.t + element_at(st.s,
                      CAST((element_at(seq, size(seq)).day + 1) % 7 AS INT) + 1)""")
                .as("forecast_fp"))
      .orderBy("event_type")
  }

  /** Sequential CUSUM drift accumulator per event_type — the ONLINE
    * companion to `q_ts_changepoint` (which scores split candidates
    * offline): Sᵢ = max(0, Sᵢ₋₁ + (xᵢ − target)) over the daily count
    * series, the page-hinkley-style statistic that rises while traffic
    * runs above target and floors at zero while below. Scaled
    * ALL-INTEGER: with target = total/n_days, multiply through by
    * n_days → devᵢ = nᵢ·n_days − total, exact BIGINTs. The max()
    * inside the recursion breaks every window/prefix-sum rewrite, so
    * it runs as the per-key ordered FOLD (the `q_ts_holt` shape):
    * `aggregate` over the sorted days×types list, tracking (running S,
    * peak, FIRST peak day — strict-greater update keeps the earliest).
    * One hash agg + a types-row fold; the oracle states the identical
    * recursion as a recursive CTE. */
  def qTsCusum(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('day', ts)) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
    val totals = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("total"))
    daily.join(totals, "event_type")
      .withColumn("dev", col("n") * col("n_days") - col("total"))
      .groupBy(col("event_type"), col("n_days"), col("total"))
      .agg(sort_array(collect_list(struct(col("day"), col("dev")))).as("seq"))
      .withColumn("st", expr("""
        aggregate(seq,
          named_struct('s', CAST(0 AS BIGINT), 'mx', CAST(0 AS BIGINT),
                       'mxd', CAST(-1 AS BIGINT)),
          (acc, e) -> named_struct(
            's', greatest(acc.s + e.dev, CAST(0 AS BIGINT)),
            'mx', greatest(acc.mx, greatest(acc.s + e.dev, CAST(0 AS BIGINT))),
            'mxd', CASE WHEN greatest(acc.s + e.dev, CAST(0 AS BIGINT)) > acc.mx
                        THEN e.day ELSE acc.mxd END))"""))
      .select(col("event_type"), col("n_days"), col("total"),
              col("st.mx").as("peak"), col("st.mxd").as("peak_day"),
              col("st.s").as("final_s"))
      .orderBy("event_type")
  }

  /** Theil–Sen robust trend per event type — the median of all pairwise
    * daily-count slopes (y_j−y_i)/(j−i), the estimator that shrugs off
    * the outlier days that wreck `q_ts_forecast_linreg`'s OLS line.
    * Determinism: each slope is truncated toward zero into 1e-6/day
    * fixed point with EXPLICITLY sign-split integer division (Spark
    * `div` truncates toward zero, DuckDB `//` floors — the CASE keeps
    * both numerators non-negative so the engines agree), and the median
    * is selected by rank over the slope values (doubled when n is odd)
    * so the output stays an exact BIGINT. Scale: the only data-sized
    * pass is the (type, day) hash agg; the pair join is over the
    * CALENDAR-bounded daily frame (≤ C(days,2) per type ≈ thousands
    * forever), so 100× the rows changes nothing after the first agg. */
  def qTsTheilSen(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    val a = daily.select(col("event_type"), col("day").as("di"), col("y").as("yi"))
    val b = daily.select(col("event_type").as("et"), col("day").as("dj"), col("y").as("yj"))
    val pairs = a.join(b, a("event_type") === b("et") && col("di") < col("dj"))
      .select(col("event_type"),
        expr("""CASE WHEN yj >= yi THEN ((yj - yi) * 1000000) div (dj - di)
                     ELSE -(((yi - yj) * 1000000) div (dj - di)) END""").as("slope_fp"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("slope_fp"))
    pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(first(col("np")).as("n_pairs"),
           sum(expr("""slope_fp * (CASE WHEN rn = (np + 1) div 2 THEN 1 ELSE 0 END
                                 + CASE WHEN rn = np div 2 + 1 THEN 1 ELSE 0 END)"""))
             .as("slope_x2_fp"))
      .orderBy("event_type")
  }

  /** Mann–Kendall trend test per event type over the daily-count
    * series — the NONPARAMETRIC "is this metric monotonically
    * drifting" gate ([[qTsTheilSen]] estimates the slope; MK decides
    * whether a trend exists at all): S = Σ_{i<j} sign(y_j − y_i) over
    * all day pairs, the tie-corrected variance
    * 18·Var = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5), and the
    * continuity-corrected z = (S − sign(S))/√(Var). ALL-INTEGER S and
    * var18 (counts and tie groups are BIGINTs); z is one double
    * expression over exact integers, rounded to 6dp, 0-pinned when
    * S = 0 or Var = 0. Scale: the only data-sized pass is the
    * (type, day) hash agg; the sign-pair join and the tie grouping run
    * over the CALENDAR-bounded daily frame (≤ C(days,2) pairs per type
    * forever) — the [[qTsTheilSen]] shape. */
  def qTsMkTrend(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("y"))
    val a = daily.select(col("event_type"), col("day").as("di"), col("y").as("yi"))
    val b = daily.select(col("event_type").as("et"), col("day").as("dj"), col("y").as("yj"))
    val sStat = a.join(b, a("event_type") === b("et") && col("di") < col("dj"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("yj") > col("yi"), 1L)
                 .when(col("yj") < col("yi"), -1L).otherwise(0L)).as("s_stat"))
    val nDays = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy(col("event_type"), col("y"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_corr"))
    nDays.join(sStat, "event_type").join(ties, "event_type")
      .withColumn("var18", expr(
        "n_days * (n_days - 1) * (2 * n_days + 5) - tie_corr"))
      .withColumn("z", expr(
        """CASE WHEN s_stat <> 0 AND var18 > 0
                THEN round((CAST(s_stat AS DOUBLE) - CAST(sign(s_stat) AS DOUBLE))
                           / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6)
                ELSE 0.0 END"""))
      .select(col("event_type"), col("n_days"), col("s_stat"),
              col("var18"), col("z"))
      .orderBy("event_type")
  }

  /** Wald–Wolfowitz runs test on the global daily event-count series —
    * "is the day-to-day traffic pattern RANDOM around its median, or
    * does it cluster" (too few runs = regime persistence / autocorr;
    * too many = oscillation): days above/below the series median
    * (median-equal days excluded, the standard treatment) form a ±
    * sequence; R = run count, z from the exact run-count moments.
    * ALL-INTEGER core: the median of integer counts is .5-granular so
    * 2·med is an exact BIGINT and the above/below test is integer
    * (2x <> med_x2); R, n1, n2 are BIGINTs; z is cross-multiplied by
    * n = n1+n2 into (n·R − n − 2n1n2)/√(2n1n2(2n1n2−n)/(n−1)) — one
    * double sqrt+division over exact integers, rounded 6dp, 0-pinned
    * when either side is empty or the variance degenerates. Scale: one
    * data-sized day agg; everything after runs on the calendar-bounded
    * daily frame. */
  def qTsRunsTest(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
    val med = daily.agg(expr("CAST(2 * percentile(x, 0.5) AS BIGINT)").as("med_x2"))
    val w = Window.orderBy("day")
    daily.crossJoin(broadcast(med))
      .where(expr("2 * x <> med_x2"))
      .withColumn("sgn", expr("CASE WHEN 2 * x > med_x2 THEN 1 ELSE -1 END"))
      .withColumn("prev", lag(col("sgn"), 1).over(w))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("sgn"), 1L).otherwise(0L))
      .agg(sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n1"),
           sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n2"),
           sum(col("chg")).as("runs"))
      .withColumn("z", expr(
        """CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
                AND 2 * n1 * n2 > n1 + n2
                THEN round(CAST((n1 + n2) * runs - (n1 + n2) - 2 * n1 * n2 AS DOUBLE)
                     / sqrt(CAST(2 * n1 * n2 AS DOUBLE)
                            * CAST(2 * n1 * n2 - n1 - n2 AS DOUBLE)
                            / CAST(n1 + n2 - 1 AS DOUBLE)), 6)
                ELSE 0.0 END"""))
      .select(col("n1"), col("n2"), col("runs"), col("z"))
  }

  /** Lagged cross-correlation between the click and view daily-count
    * series at lags −7…+7 — the lead/lag detector ("do views predict
    * clicks k days out"): Pearson r between x_t and y_{t+ℓ} over the
    * overlapping days, per lag. The argmax-|r| row is the answer; the
    * full 15-row profile is the diagnostic. EXACT integer moments per
    * lag (counts are BIGINTs; the lag join is an equi-join on
    * day+ℓ after a 15-row broadcast lag table), r = one double
    * expression over exact integers rounded 6dp, NULL-pinned when a
    * variance degenerates. Scale: one data-sized (type, day) agg;
    * the lag join runs on the calendar-bounded daily frames (≤365·15
    * rows forever). */
  def qTsCrossCorr(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
    val x = daily.where(col("event_type") === "click")
      .select(col("day"), col("n").as("x"))
    val y = daily.where(col("event_type") === "view")
      .select(col("day").as("yday"), col("n").as("y"))
    val lags = s.range(-7, 8).select(col("id").as("lag"))
    x.crossJoin(broadcast(lags))
      .join(y, col("yday") === col("day") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("m"),
           sum(col("x")).as("sx"), sum(col("y")).as("sy"),
           sum(col("x") * col("x")).as("sxx"),
           sum(col("y") * col("y")).as("syy"),
           sum(col("x") * col("y")).as("sxy"))
      .withColumn("r", expr(
        """CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
                THEN round(CAST(m * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(m * syy - sy * sy AS DOUBLE))), 6)
                ELSE NULL END"""))
      .select(col("lag"), col("m"), col("r"))
      .orderBy("lag")
  }

  /** Lo–MacKinlay variance-ratio test per event type — "is the daily
    * series a random walk or does it mean-revert/trend":
    * VR(5) = Var(5-day diffs)/(5·Var(1-day diffs)); ≈1 = random walk,
    * <1 = mean reversion, >1 = momentum. Determinism: diffs are exact
    * BIGINT lag deltas over the calendar-bounded daily frame, both
    * variance numerators are cross-multiplied population forms
    * m·Σd² − (Σd)² accumulated in DECIMAL(38,0) (Σd² overflows BIGINT
    * once daily sums pass ~1e9 — the ANOVA overflow rule), and VR is
    * ONE mirrored double expression over the exact decimals rounded
    * 6dp, NULL-pinned on degenerate variance. Shape: one data-sized
    * day agg, two lag windows, constant-size finish. */
  def qTsVarianceRatio(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("d1", col("x") - lag(col("x"), 1).over(w))
      .withColumn("d5", col("x") - lag(col("x"), 5).over(w))
      .groupBy(col("event_type"))
      .agg(count(col("d1")).as("m1"),
           sum(col("d1")).as("s1"),
           sum(expr("CAST(d1 AS DECIMAL(38,0)) * d1")).as("q1"),
           count(col("d5")).as("m5"),
           sum(col("d5")).as("s5"),
           sum(expr("CAST(d5 AS DECIMAL(38,0)) * d5")).as("q5"))
      .withColumn("vr", expr(
        """CASE WHEN m1 > 0 AND m5 > 0
                AND m1 * q1 - CAST(s1 AS DECIMAL(38,0)) * s1 > 0
                THEN round((CAST(m5 * q5 - CAST(s5 AS DECIMAL(38,0)) * s5 AS DOUBLE)
                            * CAST(m1 AS DOUBLE) * CAST(m1 AS DOUBLE))
                     / (5.0 * CAST(m1 * q1 - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)
                        * CAST(m5 AS DOUBLE) * CAST(m5 AS DOUBLE)), 6)
                ELSE NULL END"""))
      .select(col("event_type"), col("m1"), col("m5"), col("vr"))
      .orderBy("event_type")
  }

  /** Kendall τ-b rank correlation between the click and view daily
    * series — the robust companion to [[qTsCrossCorr]]'s lag-0 Pearson
    * (τ sees any monotone coupling, shrugs off spike days, and the
    * tie correction keeps flat stretches honest) and the two-series
    * sibling of [[qTsMkTrend]] (MK **is** Kendall vs time):
    * over all day pairs C/D = concordant/discordant counts,
    * τ_b = (C−D)/√((n₀−n₁)(n₀−n₂)) with n₀ = C(n,2) and n₁/n₂ the
    * x/y tie-pair counts. ALL-INTEGER C, D, n₀, n₁, n₂ from ONE
    * pairwise aggregation; τ is one double over exact integers
    * rounded 6dp, NULL-pinned if either factor degenerates. Scale: one
    * data-sized (type, day) agg; the pair join is calendar-bounded
    * (the Theil–Sen shape). */
  def qTsKendallTau(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
    val d = daily.where(col("event_type") === "click")
      .select(col("day"), col("n").as("x"))
      .join(daily.where(col("event_type") === "view")
              .select(col("day").as("vday"), col("n").as("y")),
            col("vday") === col("day"))
      .select(col("day"), col("x"), col("y"))
    // constant-size theta self-join: the joined frame is the ≤365-row
    // calendar series at ANY data scale, so broadcast one side — a BNLJ
    // over a calendar-bounded broadcast beats the CartesianProduct
    // Spark picks when neither theta side is hinted
    val p = d.select(col("day").as("d1"), col("x").as("x1"), col("y").as("y1"))
      .join(broadcast(d.select(col("day").as("d2"), col("x").as("x2"), col("y").as("y2"))),
            col("d1") < col("d2"))
    p.agg(
        count(lit(1)).as("n0"),
        sum(when((col("x1") - col("x2")) * (col("y1") - col("y2")) > 0, 1L)
              .otherwise(0L)).as("nc"),
        sum(when((col("x1") - col("x2")) * (col("y1") - col("y2")) < 0, 1L)
              .otherwise(0L)).as("nd"),
        sum(when(col("x1") === col("x2"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("y1") === col("y2"), 1L).otherwise(0L)).as("n2"))
      .withColumn("tau_b", expr(
        """CASE WHEN n0 > n1 AND n0 > n2
                THEN round(CAST(nc - nd AS DOUBLE)
                     / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE)), 6)
                ELSE NULL END"""))
      .select(col("n0"), col("nc"), col("nd"), col("n1"), col("n2"), col("tau_b"))
  }

  /** Hampel outlier filter over the global daily event-count series —
    * the rolling-median/MAD despiker ("which days are >3 robust sigmas
    * off their ±3-day neighborhood") that survives the level shifts a
    * global z-score (`q_ts_anomaly`) smears. Exactness: the window
    * median of integer counts is .5-granular and the MAD of those
    * deviations .25-granular, so 2·med and 4·mad are EXACT BIGINTs
    * (Spark `percentile` and DuckDB `quantile_cont` both average the
    * two middle values); the 3·1.4826 = 22239/5000 gate is the pure
    * integer test 5000·|4(x−med)| > 22239·(4·mad). Scale: one
    * data-sized day agg, then two range self-joins over the ≤365-row
    * calendar frame — constant work at any data size. */
  def qTsHampel(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
    val nb = daily.select(col("day").as("nd"), col("x").as("nx"))
    val med = daily.join(nb, col("nd").between(col("day") - 3, col("day") + 3))
      .groupBy(col("day"), col("x"))
      .agg(expr("percentile(nx, 0.5)").as("med"))
    val mad = med.join(nb, col("nd").between(col("day") - 3, col("day") + 3))
      .groupBy(col("day"), col("x"), col("med"))
      .agg(expr("percentile(abs(CAST(nx AS DOUBLE) - med), 0.5)").as("mad"))
    mad.select(col("day"), col("x").as("n_events"),
        expr("CAST(2 * med AS BIGINT)").as("med_x2"),
        expr("CAST(4 * mad AS BIGINT)").as("mad_x4"))
      .withColumn("is_outlier", expr(
        "5000 * abs(4 * n_events - 2 * med_x2) > 22239 * mad_x4"))
      .orderBy("day")
  }

  /** Burstiness coefficient per user — B = (σ−μ)/(σ+μ) over the
    * inter-arrival gaps (Goh & Barabási): −1 = metronome, 0 = Poisson,
    * →1 = heavy bursts; the one-number answer to "is this user's
    * traffic schedulable or spiky", and the time-domain companion to
    * `q_agg_gini`'s volume concentration. Determinism discipline: gaps
    * are INTEGER SECONDS (µs div 1e6 — exact), moments (n, Σd, Σd²)
    * are exact BIGINTs, and B reduces to (√q − Σd)/(√q + Σd) with
    * q = n·Σd² − (Σd)² — ONE correctly-rounded IEEE sqrt of an exact
    * integer on both engines, one mirrored division, floor(·1e4+0.5)
    * fixed-point readout. All-same-timestamp degenerate keys (Σd = 0)
    * yield 0 via a guarded CASE (ANSI-safe: no division reachable).
    * One (user) window pass + one hash agg. */
  def qTsBurstiness(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, sf)
      .withColumn("t_s", expr("unix_micros(ts) div 1000000"))
      .withColumn("d", col("t_s") - lag(col("t_s"), 1).over(w))
      .where(col("d").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("d")).as("sum_s"),
           sum(col("d") * col("d")).as("sum_s2"))
      .where(col("n_gaps") >= 2)
      .withColumn("burst_fp", expr("""
        CASE WHEN sum_s = 0 THEN CAST(0 AS BIGINT)
             ELSE CAST(floor(
               (sqrt(CAST(n_gaps * sum_s2 - sum_s * sum_s AS DOUBLE))
                  - CAST(sum_s AS DOUBLE))
               / (sqrt(CAST(n_gaps * sum_s2 - sum_s * sum_s AS DOUBLE))
                  + CAST(sum_s AS DOUBLE)) * 10000 + 0.5) AS BIGINT) END"""))
      .select(col("user_id"), col("n_gaps"), col("sum_s"), col("burst_fp"))
      .orderBy("user_id")
  }

  /** Hourly session concurrency — "how many user sessions were LIVE in
    * each hour", the capacity/licensing readout on top of
    * [[qTsSessionize]]'s 30-minute-gap sessions: a session [s, e]
    * counts toward every hour bucket it overlaps. The at-scale shape
    * is interval bucket-REPLICATION (the q_join_interval move): each
    * session explodes to its spanned hours (fan-out bounded by
    * duration/1h, sessions are gap-bounded so the factor is small),
    * then one hour hash agg — NO global-order sweep window (a
    * single-partition cumsum is the naive formulation's scale-killer;
    * the overlap-count semantic needs only per-bucket membership).
    * All-integer: hour indices from exact µs division. */
  def qTsSessionConcurrency(s: SparkSession, sf: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val newSess = when(us - lag(us, 1).over(
        Window.partitionBy("user_id").orderBy(col("ts"), col("event_id")))
        > 1800L * 1000000L, 1).otherwise(0)
    val sessions = Tables.events(s, sf)
      .withColumn("sess", sum(newSess).over(
        Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess"))
      .agg(expr("unix_micros(min(ts)) div 3600000000").as("h_lo"),
           expr("unix_micros(max(ts)) div 3600000000").as("h_hi"))
    sessions
      .select(col("user_id"), explode(sequence(col("h_lo"), col("h_hi"))).as("hour"))
      .groupBy(col("hour"))
      .agg(count(lit(1)).as("live_sessions"),
           countDistinct(col("user_id")).as("live_users"))
      .orderBy("hour")
  }

  /** Last-touch conversion attribution — the product-analytics staple
    * over a telemetry event stream: each purchase is credited to the
    * SAME user's latest preceding click/view within a 7-day lookback
    * (older or absent → the 'none' bucket), rolled up to conversions +
    * attributed revenue per channel. Shape = the q_join_asof idiom:
    * ONE (user_id) window shuffle with two LAST-IGNORE-NULLS frames
    * (channel + its ts — non-null on exactly the same rows, so the
    * pair is always from one touch row), no self-join; the lookback
    * test runs in exact integer microseconds; revenue through the
    * order-independent decimal sum. At 100 TB this is a single
    * hash-partitioned window pass over the fact stream — the self-join
    * formulation it replaces shuffles the touch table a second time. */
  def qTsAttribution(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") === "click" ||
                     col("event_type") === "view", col("event_type"))
    Tables.events(s, sf)
      .withColumn("lt", last(touch, ignoreNulls = true).over(w))
      .withColumn("lt_ts",
        last(when(touch.isNotNull, col("ts")), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .withColumn("channel",
        when(col("lt_ts").isNotNull &&
             unix_micros(col("ts")) - unix_micros(col("lt_ts")) <= 604800000000L,
             col("lt")).otherwise(lit("none")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"),
           dsum(col("value")).as("attributed_value"))
      .orderBy("channel")
  }

  /** RFM segmentation — the classic customer-value grid (recency /
    * frequency / monetary quintiles over purchase activity), the
    * readout behind "champions / at-risk / hibernating" lifecycle
    * marketing. Per purchasing user: last purchase day, purchase
    * count, exact-decimal revenue; each metric scored 1–5 by NTILE(5)
    * semantics with ties broken on user_id (deterministic across
    * engines and partitionings), then rolled up to the populated
    * (r,f,m) cells with user counts + segment revenue. Revenue
    * ordering keys are exact decimals, so quintile boundaries can
    * never straddle engines.
    *
    * Scale shape (round-13): the three quintile scores were three
    * UNPARTITIONED ntile windows over the per-user frame — fine for
    * the telemetry genre's "tiny" user counts, a single-task sort ×3
    * at the LLM-pipeline scale this engine also claims. They are now
    * ONE [[Util.rankedByRange]]: the per-user frame explodes to
    * (metric_id, key, user_id) rows — the three order keys cast to one
    * DECIMAL(38,4) domain, an exact, order-preserving embedding for
    * day counts, purchase counts, and the DECIMAL(28,4) revenue — and
    * a single rankedByRange over (metric_id, key, user_id) range-
    * partitions ONCE. Each metric's block is contiguous in that total
    * order, so its per-metric rank is just global_rank − metric_id·n,
    * and one exchange-free pivot (groupBy user_id over the 3n rows)
    * recovers the per-user score triple. Cost: one sampled range
    * exchange and one ≤ #partitions offsets job, where three separate
    * ranks would pay three of each. Buckets stay bit-identical
    * (closed-form [[Util.ntileFromRank]], ties broken on user_id). */
  def qTsRfm(s: SparkSession, sf: String): DataFrame = {
    val D38 = org.apache.spark.sql.types.DecimalType(38, 4)
    val users = Tables.events(s, sf)
      .where(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(expr("unix_micros(max(ts)) div 86400000000").as("last_day"),
           count(lit(1)).as("f"),
           sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 4))).as("m"))
    val longF = users.select(col("user_id"),
      explode(array(
        struct(lit(0).as("mid"), col("last_day").cast(D38).as("k")),
        struct(lit(1).as("mid"), col("f").cast(D38).as("k")),
        struct(lit(2).as("mid"), col("m").cast(D38).as("k")))).as("e"))
      .select(col("e.mid").as("mid"), col("e.k").as("k"), col("user_id"))
    val ranked = Util.rankedByRange(longF,
      Seq(col("mid"), col("k"), col("user_id")), "__r")
    // n per metric = total/3 exactly (every user contributes one row
    // per metric)
    val totals = ranked.agg((count(lit(1)) / 3).cast("long").as("__n"))
    val scored = ranked.crossJoin(broadcast(totals))
      .withColumn("score",
        Util.ntileFromRank(col("__r") - col("mid").cast("long") * col("__n"),
                           col("__n"), 5))
      .groupBy(col("user_id"))
      .agg(max(when(col("mid") === 0, col("score"))).as("r_score"),
           max(when(col("mid") === 1, col("score"))).as("f_score"),
           max(when(col("mid") === 2, col("score"))).as("m_score"),
           // back to the pre-explode DECIMAL(28,4) (exact — k IS m for
           // mid=2) so the segment sum keeps its round-13 headroom
           max(when(col("mid") === 2, col("k")))
             .cast(org.apache.spark.sql.types.DecimalType(28, 4)).as("m"))
    scored.groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"),
           sum(col("m")).cast("double").as("segment_value"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** Growth accounting — the DAU decomposition every growth team runs:
    * per day, actives split into NEW (first-ever day), RETAINED
    * (also active yesterday), RESURRECTED (returning after a gap),
    * plus CHURNED = yesterday's actives who didn't return
    * (active(d−1) − retained(d), NULL-pinned when the daily frame has
    * a calendar gap — both engines). All counts are exact integers
    * over the distinct (user, day) activity frame. Shape: one distinct
    * hash agg to (user, day), one (user)-partitioned window for
    * first-day + previous-day, a day-level hash agg, and a final lag
    * over the ≤#days frame — the fact stream shuffles once on user_id
    * and once on day, both bounded. */
  def qTsGrowthAccounting(s: SparkSession, sf: String): DataFrame = {
    val ud = Tables.events(s, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val wu = Window.partitionBy("user_id").orderBy("day")
    val tagged = ud
      .withColumn("first_day", min(col("day")).over(Window.partitionBy("user_id")))
      .withColumn("prev_day", lag(col("day"), 1).over(wu))
    val daily = tagged.groupBy(col("day")).agg(
      count(lit(1)).as("active"),
      sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"),
      sum(when(col("prev_day") === col("day") - 1, 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("prev_day").isNotNull && col("prev_day") < col("day") - 1, 1L)
        .otherwise(0L)).as("n_resurrected"))
    val wd = Window.orderBy("day")
    daily.withColumn("n_churned",
        when(lag(col("day"), 1).over(wd) === col("day") - 1,
          lag(col("active"), 1).over(wd) - col("n_retained")))
      .orderBy("day")
  }

  /** Daily p95 trend with week-over-week ratio — the latency-SLO
    * drilldown ("which day did p95 start degrading, and is it worse
    * than the same weekday last week"): exact interpolated p95 per
    * (event_type, day) rounded 4dp (the q_agg_percentile_exact
    * cross-engine recipe — both engines interpolate the identical
    * sorted doubles), then WoW = p95 / lag(p95, 7) over each type's
    * daily series, one mirrored division rounded 6dp, NULL-pinned on
    * a missing or zero prior week. The exact percentile buffers each
    * (type, day) slice — fine wherever a day×type slice fits an
    * executor; at 100 TB/day the drop-in form is the
    * a_agg_percentile_approx sketch with this same trend frame. */
  def qTsP95Trend(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .groupBy(col("event_type"), col("day"))
      .agg(round(expr("percentile(value, 0.95)"), 4).as("p95"),
           count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily.withColumn("p95_wow",
        when(lag(col("p95"), 7).over(w) > 0,
          round(col("p95") / lag(col("p95"), 7).over(w), 6)))
      .orderBy("event_type", "day")
  }

  /** Daily top talkers — the "who is hammering the system today"
    * telemetry staple (rate-limiting, abuse triage, noisy-neighbor
    * hunts all start here): top-3 users by event count per day, ranked
    * with a (count DESC, user_id) tie-break so the cut is
    * deterministic. Shape: one (day, user) hash agg shrinks the stream
    * to the per-day activity frame, then a (day)-partitioned
    * row_number keeps 3 — at scale the window distributes by day and
    * each partition ranks only its own users (a per-partition top-k +
    * merge under AQE; never a global sort of the fact table). */
  def qTsTopTalkers(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .groupBy(col("day"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("day").orderBy(desc("n_events"), asc("user_id"))
    daily.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
      .select(col("day"), col("rk"), col("user_id"), col("n_events"))
      .orderBy("day", "rk")
  }

  /** Alert suppression / flap dedup — the paging-hygiene readout every
    * on-call rotation runs: an error event FIRES a page only when the
    * same user's previous error is more than 30 minutes old (the
    * quiet-period rule); closer repeats are suppressed as flaps of the
    * same incident. Per day: raw error volume, pages actually fired,
    * and the suppression rate in 1e-3 fixed point — the "how much
    * noise does the cooldown absorb" number. One (user)-partitioned
    * lag over the error substream (the filter rides the scan), then a
    * day-level hash agg; exact integer µs gap test, ALL-INTEGER
    * output. */
  def qTsAlertSuppress(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
    Tables.events(s, sf)
      .where(col("event_type") === "error")
      .withColumn("fired",
        when(gapUs.isNull || gapUs > 1800L * 1000000L, 1L).otherwise(0L))
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_raw"), sum(col("fired")).as("n_fired"))
      .withColumn("suppressed_pm",
        expr("1000 * (n_raw - n_fired) div n_raw"))
      .orderBy("day")
  }

  /** Funnel time-to-convert — the second half of the funnel readout
    * ([[qTsFunnel]] counts who converts; this measures HOW LONG):
    * for each user whose first purchase follows their first signup,
    * the exact integer-µs latency between the two, summarized as
    * n_converted + exact interpolated p50/p95/max (the
    * q_agg_percentile_exact recipe, 4dp). The activation-latency
    * number every growth team tracks. One (user) window pass marks
    * the signup anchor, a filtered hash agg takes the first
    * qualifying purchase — no self-join of the fact stream. */
  def qTsFunnelTime(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val sUs = min(when(col("event_type") === "signup",
      unix_micros(col("ts")))).over(w)
    Tables.events(s, sf)
      .withColumn("s_us", sUs)
      .where(col("event_type") === "purchase" &&
             unix_micros(col("ts")) > col("s_us"))
      .groupBy(col("user_id"))
      .agg((min(unix_micros(col("ts"))) - min(col("s_us"))).as("t2c_us"))
      .agg(count(lit(1)).as("n_converted"),
           round(expr("percentile(t2c_us, 0.5)"), 4).as("p50_us"),
           round(expr("percentile(t2c_us, 0.95)"), 4).as("p95_us"),
           max(col("t2c_us")).as("max_us"))
  }

  /** Inter-arrival profile — the heartbeat-health readout (a climbing
    * p95 gap is the earliest signal of a dying producer, long before
    * volume alarms fire): per event_type, the exact p50/p95/max of the
    * per-user inter-arrival gaps in integer microseconds. Gaps are
    * measured within each user's own stream (mixing users' arrivals
    * measures fan-in, not producer health). One (user, type) window
    * pass for the lag gaps, then a per-type percentile agg — exact
    * interpolated percentiles over integer µs (the
    * q_agg_percentile_exact recipe), 4dp-rounded. */
  def qTsInterarrival(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    val gap = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)
    Tables.events(s, sf)
      .withColumn("gap_us", gap)
      .where(col("gap_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
           round(expr("percentile(gap_us, 0.5)"), 4).as("p50_us"),
           round(expr("percentile(gap_us, 0.95)"), 4).as("p95_us"),
           max(col("gap_us")).as("max_us"))
      .orderBy("event_type")
  }
}
