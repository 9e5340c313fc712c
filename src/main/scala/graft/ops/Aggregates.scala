package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import Util._

/** SURVEY.md §2.4 — aggregation operators.
  *
  * Scale notes (100 TB): all group-bys here are partial+final hash
  * aggregations (map-side combine shrinks the shuffle to ~|groups| per
  * partition). Distinct aggs expand but stay two-phase. The approximate
  * twins (`a_*`) are the forms actually run at 100 TB: HLL and t-digest
  * sketches merge associatively across partitions with constant memory.
  */
object Aggregates {

  /** Flagship: TPC-H Q1-shaped pricing summary. Partial+final hash
    * aggregation over 2 low-cardinality keys — at 100TB this is a
    * map-side-combine-friendly plan with a tiny shuffle. */
  def qAggGroupby(s: SparkSession, sf: String): DataFrame = {
    val l = Tables.lineitem(s, sf)
    l.where(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
  }

  /** No-key (global) aggregate: single-row result. */
  def qAggGlobal(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf).agg(
      count(lit(1)).as("n"),
      dsum(col("l_quantity")).as("sum_qty"),
      min(col("l_extendedprice")).as("min_price"),
      max(col("l_extendedprice")).as("max_price"),
      countDistinct(col("l_suppkey")).as("n_supp"))

  def qAggDistinct(s: SparkSession, sf: String): DataFrame =
    Tables.orders(s, sf)
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
           count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  /** Several distinct aggregates in one query (Expand-based plan). */
  def qAggMultidistinct(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
           countDistinct(col("l_partkey")).as("n_part"),
           count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** Post-aggregation filter (HAVING). */
  def qAggHaving(s: SparkSession, sf: String): DataFrame =
    Tables.orders(s, sf)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice")).as("total_price"))
      .where(col("n_orders") >= 15)
      .orderBy("o_custkey")

  /** Statistical aggregates; doubles rounded to 4 decimals (§7.3). */
  def qAggStats(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           min(col("value")).as("min_value"),
           max(col("value")).as("max_value"),
           davg(col("value")).as("avg_value"),
           round(stddev_samp(col("value")), 4).as("std_value"),
           round(var_samp(col("value")), 4).as("var_value"))
      .orderBy("event_type")

  /** Top event per user by value — max_by with a unique (value, id)
    * tiebreak struct so the pick is total-order deterministic. */
  def qAggArgmax(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(col("user_id"))
      .agg(max_by(col("event_id"), struct(col("value"), col("event_id"))).as("best_event"),
           max(col("value")).as("max_value"))
      .orderBy("user_id")

  /** Per-group MODE (most frequent value) with a deterministic
    * count-desc/value-asc tie-break: per-nation modal order priority.
    * Two-phase — count per (group, value) is a partial+final hash agg;
    * the argmax over counts is a min_by on a (−count, value) struct,
    * NOT a window: the second phase shuffles one row per (group, value)
    * and keeps one per group, with no sort and no skew-prone per-group
    * row_number at scale. */
  def qAggMode(s: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(s, sf)
    val c = Tables.customer(s, sf)
    // customer scales with SF → size-gated broadcast (join-pruned width)
    val counts = o.join(Util.gatedBroadcast(s, c,
                          estRows = Tables.rowCount(s, sf, "customer"), bytesPerRow = 16),
                        o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_nationkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    counts
      .groupBy(col("c_nationkey"))
      .agg(min_by(struct(col("o_orderpriority"), col("n")),
                  struct(negate(col("n")), col("o_orderpriority"))).as("m"))
      .select(col("c_nationkey"), col("m.o_orderpriority").as("mode_priority"),
              col("m.n").as("n"))
      .orderBy("c_nationkey")
  }

  /** Per-group sorted set of event types, '|'-joined to a scalar string
    * (array-typed output columns break the grading harness, §7.3(6)). */
  def qAggCollectSorted(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(col("user_id"))
      .agg(concat_ws("|", sort_array(collect_set(col("event_type")))).as("types"))
      .orderBy("user_id")

  def qAggRollup(s: SparkSession, sf: String): DataFrame =
    Tables.customer(s, sf)
      .join(broadcast(Tables.nation(s, sf)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, sf)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
      .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))

  def qAggCube(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** Explicit grouping sets with a grouping-id discriminator. The oracle
    * derives gid from the null pattern (fixture keys are never null), so
    * both engines compute the same value without DuckDB's GROUPING(). */
  def qAggGroupingSets(s: SparkSession, sf: String): DataFrame =
    Tables.customer(s, sf)
      .join(broadcast(Tables.nation(s, sf)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, sf)), col("n_regionkey") === col("r_regionkey"))
      .groupingSets(Seq(Seq(col("r_name"), col("n_name")), Seq(col("r_name")), Seq()),
                    col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), grouping_id().as("gid"))
      .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))

  /** HLL sketch distinct — the 100 TB form (mergeable, constant memory).
    * No oracle (sketch values are engine-specific); exact twin:
    * q_agg_distinct. */
  def aAggApproxDistinct(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
      .orderBy("day")

  /** Quantile sketch — the 100 TB form. No oracle; exact twin:
    * q_agg_percentile_exact. The quantile array is projected to scalar
    * p50/p95/p99 columns (array output breaks the harness, §7.3(6)). */
  def aAggPercentileApprox(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(col("event_type"))
      .agg(percentile_approx(col("value"), array(lit(0.5), lit(0.95), lit(0.99)), lit(10000)).as("q"))
      .select(col("event_type"),
              col("q").getItem(0).as("p50"),
              col("q").getItem(1).as("p95"),
              col("q").getItem(2).as("p99"))
      .orderBy("event_type")

  /** Exact interpolated percentiles, rounded on both engines. */
  def qAggPercentileExact(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
           round(expr("percentile(value, 0.95)"), 4).as("p95"))
      .orderBy("event_type")

  /** Benford first-digit distribution of the value column — the
    * data-forensics screen (organically-generated magnitudes follow
    * Benford's log curve; fabricated or clipped feeds don't — a cheap
    * tamper/synthetic-data tripwire): leading digit extracted in PURE
    * INTEGER space (value is scale-2 exact → ×100 + floor(+0.5) is an
    * exact BIGINT; its decimal string's first char is engine-stable,
    * unlike any log10-based digit math), observed per-mille vs the
    * Benford expectation as 1e-3 fixed-point ints. One map-side
    * projection + 9-row hash agg. */
  def qAggBenford(s: SparkSession, sf: String): DataFrame = {
    // Benford permille: floor(1000·log10(1+1/d)) precomputed as
    // literals — no runtime float on either engine
    val expect = Map(1 -> 301L, 2 -> 176L, 3 -> 124L, 4 -> 96L, 5 -> 79L,
                     6 -> 66L, 7 -> 57L, 8 -> 51L, 9 -> 45L)
    val v100 = floor(col("value") * 100 + lit(0.5)).cast("long")
    val digit = substring(v100.cast("string"), 1, 1).cast("int")
    val expectCol = expect.foldLeft(lit(0L)) { case (acc, (d, pm)) =>
      when(col("digit") === d, lit(pm)).otherwise(acc)
    }
    val counted = Tables.events(s, sf)
      .where(col("value") > 0)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = counted.agg(sum(col("n")).as("nn"))
    counted.crossJoin(broadcast(total))
      .withColumn("observed_pm", expr("1000 * n div nn"))
      .withColumn("benford_pm", expectCol)
      .select("digit", "n", "observed_pm", "benford_pm")
      .orderBy("digit")
  }

  /** Median absolute deviation per event type — the ROBUST dispersion
    * stat (stddev is dragged by the very outliers a telemetry monitor
    * hunts; MAD isn't, which is why robust z = |x−med|/MAD is the
    * production outlier cut): med = exact median, MAD = median of
    * |value − med|. Both medians use the `percentile`↔`quantile_cont`
    * interpolation pair [[qAggPercentileExact]] already proves
    * identical; |v−med| is one IEEE subtraction on identical doubles.
    * Two passes by construction (the second depends on the first's
    * result) — each one shuffle on the 5-type key; the join is a
    * 5-row broadcast. */
  def qAggMad(s: SparkSession, sf: String): DataFrame = {
    val med = Tables.events(s, sf).groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
    Tables.events(s, sf).join(med, "event_type")
      .withColumn("ad", abs(col("value") - col("med")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           round(first(col("med")), 4).as("med"),
           round(expr("percentile(ad, 0.5)"), 4).as("mad"))
      .orderBy("event_type")
  }

  /** Five-point quantile bands per event type — the dashboard summary
    * strip (p10/p25/p50/p75/p90 + IQR) that [[qAggPercentileExact]]'s
    * single percentile doesn't give: ONE aggregation pass computes all
    * five (Spark folds the five `percentile` calls over one sorted
    * buffer per group; no extra shuffle per quantile), each through
    * the proven `percentile`↔`quantile_cont` interpolation pair
    * rounded 4dp, IQR as one subtraction of the rounded operands. */
  def qAggQuantileBands(s: SparkSession, sf: String): DataFrame = {
    def p(q: Double) = round(expr(s"percentile(value, $q)"), 4)
    Tables.events(s, sf)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           p(0.10).as("p10"), p(0.25).as("p25"), p(0.50).as("p50"),
           p(0.75).as("p75"), p(0.90).as("p90"))
      .withColumn("iqr", col("p75") - col("p25"))
      .orderBy("event_type")
  }

  /** Winsorized mean per event type — the robust location estimate
    * that CLIPS (not drops) the tails to the [p05, p95] band before
    * averaging: the standard tamed-mean for spiky telemetry where the
    * trimmed mean throws information away and the raw mean chases one
    * outlier. Exactness: the percentile bounds use the
    * `percentile`↔`quantile_cont` interpolation pair [[qAggMad]]
    * proves identical, rounded to 4dp BEFORE clipping (both engines
    * clip against the same rounded bound); clipped values are rounded
    * to 4dp and summed in DECIMAL(28,4) (the §7.3 no-float-accumulation
    * rule), with ONE mirrored double division at the end. Shape: two
    * passes on the 5-type key (bounds, then clip+sum), the bounds join
    * a 5-row broadcast — same scale story as [[qAggMad]]. */
  def qAggWinsorizedMean(s: SparkSession, sf: String): DataFrame = {
    val pct = Tables.events(s, sf).groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.05)"), 4).as("p05"),
           round(expr("percentile(value, 0.95)"), 4).as("p95"))
    Tables.events(s, sf).join(pct, "event_type")
      .withColumn("clipped",
        least(greatest(col("value"), col("p05")), col("p95")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           first(col("p05")).as("p05"),
           first(col("p95")).as("p95"),
           sum(expr("CAST(round(clipped, 4) AS DECIMAL(28,4))")).as("csum"))
      .withColumn("wmean", expr(
        "round(CAST(csum AS DOUBLE) / CAST(n AS DOUBLE), 4)"))
      .select(col("event_type"), col("n"), col("p05"), col("p95"), col("wmean"))
      .orderBy("event_type")
  }

  /** PIVOT: order-priority counts spread to columns per status — the
    * wide-matrix reporting shape. Spark's `pivot` with an EXPLICIT value
    * list compiles to one two-phase hash aggregate (no extra pass to
    * discover values, no second shuffle) — at scale always pass the
    * list; value discovery is a whole extra job. */
  def qAggPivot(s: SparkSession, sf: String): DataFrame = {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val renames = Seq("n_urgent", "n_high", "n_medium", "n_notspec", "n_low")
    val p = Tables.orders(s, sf)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", prios)
      .agg(count(lit(1)))
    prios.zip(renames).foldLeft(p) { case (df, (v, r)) =>
      df.withColumnRenamed(v, r)
    }.select(col("o_orderstatus") +: renames.map(r => coalesce(col(r), lit(0L)).as(r)): _*)
      .orderBy("o_orderstatus")
  }

  /** UNPIVOT (melt): wide per-flag sums back to (flag, metric, val)
    * long form — the inverse reshape, one map-side explode after the
    * aggregate, no extra shuffle. */
  def qAggUnpivot(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_quantity")).as("sum_qty"),
           dsum(col("l_extendedprice")).as("sum_price"))
      .unpivot(Array(col("l_returnflag")),
               Array(col("sum_qty"), col("sum_price")),
               "metric", "val")
      .orderBy("l_returnflag", "metric")

  /** Correlation + covariance per group from EXPLICIT decimal moments
    * (Σx, Σy, Σxy, Σx², Σy² — exact, order-independent), with the
    * closed-form corr/covar computed in double from those exact sums:
    * both engines then execute the identical IEEE expression on
    * identical inputs. The built-in `corr`/`covar_samp` are incremental
    * streaming estimators whose accumulation order differs across
    * engines/partitionings — unusable for cross-engine hashing, and the
    * explicit-moment form is also what a map-side-combinable multi-stat
    * pass computes at scale anyway (one shuffle, five decimal sums). */
  /** Ordered group concatenation (string_agg/listagg — the report
    * column every BI layer asks for): top-3 customers by balance per
    * nation, pipe-joined in (balance desc, custkey) order. Spark has
    * no ordered string_agg: rank first (only 3 rows per group
    * survive), then `array_join(transform(array_sort(collect_list(
    * struct))))` — the struct sort key makes the concatenation order
    * total, so the string is deterministic on both engines. */
  def qAggStringAgg(s: SparkSession, sf: String): DataFrame = {
    val rk = row_number().over(Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey")))
    Tables.customer(s, sf)
      .withColumn("rk", rk)
      .where(col("rk") <= 3)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_top"),
        array_join(transform(
          array_sort(collect_list(struct(col("rk"), col("c_name")))),
          x => x.getField("c_name")), "|").as("top_names"))
      .orderBy("c_nationkey")
  }

  /** Exact weighted percentile (lower weighted median) per group —
    * the "median latency weighted by request volume" shape built-in
    * percentile functions don't cover. Weights are declared integers
    * (1 + user_id % 3); the pick is the first value in the unique
    * (value, event_id) order whose running weight crosses half the
    * total — the crossing test `2·cumw ≥ totw` is pure integer
    * arithmetic and the output is an INPUT double, so nothing is
    * engine-accumulated. One range exchange serves the rank and the
    * running weight. */
  def qAggPercentileWeighted(s: SparkSession, sf: String): DataFrame = {
    // not a window partitioned by event_type: that is ~5 partitions at
    // ANY scale, each a data-sized frame in one task. One rankedByRange
    // over (event_type, value, event_id) range-partitions the whole
    // frame and carries the GLOBAL inclusive weight sum; each type's
    // block is contiguous in that total order, so withinStratum turns
    // it into the per-type running weight and total, and the first
    // crossing is the min global rank per type.
    val base = Tables.events(s, sf)
      .select(col("event_type"), col("event_id"), col("value"),
        (lit(1) + col("user_id") % 3).as("wt"))
    val r = Util.rankedByRange(base,
      Seq(col("event_type"), col("value"), col("event_id")), "__rk",
      sums = Seq("wt" -> "__gcum"))
    Util.withinStratum(r, "event_type", "__gcum", col("wt"), "cumw", "totw")
      .where(lit(2) * col("cumw") >= col("totw"))
      .groupBy(col("event_type"))
      .agg(min(struct(col("__rk"), col("value"))).as("__first"),
           max(col("totw")).as("totw"))
      .select(col("event_type"), col("totw").cast("long").as("total_weight"),
        col("__first").getField("value").as("wmedian"))
      .orderBy("event_type")
  }

  /** A/B experiment readout — deterministic 50/50 assignment by
    * [[Util.md5Bucket]] (user-sticky, shard-reproducible, no RNG) and a
    * Welch t-statistic per event_type from EXACT moments: values are
    * floor-quantized to 1e-6 fixed point and summed as integers (the
    * qEmbedQuantize discipline — exact and order-independent where a
    * raw double Σx² drifts), so mean/var/t are closed-form doubles over
    * bit-identical integer sums. Shape: one data-sized hash agg to
    * (type, arm), then trivial reshape over ~10 rows. */
  def qAbTest(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.events(s, sf)
      .withColumn("isa", md5Bucket(col("user_id")) <= "7")
      .withColumn("vfp", floor(col("value") * lit(1e6)).cast("long"))
      .withColumn("vvfp", floor(col("value") * col("value") * lit(1e6)).cast("long"))
    val m = e.groupBy(col("event_type"), col("isa"))
      .agg(count(lit(1)).as("n"), sum(col("vfp")).as("sx"), sum(col("vvfp")).as("sxx"))
    val w = m.groupBy(col("event_type")).agg(
      max(when(col("isa"), col("n"))).as("n_a"),
      max(when(col("isa"), col("sx"))).as("sxa"),
      max(when(col("isa"), col("sxx"))).as("sxxa"),
      max(when(!col("isa"), col("n"))).as("n_b"),
      max(when(!col("isa"), col("sx"))).as("sxb"),
      max(when(!col("isa"), col("sxx"))).as("sxxb"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    w.withColumn("mean_a", col("sxa").cast("double") / lit(1e6) / na)
      .withColumn("mean_b", col("sxb").cast("double") / lit(1e6) / nb)
      .withColumn("var_a",
        (col("sxxa").cast("double") / lit(1e6) - col("mean_a") * col("mean_a") * na) / (na - 1))
      .withColumn("var_b",
        (col("sxxb").cast("double") / lit(1e6) - col("mean_b") * col("mean_b") * nb) / (nb - 1))
      // guard degenerate cells (mirrored in the oracle): an arm with
      // n<2 has no sample variance, and a zero pooled variance would
      // divide by zero — where Spark yields NULL but DuckDB yields
      // inf/nan, breaking parity
      .where(col("n_a") >= 2 && col("n_b") >= 2 &&
        (col("var_a") / na + col("var_b") / nb) > 0)
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("mean_a"), 6).as("mean_a"),
        round(col("mean_b"), 6).as("mean_b"),
        round((col("mean_a") - col("mean_b")) /
          sqrt(col("var_a") / na + col("var_b") / nb), 6).as("t_stat"))
      .orderBy("event_type")
  }

  /** Required sample size per arm for the NEXT experiment — the power
    * calculation every A/B platform runs after a test reads out
    * (α=0.05 two-sided, 80% power, the industry default): with the
    * observed effect δ = mean_a − mean_b as the minimum detectable
    * effect and the pooled variance s²_p as the noise estimate,
    * n = ⌈2·s²_p·(z₀.₀₂₅+z₀.₈)²/δ²⌉ per arm. Moments are the
    * [[qAbTest]] fixed-point BIGINTs verbatim; every double step
    * (means, variances, the pooled blend, the z-constant POWER, the
    * ceil) is the identical expression on both engines, degenerate
    * cells (an arm under 2, zero pooled variance, zero observed δ)
    * filtered with mirrored guards. One hash agg + constant-size
    * finish. */
  def qAbPower(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.events(s, sf)
      .withColumn("isa", md5Bucket(col("user_id")) <= "7")
      .withColumn("vfp", floor(col("value") * lit(1e6)).cast("long"))
      .withColumn("vvfp", floor(col("value") * col("value") * lit(1e6)).cast("long"))
    val m = e.groupBy(col("event_type"), col("isa"))
      .agg(count(lit(1)).as("n"), sum(col("vfp")).as("sx"), sum(col("vvfp")).as("sxx"))
    val w = m.groupBy(col("event_type")).agg(
      max(when(col("isa"), col("n"))).as("n_a"),
      max(when(col("isa"), col("sx"))).as("sxa"),
      max(when(col("isa"), col("sxx"))).as("sxxa"),
      max(when(!col("isa"), col("n"))).as("n_b"),
      max(when(!col("isa"), col("sx"))).as("sxb"),
      max(when(!col("isa"), col("sxx"))).as("sxxb"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    w.withColumn("mean_a", col("sxa").cast("double") / lit(1e6) / na)
      .withColumn("mean_b", col("sxb").cast("double") / lit(1e6) / nb)
      .withColumn("var_a",
        (col("sxxa").cast("double") / lit(1e6) - col("mean_a") * col("mean_a") * na) / (na - 1))
      .withColumn("var_b",
        (col("sxxb").cast("double") / lit(1e6) - col("mean_b") * col("mean_b") * nb) / (nb - 1))
      .where(col("n_a") >= 2 && col("n_b") >= 2)
      .withColumn("sp2", expr(
        """((CAST(n_a AS DOUBLE) - 1) * var_a + (CAST(n_b AS DOUBLE) - 1) * var_b)
           / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2)"""))
      .where(col("sp2") > 0 && col("mean_a") =!= col("mean_b"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        round(col("mean_a") - col("mean_b"), 6).as("delta"),
        expr("""CAST(ceil(2.0 * sp2 * power(1.959964 + 0.841621, 2)
                / ((mean_a - mean_b) * (mean_a - mean_b))) AS BIGINT)""")
          .as("n_required"))
      .orderBy("event_type")
  }

  /** CUPED variance-reduced experiment readout — the modern
    * experimentation step beyond the Welch t (`q_ab_test`): regress
    * each user's post-period metric on their PRE-period covariate
    * (θ = cov(x,y)/var(x)) and report the adjusted arm means
    * ȳᵥ − θ·(x̄ᵥ − x̄), which strips pre-existing user-level variance
    * out of the comparison. Period split at epoch day 19905
    * (2024-07-01) by integer day compare; per-user (x, y) are exact
    * 1e-2 fixed-point BIGINT sums, the five global moments (n, Σx, Σy,
    * Σx², Σxy) are exact BIGINTs, and θ/means are doubles stated with
    * the IDENTICAL cast-and-operate order on both engines (every
    * operand an exactly-known integer → deterministic IEEE result).
    * Shape: one per-user hash agg, a 1-row moment frame broadcast back
    * (constant-size, any scale), one per-arm agg. */
  def qAbCuped(s: SparkSession, sf: String): DataFrame = {
    val u = Tables.events(s, sf)
      .withColumn("isa", md5Bucket(col("user_id")) <= "7")
      .withColumn("vfp", floor(col("value") * lit(100) + lit(0.5)).cast("long"))
      .withColumn("pre", expr("unix_micros(ts) div 86400000000") < 19905)
      .groupBy(col("user_id"), col("isa"))
      .agg(sum(when(col("pre"), col("vfp")).otherwise(0L)).as("x"),
           sum(when(!col("pre"), col("vfp")).otherwise(0L)).as("y"))
    val g = u.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
                  sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
                  sum(col("x") * col("y")).as("sxy"))
    u.crossJoin(broadcast(g))
      .groupBy(col("isa"))
      .agg(count(lit(1)).as("n_users"),
           sum(col("x")).as("sxv"), sum(col("y")).as("syv"),
           first(col("n")).as("n"), first(col("sx")).as("sx"),
           first(col("sy")).as("sy"), first(col("sxx")).as("sxx"),
           first(col("sxy")).as("sxy"))
      .where(expr("(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))") > 0)
      .withColumn("theta", expr(
        """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"""))
      .select(
        expr("CASE WHEN isa THEN 'A' ELSE 'B' END").as("arm"),
        col("n_users"),
        expr("round(CAST(syv AS DOUBLE) / CAST(n_users AS DOUBLE) / 100.0, 6)").as("mean_post"),
        expr("round(theta, 6)").as("theta"),
        expr("""round((CAST(syv AS DOUBLE) / CAST(n_users AS DOUBLE)
                 - theta * (CAST(sxv AS DOUBLE) / CAST(n_users AS DOUBLE)
                            - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0, 6)""").as("mean_adj"))
      .orderBy("arm")
  }

  /** One-way ANOVA across the five event types — "does the metric mean
    * differ by type at all" before pairwise readouts: F = (SSB/(k−1)) /
    * (SSW/(n−k)) plus the η² effect size. Determinism: per-group
    * moments (n_g, Σvfp, Σvfp²) are exact BIGINTs over the 1e-2
    * fixed-point metric; each between-group term s_g²/n_g is computed
    * as an exact INTEGER division with the square in 38-digit decimal
    * (BIGINT·BIGINT would overflow at Σvfp ≈ 6e9) — so SSB/SSW are
    * exact integers in 1e-4·value² units and the only float ops are the
    * final two divisions + rounds, identical on both engines (DuckDB
    * mirrors the square in HUGEINT). Shape: one data-sized partial+final
    * hash agg to k=5 rows, then a constant-size agg — nothing here
    * grows past k rows after the first pass at any scale. */
  def qAbAnova(s: SparkSession, sf: String): DataFrame = {
    val g = Tables.events(s, sf)
      .withColumn("vfp", floor(col("value") * lit(100) + lit(0.5)).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_g"), sum(col("vfp")).as("s_g"),
           sum(col("vfp") * col("vfp")).as("ss_g"))
      .withColumn("t_g", expr("(CAST(s_g AS DECIMAL(38,0)) * s_g) div n_g"))
    g.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
          sum(col("s_g")).as("s"), sum(col("ss_g")).as("ss"),
          sum(col("t_g")).as("t"))
      .select(col("k"), col("n"),
        expr("t - ((CAST(s AS DECIMAL(38,0)) * s) div n)").cast("long").as("ssb_fp"),
        expr("ss - t").cast("long").as("ssw_fp"))
      .withColumn("f_stat", expr(
        """round((CAST(ssb_fp AS DOUBLE) / CAST(k - 1 AS DOUBLE))
                 / (CAST(ssw_fp AS DOUBLE) / CAST(n - k AS DOUBLE)), 6)"""))
      .withColumn("eta_sq", expr(
        "round(CAST(ssb_fp AS DOUBLE) / CAST(ssb_fp + ssw_fp AS DOUBLE), 6)"))
  }

  /** Mann–Whitney U between the md5-bucket A/B arms (the same split as
    * `q_ab_cuped`) — the nonparametric twin of the Welch `q_ab_test`:
    * rank-sum over the pooled 1e-2 fixed-point metric with midrank tie
    * handling and the tie-corrected normal approximation z. Exactness:
    * ranks are computed over the ≤ 100·max(value) DISTINCT fixed-point
    * values (domain-bounded, not data-bounded — the global window is over
    * ≤ ~60k rows at ANY scale), midranks are kept doubled (2·rank is
    * always integer), so U, ΣT=Σ(t³−t) and 2(U−μ) are exact BIGINTs; z
    * is one double expression over those integers, rounded to 6dp.
    * Shape: data-sized hash agg to the value domain, a running count
    * over it ([[Util.rankedByRange]]), a constant-size final agg. */
  def qAbMannwhitney(s: SparkSession, sf: String): DataFrame = {
    val d = Tables.events(s, sf)
      .withColumn("vfp", floor(col("value") * lit(100) + lit(0.5)).cast("long"))
      .withColumn("isa", md5Bucket(col("user_id")) <= "7")
      .groupBy(col("vfp"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
           count(lit(1)).as("ct"))
    // not an UNPARTITIONED window: that is a single task holding the
    // whole grid. rankedByRange carries the inclusive running count;
    // the exclusive form the U statistic needs is inclusive − own
    // count. The range exchange's sampling pass reads the grid
    // aggregate's materialized shuffle (adaptive execution runs that
    // stage first), so events is scanned once.
    Util.rankedByRange(d, Seq(col("vfp")), "__rk",
        sums = Seq("ct" -> "__cum"))
      .withColumn("cum", col("__cum") - col("ct"))
      .withColumn("r2a", col("ca") * (lit(2L) * col("cum") + col("ct") + lit(1L)))
      .agg(sum(col("ca")).as("n1"), sum(col("ct") - col("ca")).as("n2"),
           sum(col("r2a")).as("r2"),
           sum(col("ct") * col("ct") * col("ct") - col("ct")).as("ties"))
      .select(col("n1"), col("n2"),
        (col("r2") - col("n1") * (col("n1") + lit(1L))).as("u_x2"),
        col("ties"))
      .withColumn("z", expr(
        """round((CAST(u_x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                 / (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
                     * (CAST(n1 + n2 + 1 AS DOUBLE)
                        - CAST(ties AS DOUBLE)
                          / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))))), 6)"""))
  }

  /** Two-sample Kolmogorov–Smirnov distance between the md5 A/B arms'
    * metric distributions — the distribution-shift gate (`q_ab_test`
    * compares means; KS catches a variance or shape change with equal
    * means). ALL-INTEGER: D = max|F₁−F₂| over the pooled distinct
    * 1e-2 fixed-point values is cross-multiplied to
    * max|cum₁·n₂ − cum₂·n₁| (exact BIGINTs; ≤ n₁·n₂ ≈ 2.5e9·scale —
    * the one final division to the 6dp readout is the only float).
    * Shape: data-sized hash agg to the domain-bounded value grid
    * (≤ 100·max value distinct rows at ANY scale), running sums over it
    * ([[Util.rankedByRange]]), a constant-size max. */
  def qAbKs(s: SparkSession, sf: String): DataFrame = {
    val d = Tables.events(s, sf)
      .withColumn("vfp", floor(col("value") * lit(100) + lit(0.5)).cast("long"))
      .withColumn("isa", md5Bucket(col("user_id")) <= "7")
      .groupBy(col("vfp"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
           sum(when(col("isa"), 0L).otherwise(1L)).as("cb"))
    // not an UNPARTITIONED window over the grid (a single task): ONE
    // rankedByRange carries both inclusive running sums; the arm totals
    // are a 1-row aggregate over the same grid, broadcast back. Both
    // branches read the grid aggregate's one shuffle (adaptive
    // execution reuses the exchange), so events is scanned once.
    val r = Util.rankedByRange(d, Seq(col("vfp")), "__rk",
      sums = Seq("ca" -> "cum_a", "cb" -> "cum_b"))
    val tot = d.agg(sum(col("ca")).as("n1"), sum(col("cb")).as("n2"))
    r.crossJoin(broadcast(tot))
      .withColumn("dnum", abs(col("cum_a") * col("n2") - col("cum_b") * col("n1")))
      .groupBy(col("n1"), col("n2"))
      .agg(max(col("dnum")).as("d_num"))
      .withColumn("ks", expr(
        "round(CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6)"))
  }

  /** Cramér's V association between event_type and day-of-week — "is
    * the traffic mix weekday-dependent", the categorical twin of
    * `q_agg_corr` (which needs numeric columns): χ² over the
    * type×dow contingency table, normalized to [0,1] by n·min(r−1,c−1).
    * Determinism: cell counts / row / column totals are exact BIGINTs;
    * each χ² term (obs·n − rt·ct)²/(n·rt·ct) is a double over
    * EXACTLY-representable integer operands with the identical
    * left-associated operation order on both engines, rounded to 1e-6
    * fixed point PER CELL before the integer sum (the §7.3 ln rule —
    * never accumulate floats), and V takes one deterministic sqrt at
    * the end. dow = epoch-day mod 7 (both engines' weekday functions
    * disagree on numbering; integer day arithmetic can't). Shape: one
    * data-sized hash agg to ≤ types×7 cells, then window totals over
    * that constant-size frame. */
  def qAggCramersV(s: SparkSession, sf: String): DataFrame = {
    val cells = Tables.events(s, sf)
      .groupBy(col("event_type"),
        expr("(unix_micros(ts) div 86400000000) % 7").as("dow"))
      .agg(count(lit(1)).as("obs"))
    cells
      .withColumn("rt", sum(col("obs")).over(Window.partitionBy(col("event_type"))))
      .withColumn("ct", sum(col("obs")).over(Window.partitionBy(col("dow"))))
      .withColumn("n", sum(col("obs")).over(Window.partitionBy()))
      .withColumn("term_fp", expr(
        """CAST(floor(
             (CAST(obs AS DOUBLE) * CAST(n AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
             * (CAST(obs AS DOUBLE) * CAST(n AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
             * 1000000 + 0.5) AS BIGINT)"""))
      .agg(first(col("n")).as("n"),
           countDistinct(col("event_type")).as("r"),
           countDistinct(col("dow")).as("c"),
           sum(col("term_fp")).as("chi2_fp"))
      .withColumn("v_fp", expr(
        """CAST(floor(sqrt(
             (CAST(chi2_fp AS DOUBLE) / 1000000.0)
             / (CAST(n AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE)))
             * 1000000 + 0.5) AS BIGINT)"""))
      .select(col("n"), col("r"), col("c"), col("chi2_fp"), col("v_fp"))
  }

  def qAggCorr(s: SparkSession, sf: String): DataFrame = {
    val x = col("l_extendedprice")
    val y = col("l_quantity")
    val d = Tables.lineitem(s, sf)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("double").as("n"),
           dsum(x).as("sx"), dsum(y).as("sy"),
           dsum(x * y, 6).as("sxy"),
           dsum(x * x, 6).as("sxx"), dsum(y * y, 6).as("syy"))
    d.select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
             round((col("n") * col("sxy") - col("sx") * col("sy")) /
                   sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
                        (col("n") * col("syy") - col("sy") * col("sy"))), 6)
               .as("corr_price_qty"),
             round((col("sxy") - col("sx") * col("sy") / col("n")) /
                   (col("n") - 1), 4).as("covar_samp"))
      .orderBy("l_returnflag")
  }

  /** Lifetime-value deciles — the monetization distribution readout
    * ("how skewed is revenue per user"): per-user exact decimal value
    * totals, NTILE(10) semantics over the total (ltv, user) order,
    * per-decile count + decimal-sum + share in 1e-3 fixed point of a
    * 1e-4 fixed-point total (ALL-INTEGER after the per-user decimal
    * round-off).
    *
    * Scale shape (round-13): the decile was `ntile(10)` over an
    * unpartitioned window — one task sorting every user. Now the
    * exact global rank comes from [[Util.rankedByRange]] and the
    * bucket from the closed-form [[Util.ntileFromRank]] (bit-identical
    * to NTILE by the ANSI bucket rule); the grand total rides a 1-row
    * broadcast instead of a whole-frame window. */
  def qAggLtvDeciles(s: SparkSession, sf: String): DataFrame = {
    val perUser = Tables.events(s, sf)
      .groupBy(col("user_id"))
      .agg(sum(col("value").cast(D)).as("ltv_dec"))
      .withColumn("ltv_fp", expr("CAST(ltv_dec * 10000 AS BIGINT)"))
    val ranked = Util.rankedByRange(perUser,
        Seq(col("ltv_fp"), col("user_id")), "r")
    val totals = ranked.agg(count(lit(1)).as("n"),
                            sum(col("ltv_fp")).as("total_fp"))
    ranked.crossJoin(broadcast(totals))
      .withColumn("decile",
        Util.ntileFromRank(col("r"), col("n"), 10).cast("int"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"),
           sum(col("ltv_fp")).as("decile_fp"),
           max(col("total_fp")).as("total_fp"))
      .withColumn("share_pm", expr("1000 * decile_fp div total_fp"))
      .select(col("decile"), col("n_users"),
              (col("decile_fp").cast("double") / 10000.0).as("decile_value"),
              col("share_pm"))
      .orderBy("decile")
  }

  /** Sample-ratio mismatch (SRM) — the A/B hygiene gate run BEFORE
    * reading any experiment metric: a 50/50 assignment whose arm
    * counts differ by more than ~3σ means the bucketing is broken and
    * every downstream readout is invalid. Same md5 arm rule as
    * `q_ab_test`; the 3σ binomial bound |nA−nB| > 3·√n is squared to
    * the ALL-INTEGER test `(nA−nB)² · 1 > 9·n` — no sqrt, no float.
    * Per event_type + pooled total. */
  def qAbSrm(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.events(s, sf)
      .withColumn("isa", md5Bucket(col("user_id")) <= "7")
    val per = e.groupBy(col("event_type"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("n_a"),
           sum(when(!col("isa"), 1L).otherwise(0L)).as("n_b"))
    per
      .withColumn("delta", col("n_a") - col("n_b"))
      .withColumn("srm_flag",
        when(col("delta") * col("delta") > (col("n_a") + col("n_b")) * 9, 1L)
          .otherwise(0L))
      .select(col("event_type"), col("n_a"), col("n_b"), col("delta"),
              col("srm_flag"))
      .orderBy("event_type")
  }

  /** Pareto share — "what fraction of events do the top 20% of users
    * produce" (the 80/20 readout, `q_agg_gini`'s operational
    * companion): users ranked by count desc with a (count, user) total
    * tie order, cutoff rank = ⌈n/5⌉ computed as `(n+4) div 5`, share
    * in 1e-3 fixed point — ALL-INTEGER end to end.
    *
    * Scale shape: rank AND the running event sum both come from
    * [[Util.rankedByRange]] (one sampled range exchange, partition
    * offsets + local running sums) — the old plan was two unpartitioned
    * windows over the #users frame, a single task holding every user
    * at corpus scale.
    * The global totals ride a 1-row broadcast. */
  def qAggParetoShare(s: SparkSession, sf: String): DataFrame = {
    val counts = Tables.events(s, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("x"))
    val ranked = Util.rankedByRange(counts,
        Seq(col("x").desc, col("user_id")), "r",
        sums = Seq("x" -> "cumx"))
    val totals = ranked.agg(count(lit(1)).as("n_users"),
                            sum(col("x")).as("total_events"))
    ranked.crossJoin(broadcast(totals))
      .where(col("r") === expr("(n_users + 4) div 5"))
      .select(col("n_users"), col("total_events"),
              col("cumx").as("top20_events"),
              expr("1000 * cumx div total_events").as("share_pm"))
  }

  /** Exponential (power-of-2) histogram + its quantile readout — the
    * OTel/DDSketch-family shape: constant relative error with ~10
    * buckets where the fixed-width histogram (`q_agg_histogram`) needs
    * width tuning. Bucketing is a mirrored integer CASE ladder over
    * `floor(value)` (edges can never straddle engines); the p50/p99
    * readout picks each bucket's LOWER BOUND at the q·N cumulative
    * crossing via cross-multiplied integer comparisons — zero float
    * anywhere. One data-sized hash agg; everything after runs on the
    * ≤ 10-row-per-type histogram. */
  def qAggExpHistogram(s: SparkSession, sf: String): DataFrame = {
    val v = expr("CAST(floor(value) AS BIGINT)")
    val bucket = when(v >= 512, 10).when(v >= 256, 9).when(v >= 128, 8)
      .when(v >= 64, 7).when(v >= 32, 6).when(v >= 16, 5).when(v >= 8, 4)
      .when(v >= 4, 3).when(v >= 2, 2).when(v >= 1, 1).otherwise(0)
    val hist = Tables.events(s, sf)
      .groupBy(col("event_type"), bucket.as("bucket"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("event_type")
    val lower = expr("CASE WHEN bucket = 0 THEN 0 ELSE shiftleft(1L, bucket - 1) END")
    hist
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("total", sum(col("n")).over(tot))
      .withColumn("lo", lower)
      .withColumn("is_p50", when(col("cum") * 2 >= col("total") &&
        (col("cum") - col("n")) * 2 < col("total"), 1L).otherwise(0L))
      .withColumn("is_p99", when(col("cum") * 100 >= col("total") * 99 &&
        (col("cum") - col("n")) * 100 < col("total") * 99, 1L).otherwise(0L))
      .select(col("event_type"), col("bucket"), col("lo"), col("n"),
              col("cum"), col("is_p50"), col("is_p99"))
      .orderBy("event_type", "bucket")
  }

  /** Typed `Aggregator[IN, BUF, OUT]` summary — the §2.12 extension
    * point for Encoder-backed custom aggregation (the typed sibling of
    * the binary-buffer `TypedImperativeAggregate`s used for the Bloom/
    * bitmap/SpaceSaving sketches): an exact (count, min, max,
    * decimal-path sum) summary whose buffer is a case class, merged
    * associatively across partitions. The oracle states the same
    * summary with built-ins — a custom Aggregator must be
    * indistinguishable from native aggregates where semantics
    * overlap. */
  def qAggTypedSummary(s: SparkSession, sf: String): DataFrame = {
    import s.implicits._
    val ds = Tables.events(s, sf)
      .select(col("event_type"), col("value")).as[(String, Double)]
    ds.groupByKey(_._1)
      .agg(Aggregates.typedSummary.toColumn.name("s"))
      .select(col("key").as("event_type"), col("s._1").as("n"),
              col("s._2").as("min_value"), col("s._3").as("max_value"),
              col("s._4").as("sum_value"))
      .orderBy("event_type")
  }

  /** Exact (count, min, max, 1e-4 fixed-point sum) over (key, value)
    * rows — `floor` is exact on every double and integer sums are
    * order-independent: Util.dsum's discipline in typed form. */
  private val typedSummary
      : org.apache.spark.sql.expressions.Aggregator[(String, Double), SummaryBuf,
                                                    (Long, Double, Double, Double)] =
    new org.apache.spark.sql.expressions.Aggregator[(String, Double), SummaryBuf,
                                                    (Long, Double, Double, Double)] {
      import org.apache.spark.sql.{Encoder, Encoders}
      override def zero: SummaryBuf = SummaryBuf(0L, Double.MaxValue, Double.MinValue, 0L)
      override def reduce(b: SummaryBuf, r: (String, Double)): SummaryBuf =
        SummaryBuf(b.n + 1, math.min(b.mn, r._2), math.max(b.mx, r._2),
                   b.sumFp + math.floor(r._2 * 10000.0).toLong)
      override def merge(a: SummaryBuf, b: SummaryBuf): SummaryBuf =
        SummaryBuf(a.n + b.n, math.min(a.mn, b.mn), math.max(a.mx, b.mx),
                   a.sumFp + b.sumFp)
      override def finish(b: SummaryBuf): (Long, Double, Double, Double) =
        (b.n, b.mn, b.mx, b.sumFp.toDouble / 10000.0)
      override def bufferEncoder: Encoder[SummaryBuf] = Encoders.product[SummaryBuf]
      override def outputEncoder: Encoder[(Long, Double, Double, Double)] =
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble,
                       Encoders.scalaDouble, Encoders.scalaDouble)
    }

  /** Gini coefficient of per-user activity — "is usage concentrated in
    * a few whales": G = Σ(2i−n−1)·xᵢ / (n·Σx) over counts sorted
    * ascending with a total (count, user) tie order. ALL-INTEGER until
    * one 1e6-fixed-point division (counts and ranks are integers — no
    * float accumulation anywhere).
    *
    * Scale shape: the rank i comes from [[Util.rankedByRange]] — a
    * sampled range shuffle of the per-user frame, ranked as partition
    * offset + local position — not an unpartitioned window (the
    * per-user frame is billions of rows in the LLM-pipeline genre;
    * one task sorting it is the plan this engine exists to avoid).
    * Sampled boundaries keep the tie-heavy key balanced: x=1 covers
    * half the users on a power-law corpus, and a value-arithmetic
    * bucket would put them all in one partition. */
  def qAggGini(s: SparkSession, sf: String): DataFrame = {
    val counts = Tables.events(s, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("x"))
    Util.rankedByRange(counts, Seq(col("x"), col("user_id")), "i")
      .agg(count(lit(1)).as("n_users"),
           sum(col("x")).as("total_events"),
           sum((col("i") * 2 - 1) * col("x")).as("wsum"))
      // ppm scaling in DECIMAL(38,0): at sf100 (1e8 events / 1e6 users)
      // 1000000 * (wsum - total*n) exceeds int64 — Spark would WRAP
      // silently where DuckDB errors (the sf100 oracle sweep's catch).
      // Both engines now run the widened integral math and cast the
      // ≤1e6 quotient back; values at every sf are unchanged.
      .withColumn("gini_ppm",
        expr("CAST((CAST(wsum - total_events * n_users AS DECIMAL(38,0)) * 1000000) " +
             "div (CAST(n_users AS DECIMAL(38,0)) * total_events) AS BIGINT)"))
      .select(col("n_users"), col("total_events"), col("gini_ppm"))
  }

  /** Herfindahl–Hirschman concentration index per event_type — the
    * antitrust-style "is this event type driven by a handful of users"
    * readout (`q_agg_gini`'s per-group companion; HHI is additive over
    * squared shares so it needs no rank window at all): HHI =
    * Σ(xᵢ/T)² = Σxᵢ² / T², kept ALL-INTEGER — Σxᵢ² and T are exact
    * BIGINTs out of one two-level hash agg, and the only division is
    * the final 1e6 fixed-point readout. Two map-side-combinable hash
    * aggs, no window, no sort: the cheapest concentration metric at
    * any scale. */
  def qAggHhi(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
           sum(col("x")).as("total_events"),
           sum(col("x") * col("x")).as("sum_sq"))
      .withColumn("hhi_ppm",
        expr("(1000000 * sum_sq) div (total_events * total_events)"))
      .orderBy("event_type")

  /** Tukey IQR outlier fences per group — the robust outlier rule
    * dashboards use where z-scores chase their own outliers: flag
    * values above q3 + 1.5·IQR. Quartiles are interpolated from INPUT
    * doubles (the q_agg_percentile_exact discipline) and the fence is
    * rounded at 4dp on both engines BEFORE comparing, so the flag set
    * cannot flip on a last-ulp quartile difference. Two passes: a
    * #groups-row fence table broadcasts back into one counting agg. */
  def qAggOutlierIqr(s: SparkSession, sf: String): DataFrame = {
    val fences = Tables.events(s, sf)
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.25)"), 4).as("q1"),
           round(expr("percentile(value, 0.75)"), 4).as("q3"))
      .withColumn("thr_hi",
        round(col("q3") + lit(1.5) * (col("q3") - col("q1")), 4))
    Tables.events(s, sf).join(broadcast(fences), "event_type")
      .groupBy(col("event_type"))
      .agg(first(col("q1")).as("q1"), first(col("q3")).as("q3"),
           first(col("thr_hi")).as("thr_hi"),
           sum(when(col("value") > col("thr_hi"), 1L).otherwise(0L)).as("n_outliers"),
           max(when(col("value") > col("thr_hi"), col("value"))).as("worst"))
      .orderBy("event_type")
  }

  /** Per-user lifecycle summary — the user-dimension build every
    * product warehouse maintains: first/last activity, entry and exit
    * event types (min_by/max_by on the total (ts, id) order — tie-safe
    * like q_agg_argmax), volume, and integer lifetime days. ONE hash
    * agg; this is the "wide user table" that downstream joins
    * broadcast. */
  def qAggUserLifecycle(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_seen"),
           max(col("ts")).as("last_seen"),
           min_by(col("event_type"), struct(col("ts"), col("event_id"))).as("first_type"),
           max_by(col("event_type"), struct(col("ts"), col("event_id"))).as("last_type"),
           count(lit(1)).as("n_events"),
           expr("(unix_micros(max(ts)) - unix_micros(min(ts))) div 86400000000")
             .as("lifetime_days"))
      .orderBy("user_id")

  /** Per-group skewness + excess kurtosis from EXPLICIT decimal moments
    * (Σx…Σx⁴ exact, closed-form central moments in double) — built-in
    * `skewness`/`kurtosis` are order-dependent streaming estimators,
    * unusable for cross-engine hashing, same reason as `q_agg_corr`.
    * Every downstream double op is a short mirrored chain (explicit
    * multiplication order, `m2·sqrt(m2)` not `pow(m2,1.5)`), rounded
    * at 6dp. One two-phase hash agg; the moment math runs on #groups
    * rows. */
  def qAggSkewKurt(s: SparkSession, sf: String): DataFrame = {
    val x = col("l_quantity")
    val m = Tables.lineitem(s, sf)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("double").as("n"),
           dsum(x).as("s1"), dsum(x * x, 6).as("s2"),
           dsum(x * x * x, 8).as("s3"), dsum(x * x * x * x, 8).as("s4"))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("m2", col("s2") / col("n") - col("mean") * col("mean"))
      .withColumn("m3", col("s3") / col("n")
        - lit(3.0) * col("mean") * (col("s2") / col("n"))
        + lit(2.0) * col("mean") * col("mean") * col("mean"))
      .withColumn("m4", col("s4") / col("n")
        - lit(4.0) * col("mean") * (col("s3") / col("n"))
        + lit(6.0) * col("mean") * col("mean") * (col("s2") / col("n"))
        - lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
    m.select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
             round(col("mean"), 6).as("mean_qty"),
             round(col("m3") / (col("m2") * sqrt(col("m2"))), 6).as("skew_qty"),
             round(col("m4") / (col("m2") * col("m2")) - lit(3.0), 6).as("kurt_qty"))
      .orderBy("l_returnflag")
  }

  /** Point-frequency estimates from a Count-Min sketch (completes the
    * sketch family: HLL distinct, quantile, SpaceSaving top-k, CMS
    * frequency). The sketch is Spark's built-in `count_min_sketch`
    * aggregate — mergeable across partitions with constant memory, the
    * 100 TB form for frequency queries over unbounded key spaces. The
    * constant-size binary sketch is collected once (it IS the aggregate
    * result) and re-broadcast for the probe pass; the probe runs
    * `mapPartitions` with one deserialize per partition — per-partition
    * init is exactly what mapPartitions is for. No oracle (estimates
    * depend on hash geometry); bounds property-tested: est ≥ true and
    * est − true ≤ ε·N at the sketch's ε=0.001.
    * Exact twin: the q_agg_groupby/count family. */
  def aAggCms(s: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.util.sketch.CountMinSketch
    val ev = Tables.events(s, sf).select(col("user_id").cast("string").as("user_id"))
    val skBytes = ev
      .agg(expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)").as("sk"))
      .head.getAs[Array[Byte]](0)
    val bc = s.sparkContext.broadcast(skBytes)
    import s.implicits._
    ev.distinct().as[String]
      .mapPartitions { it =>
        val sk = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bc.value))
        it.map(k => (k, sk.estimateCount(k)))
      }
      .toDF("user_id", "est")
      .orderBy("user_id")
  }

  /** Exact weighted average — Σ(w·x)/Σw per group with BOTH sums on
    * the decimal path (a raw-double weighted avg is order-dependent
    * twice over). The discount-weighted price per return flag. */
  def qAggWeightedAvg(s: SparkSession, sf: String): DataFrame =
    Tables.lineitem(s, sf)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
           (dsum(col("l_quantity") * col("l_extendedprice"), 4) /
            dsum(col("l_quantity"), 4)).as("wavg_price"))
      .orderBy("l_returnflag")

  /** Exact-aggregate re-aggregation — the pre-aggregated-table pattern
    * (the exact-agg sibling of a_agg_hll_partial's sketch rollup):
    * daily partials (count/sum/min/max per (type, day)) roll up to the
    * per-type totals by MERGING partials — sum of sums, sum of counts,
    * min of mins, max of maxes — without touching raw rows again.
    * At 100 TB the daily table is what jobs materialize once; every
    * downstream rollup is this second (tiny) aggregate. The decimal
    * path makes sum-of-sums exactly equal the direct sum, so the
    * oracle can state the DIRECT aggregate — the query itself proves
    * the algebraic merge is lossless. */
  def qAggReagg(s: SparkSession, sf: String): DataFrame = {
    // ts NULL-guard: a NULL day would form its own partial row here and
    // be counted in n_days, while the oracle's COUNT(DISTINCT day)
    // excludes NULL — align the semantics explicitly (no-op on the
    // non-null fixture, but this op has no mirrored oracle to catch it)
    val daily = Tables.events(s, sf)
      .where(col("ts").isNotNull)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(D)).as("sv"),
           min(col("value")).as("mn"),
           max(col("value")).as("mx"))
    daily.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_events"),
           sum(col("sv")).cast("double").as("sum_value"),
           min(col("mn")).as("min_value"),
           max(col("mx")).as("max_value"),
           count(lit(1)).as("n_days"))
      .orderBy("event_type")
  }

  /** Boolean aggregate family — count_if / bool_and / bool_or, the
    * predicate-rollup primitives monitoring queries lean on ("did any
    * probe fail", "did all shards report"). Pure two-phase hash agg;
    * boolean outputs hash cross-engine as the bool dtype class. */
  def qAggBoolean(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .groupBy(col("event_type"))
      .agg(expr("count_if(value > 250)").as("n_over"),
           expr("bool_and(value > 0)").as("all_positive"),
           expr("bool_or(value > 450)").as("any_extreme"),
           count(lit(1)).as("n"))
      .orderBy("event_type")

  /** Mergeable-sketch rollup — THE at-scale pre-aggregation pattern:
    * per-(event_type, day) HLL partials (what a 1000-executor job
    * materializes once), then per-type sketch UNION + estimate —
    * re-aggregation never touches raw rows again, and the merge is
    * associative/commutative so any partitioning works. Built on
    * Spark's Apache DataSketches HllSketch aggs. No oracle (estimates
    * depend on sketch geometry); property-tested within rsd of the
    * exact per-type distincts; exact twin: q_agg_distinct. */
  /** Per-user Shannon entropy of the event-type mix — the behavioral-
    * diversity metric (entropy ≈ 0 flags single-action bots/monitors;
    * high entropy = organic usage): H = −Σ (c/n)·ln(c/n) over the
    * user's type distribution. Determinism follows the unigram-LM
    * recipe exactly: the per-type `ln` is rounded at 4dp BEFORE the
    * exact DECIMAL(18,4)·count weighted sum (1-ulp `ln` rule), one
    * final mirrored double division. Two hash aggs over (user, type)
    * cells — nothing data-sized survives the first agg. */
  def qAggEntropy(s: SparkSession, sf: String): DataFrame = {
    val cells = Tables.events(s, sf)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val totals = cells.groupBy(col("user_id")).agg(sum(col("c")).as("n"))
    cells.join(totals, "user_id")
      .withColumn("lp", round(log(col("c").cast("double") / col("n")), 4))
      .groupBy(col("user_id"))
      .agg(first(col("n")).as("n_events"),
        (negate(sum(col("lp").cast("decimal(18,4)") * col("c"))).cast("double")
          / first(col("n"))).as("entropy"))
      .orderBy("user_id")
  }

  /** Jensen–Shannon divergence between the md5 A/B arms' event-type
    * mixes — the SYMMETRIC, always-finite distribution-shift readout
    * (KL blows up on a type one arm never emits; JSD is bounded by
    * ln 2), the categorical counterpart of `q_ab_ks`'s continuous
    * shift test. Exactness: each log argument reduces to a ratio of
    * exact integers — p_t/m_t = 2·ca·nb/(ca·nb + cb·na) — so both
    * engines feed `ln` the IDENTICAL double; the ln is rounded 4dp
    * BEFORE the DECIMAL(18,4)·count weighted sum (the entropy recipe),
    * zero-count terms drop by the 0·ln0 = 0 convention, and the two
    * arm sums divide out in one mirrored double expression rounded
    * 6dp. Shape: one data-sized hash agg to the ≤|types| cell frame,
    * constant-size finish. */
  def qAggJsd(s: SparkSession, sf: String): DataFrame = {
    val cells = Tables.events(s, sf)
      .withColumn("isa", md5Bucket(col("user_id")) <= "7")
      .groupBy(col("event_type"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("ca"),
           sum(when(col("isa"), 0L).otherwise(1L)).as("cb"))
    val tot = Window.partitionBy()
    cells
      .withColumn("na", sum(col("ca")).over(tot))
      .withColumn("nb", sum(col("cb")).over(tot))
      .withColumn("lpa", when(col("ca") > 0, round(log(
        expr("CAST(2 * ca * nb AS DOUBLE) / CAST(ca * nb + cb * na AS DOUBLE)")), 4))
        .otherwise(lit(0.0)))
      .withColumn("lpb", when(col("cb") > 0, round(log(
        expr("CAST(2 * cb * na AS DOUBLE) / CAST(ca * nb + cb * na AS DOUBLE)")), 4))
        .otherwise(lit(0.0)))
      .groupBy(col("na"), col("nb"))
      .agg(count(lit(1)).as("n_types"),
           sum(col("lpa").cast("decimal(18,4)") * col("ca")).as("s1"),
           sum(col("lpb").cast("decimal(18,4)") * col("cb")).as("s2"))
      // empty-arm guard: if the md5 split ever leaves one arm empty
      // (na=0 or nb=0) the division is NaN on Spark but differs on
      // DuckDB — NULL-pin the undefined divergence on both engines
      .withColumn("jsd", expr(
        """CASE WHEN na > 0 AND nb > 0 THEN
           round(0.5 * (CAST(s1 AS DOUBLE) / CAST(na AS DOUBLE)
                        + CAST(s2 AS DOUBLE) / CAST(nb AS DOUBLE)), 6)
           ELSE NULL END"""))
      .select(col("na"), col("nb"), col("n_types"), col("jsd"))
  }

  /** Theil T inequality index of per-user activity within each event
    * type — the decomposable cousin of [[qAggGini]] ("how concentrated
    * is this event type on its heaviest users"): T = (1/n)Σ(xᵢ/μ)ln(xᵢ/μ)
    * over user event counts, algebraically folded to
    * (1/total)·Σ xᵢ·ln(xᵢ·n/total) so the weights stay integer.
    * Determinism = the [[qAggEntropy]] recipe verbatim: the per-user
    * `ln` is rounded at 4dp BEFORE the exact DECIMAL(18,4)·count
    * weighted sum (1-ulp ln rule), one final mirrored double division.
    * Two hash aggs over (type, user) cells — nothing data-sized
    * survives the first agg. */
  def qAggTheilIndex(s: SparkSession, sf: String): DataFrame = {
    val cells = Tables.events(s, sf)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val totals = cells.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nu"), sum(col("c")).as("tot"))
    cells.join(totals, "event_type")
      .withColumn("lp", round(log(
        col("c").cast("double") * col("nu").cast("double")
          / col("tot").cast("double")), 4))
      .groupBy(col("event_type"))
      .agg(first(col("nu")).as("n_users"),
           first(col("tot")).as("n_events"),
           (sum(col("lp").cast("decimal(18,4)") * col("c")).cast("double")
             / first(col("tot")).cast("double")).as("theil"))
      .orderBy("event_type")
  }

  /** Mergeable QUANTILE rollup — the percentile sibling of
    * [[aAggHllPartial]], closing the sketch family's most-used tsdb
    * gap: per-(event_type, day) GK-summary partials (graft's
    * `QuantileBuildAgg`, built on Spark's own QuantileSummaries),
    * merged per type, then p50/p95/p99 read off the merged blob. Raw
    * rows are scanned ONCE by the partial build; every later slice is
    * a constant-size blob merge. No oracle (GK estimates depend on
    * compression geometry); PropertySpec enforces the guarantee that
    * the φ-estimate's true rank sits within ε·N of φ·N. Exact twin:
    * q_agg_percentile_exact. */
  def aAggQuantilePartial(s: SparkSession, sf: String): DataFrame = {
    import graft.functions.QuantileSketch._
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(quantileAgg(col("value"), 0.01).as("sk"))
    daily.groupBy(col("event_type"))
      .agg(quantileMergeAgg(col("sk")).as("sk"))
      .select(col("event_type"),
        round(quantileQuery(col("sk"), lit(0.5)), 4).as("p50"),
        round(quantileQuery(col("sk"), lit(0.95)), 4).as("p95"),
        round(quantileQuery(col("sk"), lit(0.99)), 4).as("p99"))
      .orderBy("event_type")
  }

  /** Rolling 7-day distinct users from MERGED daily HLL sketches — the
    * sketch-re-aggregation architecture for sliding distinct counts at
    * 100 TB: the exact form ([[TimeSeries.qTsWauRolling]], this op's
    * property-test twin) must replicate every (user, day) pair into
    * all 7 windows it serves — a ×7 data-sized shuffle — while the
    * sketch form replicates only #days fixed-size sketches and unions
    * them per window. One daily sketch build (partial+final, map-side
    * combine), then a constant-size ×7 fan-out; adding a day to the
    * series touches one new sketch, never the history — the
    * incremental-dashboard property exact distinct cannot have.
    * lgK=12 ⇒ ~1.6% RSE; PropertySpec pins ≤5% vs the exact twin on
    * every window day. */
  def aAggHllRolling(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val bounds = daily.agg(max(col("day")).as("maxd"))
    daily.withColumn("o", explode(sequence(lit(0L), lit(6L))))
      .withColumn("window_day", col("day") + col("o"))
      .crossJoin(broadcast(bounds))
      .where(col("window_day") <= col("maxd"))
      .groupBy(col("window_day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("wau_est"))
      .orderBy("window_day")
  }

  def aAggHllPartial(s: SparkSession, sf: String): DataFrame = {
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    daily.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
      .orderBy("event_type")
  }

  /** Audience overlap via mergeable HLL sketches — |A∩B| for every
    * event-type pair by inclusion–exclusion est(A)+est(B)−est(A∪B),
    * where the union estimate comes from `hll_union` over the SAME
    * per-type sketches (no second pass over raw rows — the sketch
    * reuse that makes 100 TB audience overlap a constant-size
    * problem: sketches are ~2^12 registers regardless of user count).
    * The pair join runs over #event-types rows, not data. No oracle
    * (estimates are sketch-dependent); property-tested against the
    * exact pairwise intersection (PropertySpec). */
  def aAggHllIntersect(s: SparkSession, sf: String): DataFrame = {
    val sk = Tables.events(s, sf)
      .groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"))
    a.join(b, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        round(hll_sketch_estimate(col("sk_a")), 1).as("est_a"),
        round(hll_sketch_estimate(col("sk_b")), 1).as("est_b"),
        round(hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))), 1)
          .as("est_union"))
      .withColumn("est_intersect",
        round(col("est_a") + col("est_b") - col("est_union"), 1))
      .orderBy("type_a", "type_b")
  }

  /** EXACT distinct users per event type via graft's mergeable bitmap
    * aggregate (`functions/BitmapDistinct.scala` — the ClickHouse
    * `groupBitmap` pattern): daily bitmap partials → lossless OR-union
    * per type → popcount. The exact sibling of `a_agg_hll_partial`'s
    * sketch rollup: pre-aggregated daily state re-rolls to ANY
    * grouping with zero error and without touching raw rows again —
    * which is why the oracle can state a direct `COUNT(DISTINCT)`.
    * Shuffle: ≤ distinct-keys/8 bytes per (type, day) partial vs one
    * row per distinct key for the naive plan. */
  def qAggBitmapDistinct(s: SparkSession, sf: String): DataFrame = {
    import graft.functions.Bitmap._
    val daily = Tables.events(s, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(bitmapAgg(col("user_id")).as("bm"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
           bitmapCount(bitmapUnionAgg(col("bm"))).as("n_users"))
      .orderBy("event_type")
  }

  /** Fixed-width latency-style histogram per event_type — the TSDB
    * `histogram()` primitive: 10 buckets of width 50 over [0, 500),
    * plus the Prometheus-style cumulative (`le`) count per bucket.
    * Bucketing runs on `floor(value)` (exact on any IEEE double, both
    * engines) followed by pure INTEGER division/clamping, so bucket
    * edges can never straddle engines. One hash agg does all the work;
    * the window sum runs over the constant-size (≤ 50-row) histogram,
    * not the events — at 100 TB the agg is the only data-sized stage. */
  def qAggHistogram(s: SparkSession, sf: String): DataFrame = {
    val bucket = bucket50("value")
    val cum = Window.partitionBy(col("event_type"))
      .orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, sf)
      .groupBy(col("event_type"), bucket.as("bucket"))
      .agg(count(lit(1)).as("n_events"),
           dsum(col("value")).as("sum_value"))
      .withColumn("lo", col("bucket") * 50)
      .withColumn("cum_events", sum(col("n_events")).over(cum))
      .select("event_type", "bucket", "lo", "n_events", "sum_value", "cum_events")
      .orderBy("event_type", "bucket")
  }

  /** Heavy hitters via graft's native SpaceSaving sketch aggregate
    * (`functions/SpaceSavingTopK.scala`) — shuffle is O(capacity ×
    * partitions) regardless of key cardinality, vs one row per DISTINCT
    * key for the exact groupBy.count. No oracle (estimates depend on
    * partitioning); exact twin: q_topk_global/q_agg_distinct family;
    * bounds property-tested (est ≥ true, est − true ≤ N/capacity). */
  def aAggTopkSketch(s: SparkSession, sf: String): DataFrame = {
    import graft.functions.SpaceSavingTopK.topkSketch
    Tables.events(s, sf)
      .agg(topkSketch(col("user_id").cast("string"), 10, 64).as("top"))
      .select(explode(col("top")).as("hh"))
      .select(col("hh.item").as("user_id"), col("hh.est").as("est"))
  }

  /** FILTER (WHERE …) aggregate clauses — conditional aggregation
    * without self-joins or N filtered scans: per order priority, total
    * orders, finished-status count, and the exact decimal sum of
    * high-value order prices, all in ONE two-phase hash agg (each
    * FILTER is a map-side predicate on its partial). The SQL surface
    * is identical on both engines, so the oracle is this query
    * verbatim. */
  def qAggFiltered(s: SparkSession, sf: String): DataFrame = {
    Tables.orders(s, sf).createOrReplaceTempView("orders")
    s.sql("""
      SELECT o_orderpriority,
             COUNT(*) AS n_orders,
             COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
             CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(28,4)))
                           FILTER (WHERE o_totalprice > 100000), 0) AS DOUBLE) AS high_value_total
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")
  }

  /** Round-number forensics — [[qAggBenford]]'s sibling screen:
    * organic monetary amounts rarely land exactly on whole currency
    * units or multiples of ten, so an elevated round-value share flags
    * a fabricated, clipped, or default-filled feed. The value is
    * recovered to its exact integer cent grid (`floor(v·100 + 0.5)` —
    * fixture money is scale-2 exact, so this is lossless on both
    * engines), then pure modular tests; shares in 1e-3 fixed point.
    * One map-side projection + |types|-row hash agg. */
  def qAggRoundValues(s: SparkSession, sf: String): DataFrame = {
    val cents = floor(col("value") * 100 + lit(0.5)).cast("long")
    Tables.events(s, sf)
      .select(col("event_type"), cents.as("c100"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(when(col("c100") % 100 === 0, 1L).otherwise(0L)).as("n_whole"),
           sum(when(col("c100") % 1000 === 0, 1L).otherwise(0L)).as("n_tens"))
      .withColumn("whole_pm", expr("1000 * n_whole div n"))
      .withColumn("tens_pm", expr("1000 * n_tens div n"))
      .orderBy("event_type")
  }

  /** Power-user curve — the engagement-depth histogram (the classic
    * growth chart): users bucketed by how many distinct days they were
    * active in the fixture window; a smile-shaped curve (mass at both
    * ends) reads "habit product", monotone decay reads "drive-by
    * traffic". Exact integers end to end: distinct (user, day) hash
    * agg → per-user day count → ≤#days-row histogram. */
  def qAggPowerCurve(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
      .groupBy(col("user_id")).agg(count(lit(1)).as("active_days"))
      .groupBy(col("active_days")).agg(count(lit(1)).as("n_users"))
      .orderBy("active_days")

  /** Difference-in-differences readout — the quasi-experimental
    * estimator for a launch without a holdout: arm = the [[Util.md5Bucket]]
    * 50/50 user split (the q_ab_test assignment verbatim), period =
    * pre/post the fixture midpoint day (derived by exact integer
    * arithmetic from the global day range), and per event_type
    * DiD = (B_post − B_pre) − (A_post − A_pre) on mean value. All four
    * cell sums ride the exact decimal path; each mean is one
    * decimal→double cast / count division and the DiD combine is the
    * identical double expression on both engines, rounded 6dp once.
    * Cells with an empty arm-period NULL-pin the estimate (mirrored).
    * Shape: one data-sized hash agg to ≤|types|·4 cells + a constant
    * reshape; the day-range lookup is a 1-row broadcast. */
  def qAbDiffInDiff(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.events(s, sf)
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .withColumn("isa", md5Bucket(col("user_id")) <= "7")
    val cut = e.agg(expr("(min(day) + max(day) + 1) div 2").as("cut"))
    val cells = e.crossJoin(broadcast(cut))
      .withColumn("post", col("day") >= col("cut"))
      .groupBy(col("event_type"), col("isa"), col("post"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 4))).as("sv"))
    def cell(a: Boolean, p: Boolean, c: String) =
      max(when(col("isa") === a && col("post") === p, col(c)))
    val g = cells.groupBy(col("event_type")).agg(
      cell(true, false, "n").as("n_a_pre"), cell(true, false, "sv").as("s_a_pre"),
      cell(true, true, "n").as("n_a_post"), cell(true, true, "sv").as("s_a_post"),
      cell(false, false, "n").as("n_b_pre"), cell(false, false, "sv").as("s_b_pre"),
      cell(false, true, "n").as("n_b_post"), cell(false, true, "sv").as("s_b_post"))
    def mean(sc: String, nc: String) = col(sc).cast("double") / col(nc)
    g.withColumn("did",
        when(col("n_a_pre") > 0 && col("n_a_post") > 0 &&
             col("n_b_pre") > 0 && col("n_b_post") > 0,
          round((mean("s_b_post", "n_b_post") - mean("s_b_pre", "n_b_pre")) -
                (mean("s_a_post", "n_a_post") - mean("s_a_pre", "n_a_pre")), 6)))
      .select(col("event_type"),
              col("n_a_pre"), col("n_a_post"), col("n_b_pre"), col("n_b_post"),
              col("did"))
      .orderBy("event_type")
  }
}

/** Buffer for [[Aggregates.qAggTypedSummary]]'s typed Aggregator —
  * top-level (not object-nested) so Catalyst's Janino codegen can
  * resolve the Product accessors. */
case class SummaryBuf(n: Long, mn: Double, mx: Double, sumFp: Long)
