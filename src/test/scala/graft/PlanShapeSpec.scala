package graft

import graft.ops._

/** §5.2(5) physical-plan pins: the scale claims in the operator Scaladoc
  * are enforced here — a regression that silently flips a broadcast join
  * to a nested loop (or drops pushdown) fails the suite, not just the
  * benchmark. */
class PlanShapeSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q_join_broadcast uses BroadcastHashJoin") {
    assert(plan(Joins.qJoinBroadcast(spark, sf)).contains("BroadcastHashJoin"))
  }

  test("q_join_sortmerge pins SortMergeJoin") {
    assert(plan(Joins.qJoinSortmerge(spark, sf)).contains("SortMergeJoin"))
  }

  test("q_topk_global uses TakeOrderedAndProject (no global sort)") {
    assert(plan(Relational.qTopkGlobal(spark, sf)).contains("TakeOrderedAndProject"))
  }

  test("q_scan_pushdown pushes predicates into the parquet scan") {
    val p = plan(Relational.qScanPushdown(spark, sf))
    assert(p.contains("PushedFilters: [") && p.contains("LessThan"),
           s"no pushed filters in:\n$p")
  }

  test("q_scan_parquet prunes to the projected columns") {
    val p = plan(Relational.qScanParquet(spark, sf))
    assert(p.contains("ReadSchema") && !p.contains("l_shipdate"),
           "scan reads columns beyond the projection")
  }

  test("q_join_theta_range avoids nested-loop join (bucket equi-join)") {
    val p = plan(Joins.qJoinThetaRange(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
           s"range join planned as nested loop:\n$p")
  }

  test("a_dedup_minhash is a banding equi-join, not all-pairs") {
    val p = plan(TextDedup.aDedupMinhash(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
           s"LSH join planned as nested loop:\n$p")
  }

  test("q_agg_groupby is a two-phase hash aggregate") {
    val p = plan(Aggregates.qAggGroupby(spark, sf))
    assert(p.contains("HashAggregate"))
  }

  test("q_join_bucketed joins with NO shuffle on either side") {
    val p = plan(Joins.qJoinBucketed(spark, sf))
    assert(p.contains("SortMergeJoin"), s"expected SMJ over buckets:\n$p")
    // the only allowed exchange is the final orderBy's range partition —
    // a hash-partitioning exchange would mean bucketing was ignored
    assert(!p.contains("Exchange hashpartitioning"),
           s"bucketed join still shuffles:\n$p")
  }

  test("graft_dot is SQL-callable via SparkSessionExtensions") {
    val r = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").collect()
    assert(r.head.getDouble(0) == 11.0)
  }

  test("q_sink_partitioned read-back prunes partitions in the scan") {
    val p = plan(Relational.qSinkPartitioned(spark, sf))
    assert(p.contains("PartitionFilters: [") && p.contains("o_orderstatus"),
           s"status filter not applied as a partition filter:\n$p")
  }

  test("a_dedup_simhash candidates come from a banding equi-join") {
    val p = plan(TextDedup.aDedupSimhash(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
           s"simhash join planned as nested loop:\n$p")
  }

  test("a_sim_ann_lsh candidates come from a banding equi-join") {
    val p = plan(Vectors.aSimAnnLsh(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
           s"ANN join planned as nested loop:\n$p")
  }

  test("a_sim_ann_ivf candidates come from a cell equi-join and graft_ivf_cells codegens") {
    val p = plan(Vectors.aSimAnnIvf(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
           s"IVF join planned as nested loop:\n$p")
    // the assignment expression runs inside a codegen span
    import org.apache.spark.sql.functions._
    val cents = Array.fill(4)(Array.fill(8)(0.5))
    val df = Tables.embeddings(spark, sf)
      .select(graft.functions.VectorExpressions
        .ivfCells(col("embedding"), cents, 2).as("cells"))
    df.collect()
    assert(plan(df).contains("*(1) Project [graft_ivf_cells"),
           s"no codegen span over graft_ivf_cells in:\n${plan(df)}")
  }

  test("vector ops use the native DotProduct expression (codegen), not HOFs") {
    // The knn join runs through graft_dot, not an interpreted HOF chain
    assert(plan(Vectors.qSimKnnJoin(spark, sf)).contains("graft_dot"))
    // ...and the expression itself participates in whole-stage codegen
    // where its operator does (a plain scan+project span):
    import org.apache.spark.sql.functions._
    import graft.functions.VectorExpressions.dotProduct
    val e = col("embedding") // raw array<float> — no HOF cast in the plan
    val df = Tables.embeddings(spark, sf).select(dotProduct(e, e).as("n2"))
    df.collect() // executes THIS QueryExecution, finalizing its AQE plan
    val p = plan(df)
    // codegen'd operators print with a `*(n)` stage prefix
    assert(p.contains("*(1) Project [graft_dot"),
           s"no codegen span over graft_dot in:\n$p")
  }

  test("q_text_contamination overlap is an inverted-index equi-join") {
    val p = plan(TextDedup.qTextContamination(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
           s"contamination join planned as nested loop:\n$p")
  }

  test("q_scan_dpp injects a runtime dynamicpruning partition filter") {
    val df = Relational.qScanDpp(spark, sf)
    df.collect() // finalize AQE so the executed plan is the real one
    val p = plan(df)
    assert(p.contains("dynamicpruning"),
           s"no dynamic partition pruning in the fact scan:\n$p")
  }

  test("q_dedup_editdist candidates come from a bucket equi-join") {
    val p = plan(TextDedup.qDedupEditdist(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
           s"editdist join planned as nested loop:\n$p")
  }

  test("q_join_bloom probes inside WholeStageCodegen and semi-joins broadcast") {
    val df = Joins.qJoinBloom(spark, sf)
    df.collect() // finalize executedPlan (AQE) before reading it
    val p = plan(df)
    assert(p.contains("graft_bloom_contains"), s"bloom probe missing:\n$p")
    // the probe filter must sit inside a WholeStageCodegen span — a
    // non-codegen BloomMightContain would evict the scan projection
    assert(p.split("\n").exists(l =>
      l.contains("graft_bloom_contains") && l.trim.matches("^[:+\\- ]*\\*\\(\\d+\\).*")),
      s"bloom probe not codegen'd:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
           s"verify join not broadcast semi:\n$p")
  }

  test("graft_bloom_agg + graft_bloom_contains are SQL-callable") {
    val r = spark.sql(
      """SELECT graft_bloom_contains(bf, 7L) AS hit7,
                graft_bloom_contains(bf, 1234567L) AS hit_absent
         FROM (SELECT graft_bloom_agg(id, 8192, 4) AS bf
               FROM range(0, 100) t(id))""").collect()
    assert(r.head.getBoolean(0), "inserted key must probe true")
    assert(!r.head.getBoolean(1), "far-absent key expected false at this fpp")
  }

  test("q_join_asof_native plans through the custom AsOfJoinExec") {
    val p = plan(Joins.qJoinAsofNative(spark, sf))
    assert(p.contains("AsOfJoin"), s"custom strategy not applied:\n$p")
  }

  test("q_sql_broadcast_hint resolves to a BroadcastHashJoin") {
    val p = plan(SqlSurface.qSqlBroadcastHint(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"BROADCAST hint dropped:\n$p")
  }

  test("q_join_interval overlaps via a bucket equi-join, not a nested loop") {
    val p = plan(Joins.qJoinInterval(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
           s"interval-overlap join planned as nested loop:\n$p")
  }

  test("q_text_containment pairs come from the inverted-index equi-join") {
    val p = plan(TextDedup.qTextContainment(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
           s"containment self-join planned as nested loop:\n$p")
  }

  /** The iterative graph family's loop-frame broadcasts are SIZE-GATED
    * (Util.gatedBroadcast): under the gate the hint applies (fixture
    * scale — measured 30-45% faster), above it the hint is withheld and
    * the same equi-joins run as shuffle joins. Both branches pinned
    * here; results must be identical on either path. */
  test("graph-loop broadcast gate: hinted under threshold, shuffle fallback above") {
    // driven through the UNCACHED enumeration: qGraphTriangles reads a
    // session-cached localCheckpoint materialization now, so the gated
    // wedge joins only appear in orientTriangles' own plan
    import spark.implicits._
    val pairs = ((1 to 200).map(i => (0L, i.toLong)) ++
                 (1 to 50).map(i => (i.toLong, (i + 1).toLong)))
      .distinct.toDF("a_id", "b_id")
    val autoKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
                       "spark.sql.adaptive.autoBroadcastJoinThreshold")
    // default path: gate open at this scale → broadcast wedge joins
    val hinted = TextDedup.orientTriangles(spark, pairs)
    val hintedRows = hinted.collect().map(_.toString).sorted.toSeq
    assert(plan(hinted).contains("BroadcastHashJoin"),
           s"gate should broadcast at fixture scale:\n${plan(hinted)}")
    // fallback path: Spark's own auto broadcast off withholds every
    // gated hint too (the 256 MiB closing-edge site included), so the
    // plan must degrade to shuffle joins — the shape the same code
    // produces at 100× |E|
    val prev = autoKeys.map(k => k -> spark.conf.getOption(k))
    autoKeys.foreach(spark.conf.set(_, "-1"))
    try {
      val fb = TextDedup.orientTriangles(spark, pairs)
      val fbRows = fb.collect().map(_.toString).sorted.toSeq
      val p = plan(fb)
      assert(!p.contains("BroadcastExchange"),
             s"gate closed but plan still broadcasts:\n$p")
      assert(fbRows == hintedRows, "fallback path changed the result")
    } finally {
      prev.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
  }

  /** The vocabulary-sized df table in the text-scoring family must not
    * be PINNED to a broadcast plan: under the size gate it broadcasts
    * (fixture scale), above it the token equi-join degrades to a
    * sort-merge join — the shape the same code produces on a
    * web-corpus vocabulary. Results must be identical on either path. */
  test("q_text_tfidf + q_text_rarity + q_text_unigram_lm gate the vocab df broadcast, shuffle fallback above") {
    val autoKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
                       "spark.sql.adaptive.autoBroadcastJoinThreshold")
    for (q <- Seq(TextDedup.qTextTfidf(_, _), TextDedup.qTextRarity(_, _),
                  TextAnalysis.qTextUnigramLm(_, _))) {
      val hinted = q(spark, sf)
      val hintedRows = hinted.collect().map(_.toString).toSeq
      assert(plan(hinted).contains("BroadcastHashJoin"),
             s"gate should broadcast the df table at fixture scale:\n${plan(hinted)}")
      assert(!plan(hinted).contains("SortMergeJoin"))
      val prev = autoKeys.map(k => k -> spark.conf.getOption(k))
      autoKeys.foreach(spark.conf.set(_, "-1"))
      try {
        val fb = q(spark, sf)
        val p = plan(fb)
        assert(p.contains("SortMergeJoin"),
               s"gate closed but token join did not degrade to shuffle:\n$p")
        assert(fb.collect().map(_.toString).toSeq == hintedRows,
               "fallback path changed the result")
      } finally {
        prev.foreach { case (k, v) =>
          v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      }
    }
  }

  /** The SF-scaling `customer` dimension (unlike constant-size
    * nation/region) must not be PINNED to a broadcast plan: under the
    * size gate it broadcasts (fixture scale — the star plan), above it
    * the custkey equi-join degrades to a shuffle join — the shape the
    * same code produces at SF100 where customer is ~15M rows and a
    * forced broadcast OOMs the driver. nation/region stay hinted in
    * BOTH regimes. Results must be identical on either path. */
  test("customer-dim joins gate the broadcast, shuffle fallback above") {
    val autoKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
                       "spark.sql.adaptive.autoBroadcastJoinThreshold")
    for (q <- Seq(Joins.qJoinBroadcast(_, _), Joins.qJoinStar(_, _),
                  Joins.qJoinBloom(_, _), Aggregates.qAggMode(_, _))) {
      val hinted = q(spark, sf)
      val hintedRows = hinted.collect().map(_.toString).toSeq
      assert(plan(hinted).contains("BroadcastHashJoin"),
             s"gate should broadcast customer at fixture scale:\n${plan(hinted)}")
      assert(!plan(hinted).contains("SortMergeJoin") &&
             !plan(hinted).contains("ShuffledHashJoin"),
             s"fixture-scale star plan must not shuffle the fact side:\n${plan(hinted)}")
      val prev = autoKeys.map(k => k -> spark.conf.getOption(k))
      autoKeys.foreach(spark.conf.set(_, "-1"))
      try {
        val fb = q(spark, sf)
        val p = plan(fb)
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
               s"gate closed but customer join did not degrade to shuffle:\n$p")
        assert(fb.collect().map(_.toString).toSeq == hintedRows,
               "fallback path changed the result")
      } finally {
        prev.foreach { case (k, v) =>
          v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      }
    }
  }

  /** Whole-surface plan-health tripwire: NO registered batch query may
    * plan a CartesianProduct, and a BroadcastNestedLoopJoin is legal
    * ONLY for (a) the two DECLARED quadratic oracle twins (fail-fast
    * guarded at data scale) and (b) queries whose crossJoin side is a
    * constant-size post-aggregation frame (1-row corpus totals, k-row
    * centroid/bounds strips) — a BNLJ over a 1-row broadcast side is a
    * map-side column append, not an all-pairs product. Each allowlisted
    * key was individually audited (round-5 plan audit) and carries the
    * justification at its crossJoin site. Any future query that drifts
    * into a nested-loop or cartesian plan fails HERE, not in a
    * 100×-scale outage. The same pass fails any window frame that runs
    * from a row (not the partition start) to UNBOUNDED FOLLOWING: Spark
    * re-aggregates such a frame from every row, quadratic per partition;
    * the descending running frame gives the same answer in one pass. */
  test("plan-health sweep: no cartesian/nested-loop outside declared twins + constant-side crossJoins") {
    val quadraticTwins = Set("q_sim_knn_join", "q_dedup_embed")
    val constSideCrossJoin = Set(
      // 1-row corpus/global totals riding a broadcast crossJoin
      "q_agg_benford", "q_ab_cuped", "q_audit_sequence_gaps",
      "q_text_tfidf", "q_text_rarity", "q_text_keyword_extract",
      "q_text_unigram_lm", "q_text_pmi", "q_join_bloom",
      "q_ts_dod_wow", "q_ts_freshness", "q_ts_mttr",
      "q_ts_outage_intervals", "q_ts_retention_curve",
      "q_ts_seasonal_detrended", "q_ts_wau_rolling",
      "q_ts_forecast_linreg", "q_ts_interpolate", "q_ts_runs_test",
      "q_ts_cross_corr", "q_sim_search_topk", "a_sim_ann_ivfpq",
      // round-6 additions: 1-row midpoint-day / min-quota frames
      "q_ab_diff_in_diff", "q_sample_balanced",
      "a_dedup_bloom_contam", "a_agg_hll_rolling", "q_text_mix_drift",
      // round-10: 1-row (sum_w, n_total) corpus totals building the
      // 20-row temperature acceptance-rate frame; the perplexity
      // buckets ride q_text_unigram_lm's audited 1-row nn total
      "q_sample_temperature", "q_text_perplexity_buckets",
      "q_sample_upsample",
      // round-11: 1-row (nt)/(nr) corpus-total frames building the
      // constant 256-row DSIR bucket log-ratio table
      "q_sample_dsir",
      // round-13: 1-row (n, total) frames feeding the closed-form
      // ntileFromRank — replaced the unpartitioned ntile windows
      "q_agg_ltv_deciles", "q_ts_rfm",
      // round-14: 1-row (n1, n2) arm-totals frame riding a broadcast
      // crossJoin onto the ranked value grid — replaced the KS op's
      // whole-frame-total window when the global CDF windows retired
      "q_ab_ks",
      // k-row / calendar-bounded broadcast strips (centroids, bounds,
      // lag offsets, last-2-weeks, ≤365-day theta self-join)
      "a_agg_hll_intersect", "q_embed_interdist", "q_embed_silhouette",
      "q_ts_hampel", "q_ts_kendall_tau", "q_win_rank_change",
      // the DECLARED cross-join op (constant-size dim × dim)
      "q_join_cross")
    import org.apache.spark.sql.catalyst.expressions.{SpecifiedWindowFrame, UnboundedFollowing,
      UnboundedPreceding}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // A frame from a row to the end of its partition is re-aggregated
    // from every row: quadratic in the partition's size.
    def quadraticFrames(plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
      val initial = plan match { case a: AdaptiveSparkPlanExec => a.inputPlan; case p => p }
      initial.collectWithSubqueries { case w: WindowExec => w.windowExpression }.flatten.flatMap {
        _.collect { case f @ SpecifiedWindowFrame(_, lower, UnboundedFollowing)
                      if lower != UnboundedPreceding => f.sql }
      }.distinct
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if quadraticTwins(name) => Nil
      case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan
        val p = plan.toString
        val frames = quadraticFrames(plan).map(f => s"$name: window frame $f")
        if (p.contains("CartesianProduct"))
          s"$name: CartesianProduct" +: frames
        else if (p.contains("BroadcastNestedLoopJoin") && !constSideCrossJoin(name))
          s"$name: BroadcastNestedLoopJoin" +: frames
        else frames
    }
    assert(offenders.isEmpty,
           s"nested-loop/cartesian plans or quadratic window frames leaked into:\n${offenders.mkString("\n")}")
  }

  test("q_dedup_cluster + q_graph_pagerank are correct on the shuffle fallback path") {
    val autoKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
                       "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val clusterRows = TextDedup.qDedupCluster(spark, sf).collect().map(_.toString).toSeq
    val prRows = TextDedup.qGraphPagerank(spark, sf).collect().map(_.toString).toSeq
    autoKeys.foreach(spark.conf.set(_, "-1"))
    try {
      assert(TextDedup.qDedupCluster(spark, sf).collect().map(_.toString).toSeq
               == clusterRows, "cluster fallback path changed the result")
      assert(TextDedup.qGraphPagerank(spark, sf).collect().map(_.toString).toSeq
               == prRows, "pagerank fallback path changed the result")
    } finally autoKeys.foreach(spark.conf.unset)
  }

  test("q_join_theta_range plans as a hash equi-join on the bucket key") {
    val p = plan(Joins.qJoinThetaRange(spark, sf))
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
             || p.contains("ShuffledHashJoin"),
           s"bucket join not an equi-join plan:\n$p")
  }

  test("q_source_dsv2: the custom connector gets the filter pushed and columns pruned") {
    val df = Relational.qSourceDsv2(spark, sf)
    df.collect() // finalize executedPlan (AQE) before reading it
    val p = plan(df)
    // the scan description proves the series predicate narrowed
    // GENERATION at the source and only 2 of 4 columns materialize
    assert(p.contains("TelemetryScan[series=8..23, cols=series_id,value]"),
           s"pushdown/pruning not reflected in the scan:\n$p")
    // both between-bounds were fully absorbed: no post-scan Filter
    // NODE (the BatchScan line's "RuntimeFilters:" label doesn't count)
    assert(!p.contains("+- Filter ") && !p.contains(") Filter "),
           s"pushed filter still evaluated post-scan:\n$p")
  }

  test("q_source_dsv2_agg: COUNT/MIN/MAX complete-push into the connector — no Spark-side aggregate") {
    val df = Relational.qSourceDsv2Agg(spark, sf)
    val row = df.collect()(0)
    assert(row.getLong(0) == 1600L && row.getLong(1) == 8L && row.getLong(2) == 23L)
    val p = plan(df)
    assert(p.contains("PushedAggregates"),
           s"scan description must show the pushed aggregates:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
           s"complete pushdown must leave no Spark-side aggregate:\n$p")
  }

  test("q_source_dsv2_agg declines unpushable aggregates (value min/max computed by Spark)") {
    // min/max over `value` has no closed form at the source — the
    // connector must DECLINE, and Spark aggregates the raw scan
    val df = spark.read.format("graft.sources.TelemetrySource")
      .option("series", "8").option("samples", "10").load()
      .agg(org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.col("value")).as("mn"))
    df.collect()
    val p = plan(df)
    assert(p.contains("HashAggregate") && !p.contains("PushedAggregates"),
           s"declined aggregate must be computed Spark-side:\n$p")
  }

  test("q_source_dsv2: batch reads are columnar (vectorized scan feeding ColumnarToRow)") {
    val df = Relational.qSourceDsv2(spark, sf)
    df.collect()
    assert(plan(df).contains("ColumnarToRow"),
           s"batch path must read ColumnarBatches:\n${plan(df)}")
  }

  test("q_agg_hhi: pure hash-agg pipeline, no window/sort shuffle") {
    val p = plan(Aggregates.qAggHhi(spark, sf))
    assert(p.contains("HashAggregate"), s"expected hash aggregation:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
           s"HHI must not need a rank window (that is q_agg_gini's cost):\n$p")
  }

  test("q_ab_cuped: the 1-row moment frame joins by broadcast") {
    val p = plan(Aggregates.qAbCuped(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
           s"global moments must broadcast, not shuffle the user frame:\n$p")
  }

  test("q_source_dsv2_limit: the LIMIT reaches the connector scan") {
    val df = Relational.qSourceDsv2Limit(spark, sf)
    assert(df.collect()(0).getLong(0) == 1234L)
    assert(plan(df).contains("limit=1234"),
           s"pushed limit must appear in the scan description:\n${plan(df)}")
  }

  test("q_graph_clustercoef: wedge/semi-join path is node-keyed — no nested loop, no cartesian") {
    val p = plan(TextDedup.qGraphClustercoef(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
           s"wedge join must stay an equi-join on node ids:\n$p")
  }

  test("q_graph_2hop/linkpred: wedge joins carry the hub-salt key (skew guard wired)") {
    // the salt column rides the join key unconditionally (0 for
    // non-hubs), so its presence in the optimized plan proves the
    // guarded layout is what actually runs — not a code path that
    // only exists when a hub is detected
    for (q <- Seq(TextDedup.qGraph2hop(_, _), TextDedup.qGraphLinkpred(_, _))) {
      val p = plan(q(spark, sf))
      assert(p.contains("_wsalt"),
             s"hub-salt key missing from the wedge join plan:\n$p")
      assert(!p.contains("CartesianProduct"), s"wedge join degenerated:\n$p")
    }
  }

  test("q_multimodal_neardup: band candidates join as an equi-join, not all-pairs") {
    val p = plan(Multimodal.qMultimodalNeardup(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
           s"pigeonhole banding must plan as an equi-join on (band, value):\n$p")
  }

  test("q_embed_silhouette: the k-row centroid frame broadcasts") {
    val p = plan(Vectors.qEmbedSilhouette(spark, sf))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
           s"centroids must ride a broadcast, not shuffle the embeddings:\n$p")
  }

  test("q_win_rolling_slope: exactly the two required hash exchanges, one Window pass") {
    val p = plan(Windows.qWinRollingSlope(spark, sf))
    // minimal shape: one (type, day) agg exchange + one (type) window
    // exchange — a third would mean the frame moments stopped sharing
    // one window pass
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2,
           s"expected at most the agg + window shuffles, got $exchanges:\n$p")
  }

  test("MERGE INTO plans group-based ReplaceData + MergeRows and publishes truncate+append") {
    import graft.sources.TelemetryStore
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val tbl = s"merge_pin_p${ProcessHandle.current().pid()}"
    val ident = s"graft.store.$tbl"
    spark.sql(s"DROP TABLE IF EXISTS $ident")
    spark.sql(s"CREATE TABLE $ident (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $ident VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("SELECT * FROM VALUES (2L, 'B'), (9L, 'Z') AS u(uk, uv)")
      .createOrReplaceTempView("merge_pin_src")
    val mergeSql = s"""
      MERGE INTO $ident t USING merge_pin_src u ON t.k = u.uk
      WHEN MATCHED THEN UPDATE SET v = u.uv
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (u.uk, u.uv)"""
    // plan pin: the SQL statement must rewrite to the group-based
    // row-level plan (MergeRows over the full-outer join, published via
    // ReplaceData) — not fail analysis, not fall to some V1 path
    val p = spark.sql(s"EXPLAIN $mergeSql").collect().map(_.getString(0)).mkString
    assert(p.contains("ReplaceData"), s"MERGE did not plan ReplaceData:\n$p")
    assert(p.contains("MergeRows"), s"MERGE did not plan MergeRows:\n$p")
    // execution: post-merge image is the full-outer-coalesce result,
    // and the store saw it as ONE atomic truncate+append publish
    spark.sql(mergeSql)
    val rows = spark.sql(s"SELECT k, v FROM $ident ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "B"), (3L, "c"), (9L, "Z")),
           s"post-merge content wrong: $rows")
    assert(TelemetryStore.lastCommit.get(s"store.$tbl") == "truncate+append",
           "row-level publish must be the atomic truncate+append swap")
    spark.sql(s"DROP TABLE $ident")
  }

  test("file-backed MERGE INTO: same MergeRows+ReplaceData plan, manifest-swap publish, files hold the rows") {
    import graft.sources.{FileStore, TelemetryStore}
    val root = graft.ops.Util.sinkDir("storecat_pin")
    spark.conf.set("spark.sql.catalog.graftfpin", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftfpin.path", root)
    val tbl = s"mergef_pin_p${ProcessHandle.current().pid()}"
    val ident = s"graftfpin.store.$tbl"
    spark.sql(s"DROP TABLE IF EXISTS $ident")
    spark.sql(s"CREATE TABLE $ident (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO $ident VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("SELECT * FROM VALUES (2L, 'B'), (9L, 'Z') AS u(uk, uv)")
      .createOrReplaceTempView("mergef_pin_src")
    val mergeSql = s"""
      MERGE INTO $ident t USING mergef_pin_src u ON t.k = u.uk
      WHEN MATCHED THEN UPDATE SET v = u.uv
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (u.uk, u.uv)"""
    // the backend must not change the PLAN: same group-based rewrite
    val p = spark.sql(s"EXPLAIN $mergeSql").collect().map(_.getString(0)).mkString
    assert(p.contains("ReplaceData") && p.contains("MergeRows"),
           s"file-backed MERGE lost the group-based plan:\n$p")
    spark.sql(mergeSql)
    val rows = spark.sql(s"SELECT k, v FROM $ident ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "B"), (3L, "c"), (9L, "Z")),
           s"post-merge content wrong: $rows")
    assert(TelemetryStore.lastCommit.get(s"store.$tbl") == "truncate+append",
           "row-level publish must be the atomic truncate+append swap")
    // backend specifics: rows live in data FILES listed by the current
    // manifest (insert = publish v1, merge truncate+append = v2), and
    // nothing row-sized sits in the in-memory store
    val dir = FileStore.tableDir(root, s"store.$tbl")
    assert(FileStore.currentVersion(dir) == 2L,
           s"expected manifest v2 (insert, merge), got ${FileStore.currentVersion(dir)}")
    val live = FileStore.liveFiles(dir)
    assert(live.nonEmpty && live.forall(f =>
             new java.io.File(new java.io.File(dir, "data"), f).isFile),
           s"manifest lists missing data files: $live")
    assert(TelemetryStore.rows(s"store.$tbl").isEmpty,
           "file-backed table must not buffer rows in the driver store")
    spark.sql(s"DROP TABLE $ident")
    assert(FileStore.schemaOf(dir).isEmpty, "DROP TABLE must remove the table dir")
  }

  test("graft_bitmap_* are SQL-callable and exact") {
    val r = spark.sql(
      """SELECT graft_bitmap_count(graft_bitmap_union_agg(bm)) AS n FROM (
           SELECT graft_bitmap_agg(id) AS bm FROM range(0, 1000) t(id)
           GROUP BY id % 7)""").collect()
    assert(r.head.getLong(0) == 1000L, "union of 7 partial bitmaps must be exact")
  }

  test("wedge-bound gate (forced): maxWedgeBound=0 streams triples, answers unchanged") {
    // the round-10 gate: triple volume is clique-driven, so past
    // graft.graph.maxWedgeBound the triple frame must NOT materialize —
    // forcing the gate at fixture scale must change ONLY the caching
    // posture, never the triangle counts
    val gateKey = "graft.graph.maxWedgeBound"
    val base = TextDedup.qGraphTriangles(spark, sf)
      .collect().map(_.toString).toSeq
    spark.conf.set(gateKey, "0")
    try {
      val forced = TextDedup.qGraphTriangles(spark, sf)
        .collect().map(_.toString).toSeq
      assert(forced == base,
        "forced streaming-triples path must be bit-equal to the cached path")
    } finally spark.conf.unset(gateKey)
  }

  test("checkpoint stats are materialization-derived, not inherited estimates") {
    // the round-10 honest-stats seam: an explode chain's pre-checkpoint
    // estimate under-reads the output by orders of magnitude; after
    // serCheckpoint the LogicalRDD must carry a size that reflects the
    // MATERIALIZED bytes, or Catalyst auto-broadcasts data-sized frames
    // into every consumer join (the sf1 executor-OOM root cause)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val blown = (0L until 200L).toDF("id")
      .select(col("id"), explode(sequence(lit(0), lit(499))).as("j"))
      .select(col("id"), col("j"), md5(concat(col("id"), lit("-"), col("j"))).as("h"))
    val ck = graft.ops.Util.serCheckpoint(blown)        // reliable branch
    val stats = ck.queryExecution.optimizedPlan.stats.sizeInBytes
    // 100k rows × (8+4+32)B ≥ 4 MB decoded; the honest floor asserts
    // the stats can never read "tiny broadcastable frame"
    assert(stats >= BigInt(1L << 20),
      s"checkpointed 100k-row frame reports sizeInBytes=$stats — inherited estimate leaked through")
    val local = graft.ops.Util.serCheckpoint(blown, estRows = 100000L)  // local branch (gate 4M)
    val ls = local.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(ls >= BigInt(1L << 20),
      s"localCheckpoint branch reports sizeInBytes=$ls — storage-info stats missing")
  }

  test("q_text_chunk: map-only before the presentation sort (no join/agg exchange)") {
    val p = plan(TextAnalysis.qTextChunk(spark, sf))
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
           s"chunking must be pure per-row expression work:\n$p")
    // no exchange but the presentation sort's range exchange, which a
    // small input sorts without (SmallSortStrategy)
    val exchanges = "Exchange \\w+".r.findAllIn(p).toSeq
    assert(exchanges.forall(_ == "Exchange rangepartitioning") && exchanges.size <= 1,
           s"chunking must not shuffle except for the presentation sort:\n$p")
  }

  test("q_sample_temperature: rate frame broadcasts — no data-sized shuffle join") {
    val p = plan(TextAnalysis.qSampleTemperature(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
           s"the domain-rate frame must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
           "membership must never sort-merge the corpus against 20 rates")
  }

  test("q_sample_dsir: the 256-row log-ratio table broadcasts; scoring never sort-merges the corpus") {
    val df = TextAnalysis.qSampleDsir(spark, sf)
    df.collect() // finalize AQE before reading the plan
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
           s"the constant bucket-ratio frame must ride a broadcast join:\n$p")
    // the only sort-merge-eligible joins are bucket-keyed 256-row
    // frames — none of them may degrade to a corpus-wide sort
    assert(!p.contains("SortMergeJoin"),
           s"DSIR scoring must never sort-merge on the bucket key:\n$p")
  }

  test("q_text_source_overlap: gram self-join is hash-keyed; size frames broadcast") {
    val df = TextDedup.qTextSourceOverlap(spark, sf)
    df.collect()
    val p = plan(df)
    assert(p.contains("HashAggregate"), s"distinct/count must hash-aggregate:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
           s"the pair matrix must come from the gram equi-join, never a cross:\n$p")
  }

  test("q_sql_pipe: pipe syntax plans exactly like the nested SELECT (pushdown + hash agg)") {
    val p = plan(SqlSurface.qSqlPipe(spark, sf))
    assert(p.contains("HashAggregate") && p.contains("PushedFilters: ["),
           s"pipe chain must plan to pushdown + hash agg:\n$p")
  }

  // ---- round-13: the global-window family is DEAD (round-12 verdict's
  // one remaining scale-killer class). These pins inspect WindowExec
  // nodes structurally — partitionSpec.isEmpty is exactly Spark's "No
  // Partition Defined ... moving all data to a single partition"
  // condition — so a regression that re-introduces a data-sized
  // single-task window fails the suite, not just the 100× ladder.

  private def windowNodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] = {
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    root.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
  }
  private def unpartitioned(df: org.apache.spark.sql.DataFrame): Int =
    windowNodes(df).count(_.partitionSpec.isEmpty)

  /** How each native RankByRangeExec of the plan reads its input, under
    * the partition-local sort the planner adds: "one" over
    * CoalesceExec(1), "range" over a RangePartitioning exchange, "other"
    * otherwise. Reads the adaptive plan before execution: the initial
    * plan, exchanges inserted. */
  private def rankInputs(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.{CoalesceExec, SortExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    root.collect { case r: graft.plans.RankByRangeExec => r.child match {
      case SortExec(_, false, CoalesceExec(1, _), _) => "one"
      case SortExec(_, false, e: ShuffleExchangeExec, _)
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => "range"
      case _ => "other"
    } }.sorted
  }

  /** The input shape the one-partition rule asks of each rank: "one"
    * where the rank's input estimate is within SmallSortStrategy's gate,
    * "range" above it. */
  private def gatedRankInputs(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val conf = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    val gate = graft.plans.SmallSortStrategy.gate(conf)
    df.queryExecution.optimizedPlan.collect {
      case r: graft.plans.RankByRangePlan =>
        if (r.child.stats.sizeInBytes <= gate) "one" else "range"
    }.sorted
  }

  /** The whale-family and round-14 rank keys, built in session `s`. */
  private def rankKeys(s: org.apache.spark.sql.SparkSession)
      : Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
    "q_agg_gini" -> (() => Aggregates.qAggGini(s, sf)),
    "q_agg_pareto_share" -> (() => Aggregates.qAggParetoShare(s, sf)),
    "q_agg_ltv_deciles" -> (() => Aggregates.qAggLtvDeciles(s, sf)),
    "q_ts_rfm" -> (() => TimeSeries.qTsRfm(s, sf)),
    "q_ab_ks" -> (() => Aggregates.qAbKs(s, sf)),
    "q_ab_mannwhitney" -> (() => Aggregates.qAbMannwhitney(s, sf)),
    "q_agg_percentile_weighted" -> (() => Aggregates.qAggPercentileWeighted(s, sf)),
    "q_sample_stratified" -> (() => TextAnalysis.qSampleStratified(s, sf)))

  /** Each rank of `name` reads one coalesced partition when its input is
    * within the gate, and a range exchange above it. */
  private def assertGatedRanks(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
    val got = rankInputs(df)
    assert(got.nonEmpty && got == gatedRankInputs(df),
           s"$name: rank inputs $got, the gate asks for ${gatedRankInputs(df)}")
  }

  test("q_text_zipf: top-1000 is a TakeOrderedAndProject heap cut — zero windows anywhere") {
    val df = TextAnalysis.qTextZipf(spark, sf)
    assert(plan(df).contains("TakeOrderedAndProject"),
           s"top-1000 must be per-partition heaps, not a vocab sort:\n${plan(df)}")
    assert(windowNodes(df).isEmpty,
           "zipf must not window at all — ranks derive from the 1000-row array")
  }

  test("q_audit_sequence_gaps: every lag window is bucket-partitioned (no single-task id sort)") {
    assert(unpartitioned(Relational.qAuditSequenceGaps(spark, sf)) == 0,
           "sequence audit must never move all ids into one window task")
  }

  test("whale family (gini/pareto/ltv/rfm): ranks ride rankedByRange — no unpartitioned window") {
    for ((name, build) <- rankKeys(spark).take(4)) {
      val df = build()
      assert(unpartitioned(df) == 0,
             s"$name: the per-user frame must never sort in one window task")
      assertGatedRanks(name, df)
    }
  }

  test("round-14 window retirements (ks/mannwhitney/stratified/percentile_weighted): no unpartitioned window") {
    for ((name, build) <- rankKeys(spark).drop(4)) {
      val df = build()
      assert(unpartitioned(df) == 0,
             s"$name: the value grid / stratum frame must never sort in one window task")
      assertGatedRanks(name, df)
    }
  }

  test("rankedByRange keys range-partition every rank when minPartitionSize=1b opts out of the one-partition rule") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
    for ((name, build) <- rankKeys(s)) {
      val got = rankInputs(build())
      assert(got.nonEmpty && got.forall(_ == "range"),
             s"$name: expected every RankByRangeExec over a RangePartitioning exchange, got $got")
    }
  }

  test("q_text_vocab_growth: decile assignment is rank-based; only the 10-row decile frame windows unpartitioned") {
    val df = TextAnalysis.qTextVocabGrowth(spark, sf)
    val un = windowNodes(df).filter(_.partitionSpec.isEmpty)
    assert(un.size == 1,
           s"expected exactly the 10-row decile cumsum window, got ${un.size}")
    assert(un.head.output.exists(_.name == "docs_cum"),
           "the surviving unpartitioned window must be the decile-frame cumsum")
  }

  test("q_pipeline_pack: start positions ride rankedByRange, no unpartitioned window") {
    val df = TextAnalysis.qPipelinePack(spark, sf)
    assert(unpartitioned(df) == 0,
           "the per-doc running token sum must never sort in one window task")
    assertGatedRanks("q_pipeline_pack", df)
  }

  test("docGrams8 build plan has no Window and no Sort (round-13 map-side shingles)") {
    val p = plan(TextDedup.docGrams8Plan(spark, sf))
    assert(!p.contains("Window") && !p.contains("Sort"),
           s"shingle build regressed to the window shape:\n$p")
  }

  test("docGrams8 rows equal the window-shingle reference frame") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the round-12 formulation, inlined as the reference: posexplode →
    // per-doc ordered window → collect_list(8) → md5
    val d = Tables.documents(spark, sf)
      .withColumn("b", Util.md5Bucket(col("doc_id")))
      .withColumn("tk", split(col("text"), " "))
      .where(size(col("tk")) >= 8)
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, 7)
    val ref = d
      .select(col("doc_id"), col("b"), posexplode(col("tk")).as(Seq("pos", "w")))
      .withColumn("g8", collect_list(col("w")).over(frame))
      .where(size(col("g8")) === 8)
      .select(col("doc_id"), col("b"), col("pos"),
              md5(concat_ws(" ", col("g8"))).as("gram"))
      .collect().toSet
    val got = TextDedup.docGrams8Plan(spark, sf).collect().toSet
    assert(got == ref, s"gram frames differ: got ${got.size} rows, ref ${ref.size}")
  }

  test("q_pipeline_pack forced path: the range-exchange rank gives identical rows") {
    val base = TextAnalysis.qPipelinePack(spark, sf).collect().toSeq
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
    val forced = TextAnalysis.qPipelinePack(s, sf)
    val ranks = rankInputs(forced)
    assert(ranks == Seq("range"),
           s"minPartitionSize=1b must rank over a range exchange, got $ranks")
    assert(forced.collect().toSeq == base,
           "offset placement must be identical on the range-exchange path")
  }

  // ---- SmallSortStrategy: a global ORDER BY over an input AQE would
  // read as one partition sorts in one partition, with no range
  // exchange and so no range-sampling job.

  test("q_win_moving_avg: the final ORDER BY sorts in one partition — no range exchange") {
    val df = Windows.qWinMovingAvg(spark, sf)
    df.collect() // finalize AQE before reading the plan
    val p = df.queryExecution.executedPlan
    assert(SmallSortPlans.rangeExchanges(p) == 0, s"range exchange left in:\n$p")
    assert(SmallSortPlans.oneTaskSorts(p) == 1,
           s"expected the global SortExec over CoalesceExec(1):\n$p")
  }

  test("SmallSortStrategy's gate reads the session conf: minPartitionSize=1b keeps the range exchange") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
    val df = Windows.qWinMovingAvg(s, sf)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(SmallSortPlans.rangeExchanges(p) == 1 && SmallSortPlans.oneTaskSorts(p) == 0,
           s"the opt-out must plan Spark's range-partitioned sort:\n$p")
  }
}

/** Plan probes for [[graft.plans.SmallSortStrategy]]; they descend
  * into AQE query stages. */
object SmallSortPlans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
  import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SortExec, SparkPlan}
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

  def rangeExchanges(p: SparkPlan): Int = collect(p) {
    case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }.size

  /** Global sorts whose child is one coalesced partition (behind the
    * codegen input boundary once the stage is compiled). */
  def oneTaskSorts(p: SparkPlan): Int = collect(p) {
    case s @ SortExec(_, true, CoalesceExec(1, _) | InputAdapter(CoalesceExec(1, _)), _) => s
  }.size
}
