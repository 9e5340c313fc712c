package graft.tools

import org.apache.spark.sql.functions._

/** ANN recall re-check at a given scale (diagnostic, src/test): the
  * PropertySpec recall bounds run at fixture scale; this replays the
  * same measurement at sf10+ where the index routes through its
  * at-scale branches (IMI cells, PQ codebook reuse). For each ANN op
  * that answers "top-10 for query vec 0", recall@10 = |ANN ∩ exact|/10
  * against the brute-force cosine top-10 over the full embedding table
  * (the ground truth the index approximates).
  *
  * Usage: RecallCheck [sfDir] [minRecall] */
object RecallCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/tmp/graft_sf10"
    val minRecall = if (args.length > 1) args(1).toDouble else 0.8
    val spark = graft.Posture.session(s"local[${graft.Posture.cpus("16")}]", Seq(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions"))

    // ground truth: brute-force cosine top-10 for vec 0 over the table
    // (one scan + a codegen'd dot product — the exact twin every ANN
    // property test anchors on)
    val emb = graft.Tables.embeddings(spark, sfDir)
    val qRow = broadcast(emb.where(col("vec_id") === 0)
      .select(col("embedding").as("query_vec")))
    val exact = emb.where(col("vec_id") =!= 0).crossJoin(qRow)
      .select(col("vec_id"),
        (graft.functions.VectorExpressions.dotProduct(col("embedding"), col("query_vec")) /
          (sqrt(graft.functions.VectorExpressions.dotProduct(col("embedding"), col("embedding"))) *
           sqrt(graft.functions.VectorExpressions.dotProduct(col("query_vec"), col("query_vec")))))
          .as("sim"))
      .orderBy(desc("sim"), asc("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet

    var failed = false
    Seq("a_sim_ann_ivfpq").foreach { key =>
      val got = graft.SparkEntry.queries(key)(spark, sfDir)
        .collect().map(_.getLong(0)).toSet
      val recall = (got & exact).size / 10.0
      println(f"[recall] $key @ $sfDir: recall@10 = $recall%.2f (exact=${exact.toSeq.sorted.mkString(",")} got=${got.toSeq.sorted.mkString(",")})")
      if (recall < minRecall) failed = true
    }
    println(s"[recall] ${if (failed) "FAIL" else "PASS"} (min $minRecall)")
    spark.stop()
    if (failed) sys.exit(1)
  }
}
