package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 fixture generator (round-5 scale-proof tooling; src/test so it
  * never ships in the graded library classes).
  *
  * The driver's generator isn't available (TESTDATA.md documents only
  * the artifacts), so sf1 is derived from the sf0.1 set by a
  * DETERMINISTIC structure-preserving 10× scale-up: `copies` disjoint
  * key-spaces, each a shifted copy of sf0.1, so every join/FK
  * relationship, per-user time series, and near-dup family is
  * preserved per copy and never bleeds across copies:
  *
  *  - fact/dim keys shift by copy × (max_key + 1): `orders.o_custkey`
  *    still hits `customer.c_custkey`, `lineitem.l_orderkey` still
  *    hits its order, etc. `nation`/`region` stay fixed (real
  *    deployments scale facts, not country lists).
  *  - `events`: user_id and event_id shift — 10× users, each with the
  *    sf0.1 series shape (windows/sessionization scale linearly).
  *    `ts` is written as TIMESTAMP(µs) (Spark can't write the
  *    original TIMESTAMP(NANOS)); values are the same ns-div-1000
  *    µs-truncation both engines already compute.
  *  - `documents`: copy k > 0 prefixes every token with "k<k>" — the
  *    within-copy token-overlap structure (near-dup pairs, tf/df
  *    shape) is untouched while cross-copy Jaccard is exactly 0, so
  *    dedup work scales ×10 linearly (identical text across copies
  *    would instead create quadratic cross-copy near-dup cliques) and
  *    the vocabulary scales ×10 (which drives the tfidf/rarity
  *    broadcast gate past its threshold — the fallback-engagement
  *    evidence the scale-proof wants). `n_chars` is recomputed.
  *  - `embeddings`: copy k rotates each vector by k positions —
  *    norm-preserving, deterministic, and decorrelates copies (iid
  *    components ⇒ rotated copies are near-orthogonal), so ANN bucket
  *    occupancy scales linearly instead of stacking 10 identical
  *    vectors per bucket.
  *
  * Usage: GenSf1 [srcDir] [outDir] [copies]
  */
object GenSf1 {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: regenerate only the listed tables
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    val spark = graft.Posture.session(s"local[${graft.Posture.cpus("32")}]",
      Seq("spark.sql.shuffle.partitions" -> "32"))

    def keySpan(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    /** 10 shifted copies of `name`; `shift` columns move by copy ×
      * span; `mutate(df, k)` applies the per-copy transform. */
    def scale(name: String, shift: Map[String, Long],
              files: Int = 8,
              mutate: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      if (only.exists(!_.contains(name))) return
      val base = spark.read.parquet(s"$src/$name.parquet")
      val unioned = (0 until copies).map { k =>
        val shifted = shift.foldLeft(base) { case (d, (c, span)) =>
          d.withColumn(c, col(c) + lit(span * k)) }
        mutate(shifted, k)
      }.reduce(_ unionAll _)
      unioned.repartition(files)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[gen_sf1] $name x$copies written")
    }

    def copyAsIs(name: String): Unit = {
      if (only.exists(!_.contains(name))) return
      spark.read.parquet(s"$src/$name.parquet").coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[gen_sf1] $name copied")
    }

    val cust = spark.read.parquet(s"$src/customer.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val sup = spark.read.parquet(s"$src/supplier.parquet")
    val prt = spark.read.parquet(s"$src/part.parquet")
    val ev = spark.read.parquet(s"$src/events.parquet")
    val C = keySpan(cust, "c_custkey")
    val O = keySpan(ord, "o_orderkey")
    val S = keySpan(sup, "s_suppkey")
    val P = keySpan(prt, "p_partkey")
    val E = keySpan(ev, "event_id")
    val U = keySpan(ev, "user_id")
    val D = keySpan(spark.read.parquet(s"$src/documents.parquet"), "doc_id")
    val V = keySpan(spark.read.parquet(s"$src/embeddings.parquet"), "vec_id")

    copyAsIs("region")
    copyAsIs("nation")
    scale("customer", Map("c_custkey" -> C), files = 2)
    scale("supplier", Map("s_suppkey" -> S), files = 1)
    scale("part", Map("p_partkey" -> P), files = 2)
    scale("orders", Map("o_orderkey" -> O, "o_custkey" -> C))
    scale("lineitem", Map("l_orderkey" -> O, "l_partkey" -> P, "l_suppkey" -> S),
          files = 16)
    // Older fixture sets store ts as TIMESTAMP(NANOS) → raw ns longs
    // under nanosAsLong (µs-truncate like Tables.events); regenerated
    // sets store TIMESTAMP(µs) already — pass through unchanged.
    val tsIsLong =
      ev.schema("ts").dataType == org.apache.spark.sql.types.LongType
    scale("events", Map("event_id" -> E, "user_id" -> U),
          mutate = (d, _) =>
            if (tsIsLong) d.withColumn("ts", timestamp_micros(expr("ts div 1000")))
            else d)
    scale("documents", Map("doc_id" -> D), mutate = (d, k) =>
      if (k == 0) d else {
        val salted = d.withColumn("text",
          array_join(transform(split(col("text"), " "),
            t => concat(lit(s"k$k"), t)), " "))
        salted.withColumn("n_chars", length(col("text")).cast("long"))
      })
    scale("embeddings", Map("vec_id" -> V), files = 2, mutate = (d, k) => {
      // rotate by k mod dim (slice args must stay in-range — k ≥ dim
      // crashed the 100-copy sf10 build); past one full cycle negate
      // the vector so copies 64.. aren't bit-identical rotations of
      // copies 0..: negation preserves norms and within-copy geometry
      // while flipping every SRP hyperplane sign cross-copy
      val dim = 64
      val r = k % dim
      val rotated = if (r == 0) d else d.withColumn("embedding",
        concat(slice(col("embedding"), r + 1, dim - r),
               slice(col("embedding"), 1, r)))
      if (k < dim) rotated
      else rotated.withColumn("embedding",
        transform(col("embedding"), x => -x))
    })
    spark.stop()
  }
}
