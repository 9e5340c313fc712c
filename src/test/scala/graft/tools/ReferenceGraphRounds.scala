package graft.tools

/** Driver-side references for `q_graph_2core`, `q_graph_bfs` and
  * `q_graph_pagerank` over an undirected pair list. Each follows the
  * oracle SQL's rounds literally, with maps and sets over the directed
  * edge list `e = pairs ∪ swapped`: every round over the whole graph,
  * to the full bound, with no components and no early stop. The
  * per-component array kernels (PropertySpec) are checked against
  * them. */
object ReferenceGraphRounds {
  private def edges(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    pairs ++ pairs.map(_.swap)

  /** 10 rounds of `k = {u : COUNT(e from u) ≥ 2}`, `e = e with u ∈ k and
    * v ∈ k`; then (u, COUNT(e from u)). */
  def twoCore(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    var e = edges(pairs)
    for (_ <- 1 to 10) {
      val k = e.groupBy(_._1).filter(_._2.size >= 2).keySet
      e = e.filter { case (u, v) => k(u) && k(v) }
    }
    e.groupBy(_._1).map { case (u, out) => u -> out.size.toLong }
  }

  /** The recursive CTE `b(id, dist)`: seeds `(u, 0)` for `u % 100 = 0`,
    * UNION `(e.u, b.dist + 1)` for `e.v = b.id` and `b.dist < 20`, each
    * step joining only the rows the previous step added; then the
    * minimum dist per id. */
  def bfs(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val e = edges(pairs)
    val into = e.groupBy(_._2)
    var b = e.map(_._1).filter(_ % 100 == 0).map(_ -> 0L).toSet
    var added = b
    while (added.nonEmpty) {
      val step = for ((id, d) <- added if d < 20; (u, _) <- into.getOrElse(id, Nil))
        yield (u, d + 1)
      added = step -- b
      b ++= added
    }
    b.groupBy(_._1).map { case (id, ds) => id -> ds.map(_._2).min }
  }

  /** `r0 = 1e6` per node of `deg`, then 5 times
    * `r(v) = 150000 + (850000 · Σ_{(u,v) ∈ e} r(u) div deg(u)) div 1e6`. */
  def pagerank(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val e = edges(pairs)
    val deg = e.groupBy(_._1).map { case (u, out) => u -> out.size.toLong }
    var r = deg.map { case (u, _) => u -> 1000000L }
    for (_ <- 1 to 5) {
      val prev = r
      r = e.groupBy(_._2).map { case (v, in) =>
        v -> (150000L + 850000L * in.flatMap { case (u, _) => prev.get(u).map(_ / deg(u)) }.sum / 1000000L)
      }
    }
    r
  }
}
