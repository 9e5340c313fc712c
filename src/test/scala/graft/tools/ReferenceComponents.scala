package graft.tools

/** Driver-side union-find over an undirected pair list: id → component
  * min for every id in it. The reference that `Util.componentLabels`
  * (PropertySpec) and `q_dedup_cluster` (CrossCheck) are checked
  * against. */
object ReferenceComponents {
  def referenceLabels(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = parent.getOrElseUpdate(x0, x0)
      while (parent(x) != x) x = parent(x)
      x
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(k => k -> find(k)).toMap
  }
}
