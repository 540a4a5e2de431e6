package graft.operators

/** Plain-Scala connected components: the independent reference every
  * route of [[Dedup.clusterPairs]] is checked against.
  */
object UnionFindReference {

  /** The rows `clusterPairs` must return for `edges`:
    * (doc_id, cluster_id, cluster_size, is_keeper), where cluster_id is
    * the component's minimum id — the root under union-by-min.
    */
  def clusterRows(edges: Seq[(Long, Long)]): Set[(Long, Long, Long, Boolean)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comp = edges.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> find(v))
    val sizes = comp.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    comp.map { case (id, c) => (id, c, sizes(c), id == c) }.toSet
  }
}
