package perfbench

import scala.collection.mutable

/** Plain-Scala renderings of the graph operators' documented update
  * rules, computed apart from Spark, that the graph workload checks
  * each operator's output against.
  */
object Reference {

  type Edges = Seq[(Long, Long)]

  private def canonical(edges: Edges): Seq[(Long, Long)] =
    edges.collect { case (a, b) if a != b => (a min b, a max b) }.distinct

  /** Union-find: node -> minimum id of its component, over the
    * endpoints of the non-self-loop edges (ConnectedComponents.run). */
  def components(edges: Edges): Map[Long, Long] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    for ((a, b) <- canonical(edges)) {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  private def degrees(e: Iterable[(Long, Long)]): Map[Long, Long] =
    e.toSeq.flatMap { case (u, v) => Seq(u, v) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  /** Synchronous k-core peel to its fixpoint (KCore.peel): every round
    * drops all nodes of degree < k at once. Returns (node -> core
    * degree, rounds that removed something). */
  def kcore(edges: Edges, k: Int): (Map[Long, Long], Int) = {
    var e = canonical(edges).toSet
    var rounds = 0
    var done = false
    while (!done) {
      val alive = degrees(e).filter(_._2 >= k).keySet
      val next = e.filter { case (u, v) => alive(u) && alive(v) }
      if (next.size == e.size) done = true else { rounds += 1; e = next }
    }
    (degrees(e).filter(_._2 >= k), rounds)
  }

  /** Integer PageRank (PageRank.ranks): ranks in micros, start 10^6,
    * each round moves rank*85 div (100*outdeg) along every distinct
    * edge and re-seeds 150 000 micros of teleport mass. */
  def pagerank(edges: Edges, iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = e.flatMap { case (a, b) => Seq(a, b) }.distinct
    val outdeg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val inflow = mutable.HashMap[Long, Long]().withDefaultValue(0L)
      for ((s, d) <- e) inflow(d) += r(s) * 85 / (100 * outdeg(s))
      r = nodes.map(n => n -> (150000L + inflow(n))).toMap
    }
    r
  }

  /** Synchronous label propagation (LabelPropagation.communities):
    * each round a node takes the most frequent label among its
    * neighbours plus one vote for its own, ties to the smallest. */
  def labelprop(edges: Edges, iters: Int): Map[Long, Long] = {
    val e0 = edges.filter { case (a, b) => a != b }.distinct
    val und = (e0 ++ e0.map(_.swap)).distinct
    val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lab = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      lab = nbrs.map { case (n, ns) =>
        val votes = (ns.map(lab) :+ lab(n)).groupBy(identity)
          .view.mapValues(_.size).toSeq
        n -> votes.maxBy { case (l, c) => (c, -l) }._1
      }
    }
    lab
  }
}
