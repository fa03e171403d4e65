package perfbench

import scala.collection.mutable

/** Plain-Scala reference answers, computed on the driver from collected
  * edges and compared with the engine's outputs outside the timed region.
  * They share no code with the engine. */
object Reference {

  /** Undirected simple graph: vertex ids ascending, neighbour indices
    * ascending. Built from a symmetric (both directions) edge list. */
  final class Graph(val ids: Array[Long], val nbrs: Array[Array[Int]]) {
    def n: Int = ids.length
  }

  def graph(src: Array[Long], dst: Array[Long]): Graph = {
    val ids = (src ++ dst).distinct.sorted
    val index = mutable.HashMap.empty[Long, Int]
    ids.zipWithIndex.foreach { case (v, i) => index(v) = i }
    val lists = Array.fill(ids.length)(mutable.ArrayBuilder.make[Int])
    src.indices.foreach(k => lists(index(src(k))) += index(dst(k)))
    new Graph(ids, lists.map(b => b.result().distinct.sorted))
  }

  /** Synchronous power iteration with the engine's update rule on a
    * symmetric unweighted graph (no dangling vertices):
    * rank'(v) = teleport/n + damping * sum over neighbours u of
    * rank(u)/deg(u), from `init` (1/n where absent), until the largest
    * change is at most `tol`. */
  def pageRank(g: Graph, init: Map[Long, Double], tol: Double,
               maxIter: Int = 100, teleport: Double = 0.15,
               damping: Double = 0.85): Array[Double] = {
    val n = g.n
    var rank = g.ids.map(v => init.getOrElse(v, 1.0 / n))
    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIter && delta > tol) {
      val sum = new Array[Double](n)
      var u = 0
      while (u < n) {
        val share = rank(u) * (1.0 / g.nbrs(u).length)
        g.nbrs(u).foreach(v => sum(v) += share)
        u += 1
      }
      val next = sum.map(s => teleport / n + damping * s)
      delta = next.indices.map(i => math.abs(next(i) - rank(i))).max
      rank = next
      iter += 1
    }
    rank
  }

  /** Synchronous label propagation: each round every vertex takes the most
    * frequent label among its neighbours, ties to the smallest; stops after
    * `rounds` rounds or when nothing changes. */
  def labelPropagation(g: Graph, rounds: Int): Array[Long] = {
    var label = g.ids.clone()
    var r = 0
    var changed = true
    while (r < rounds && changed) {
      val next = Array.tabulate(g.n) { v =>
        val hist = mutable.HashMap.empty[Long, Int]
        g.nbrs(v).foreach(u => hist(label(u)) = hist.getOrElse(label(u), 0) + 1)
        hist.toSeq.maxBy { case (l, c) => (c, -l) }._1
      }
      changed = !next.sameElements(label)
      label = next
      r += 1
    }
    label
  }

  /** Triangles, each counted once at its least-id vertex by intersecting
    * the sorted higher-id neighbour lists of both ends of each edge. */
  def triangles(g: Graph): Long = {
    val higher = Array.tabulate(g.n)(u => g.nbrs(u).filter(_ > u))
    var total = 0L
    for (u <- 0 until g.n; v <- higher(u)) {
      val (a, b) = (higher(u), higher(v))
      var i = 0
      var j = 0
      while (i < a.length && j < b.length) {
        if (a(i) < b(j)) i += 1
        else if (a(i) > b(j)) j += 1
        else { total += 1; i += 1; j += 1 }
      }
    }
    total
  }
}
