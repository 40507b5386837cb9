package perfbench

import scala.collection.mutable

/** Small sequential references for the RMAT kernels, on an undirected
  * simple graph given as canonical edges (src < dst). Vertices are the
  * edge endpoints; every reference is keyed by vertex id. */
final class Reference(edges: Array[(Long, Long)]) {
  val ids: Array[Long] = edges.flatMap { case (a, b) => Array(a, b) }.distinct.sorted
  private val index: Map[Long, Int] = ids.zipWithIndex.toMap
  val n: Int = ids.length
  val adj: Array[Array[Int]] = {
    val b = Array.fill(n)(mutable.ArrayBuilder.make[Int])
    edges.foreach { case (s, d) =>
      val (i, j) = (index(s), index(d))
      b(i) += j; b(j) += i
    }
    b.map(_.result().sorted)
  }

  /** `iters` steps of power iteration with uniform teleport; the graph
    * has no sinks because every vertex is an edge endpoint. */
  def pagerank(iters: Int, damping: Double = 0.85): Map[Long, Double] = {
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 0 until iters) {
      val next = Array.fill(n)((1.0 - damping) / n)
      for (u <- 0 until n; share = damping * r(u) / adj(u).length; v <- adj(u))
        next(v) += share
      r = next
    }
    ids.indices.map(i => ids(i) -> r(i)).toMap
  }

  /** Triangles by intersecting the higher-index neighbour lists of both
    * ends of every edge. */
  def triangles: Long = {
    val up = adj.zipWithIndex.map { case (ns, i) => ns.filter(_ > i) }
    var t = 0L
    for (u <- 0 until n; v <- up(u)) {
      val (a, b) = (up(u), up(v))
      var (i, j) = (0, 0)
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { t += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1 else j += 1
      }
    }
    t
  }
}
