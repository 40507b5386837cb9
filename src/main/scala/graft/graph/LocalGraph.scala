package graft.graph

/** A read-only CSR on the driver (reference `GraphR.hpp:25`), the one
  * structure the driver finishes of [[Fixpoint]]'s size switch run over.
  * Node ids are sorted ascending and indexed densely, so index order is
  * id order; the rows out of node `i` sit at `offsets(i) until
  * offsets(i + 1)` in `targets` (node indexes) and `weights`. */
final class LocalGraph private (val ids: Array[Long], val offsets: Array[Int],
    val targets: Array[Int], val weights: Array[Double]) {
  def n: Int = ids.length
  def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
  def rows(i: Int): Range = offsets(i) until offsets(i + 1)
}

object LocalGraph {
  /** Rows `src(k) → dst(k)` weighing `weight(k)` (no weights when
    * `weight` is empty), over their endpoints and `nodes`. */
  def apply(src: Array[Long], dst: Array[Long],
      weight: Array[Double] = Array.emptyDoubleArray,
      nodes: Array[Long] = Array.emptyLongArray): LocalGraph = {
    val ids = (src ++ dst ++ nodes).distinct.sorted
    val g = new LocalGraph(ids, new Array[Int](ids.length + 1),
      new Array[Int](src.length), new Array[Double](weight.length))
    val from = src.map(g.index)
    from.foreach(i => g.offsets(i + 1) += 1)
    for (i <- ids.indices) g.offsets(i + 1) += g.offsets(i)
    val next = g.offsets.clone()
    for (k <- src.indices) {
      val slot = next(from(k))
      next(from(k)) += 1
      g.targets(slot) = g.index(dst(k))
      if (weight.nonEmpty) g.weights(slot) = weight(k)
    }
    g
  }
}
