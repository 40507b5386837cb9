package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Wilson-sampled uniform-spanning-tree estimator of the Laplacian
  * pseudoinverse diagonal — the reference's OWN estimator family
  * (reference `centrality/ApproxElectricalCloseness.hpp:28`,
  * `ApproxElectricalCloseness.cpp:437`; Angriman et al., "Approximation
  * of the Diagonal of a Laplacian's Pseudoinverse for Complex Network
  * Analysis", ESA 2020).
  *
  * Estimator identity: fix a root r and any spanning tree B of the
  * graph (a BFS tree here, as in the reference). Injecting one unit of
  * current at u and extracting it at r, the voltage drop — and thus
  * R(u, r) — equals the sum over the B-path r⇝u of the current through
  * each path edge; by the transfer-current theorem that current is
  * E[±1 · (edge appears in a UST oriented with/against the path, with u
  * in the child subtree)]. Sampling N USTs with Wilson's loop-erased
  * random walks and averaging the signed counts gives R̂(u, r); the
  * diagonal follows from one Laplacian solve for the root's column:
  * L⁺_uu = R(u,r) − L⁺_rr + 2·L⁺_ur with L x = e_r − 1/n giving
  * x_u = L⁺_ur (CG on the centered rhs stays ⊥ 1).
  *
  * This is a SIZE-BOUNDED, driver-side oracle (requires n ≤ maxN): its
  * role is cross-checking the engine's distributed batched-CG diagonal
  * path against the reference's UST estimator on small fixtures, not
  * production scale — the scale path remains [[Electrical]].
  */
object UstDiagonal {

  private final case class Local(
      ids: Array[Long], idx: Map[Long, Int], adj: Array[Array[Int]])

  private def collectGraph(g: PropertyGraph, maxN: Int): Local = {
    val edges = PropertyGraph.canonicalizeUndirected(
        g.adjacency.filter(col("src") =!= col("dst")))
      .select("src", "dst").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = g.vertices.select("id").collect().map(_.getLong(0)).sorted
    require(ids.length <= maxN,
      s"UstDiagonal is a driver-bounded oracle (n=${ids.length} > maxN=$maxN)")
    val idx = ids.zipWithIndex.toMap
    val nbrs = Array.fill(ids.length)(List.empty[Int])
    edges.foreach { case (s, d) =>
      val (a, b) = (idx(s), idx(d))
      nbrs(a) ::= b; nbrs(b) ::= a
    }
    Local(ids, idx, nbrs.map(_.toArray.sorted))
  }

  /** Signed UST path-current aggregate per node, averaged over
    * `nSamples` Wilson-sampled USTs → R̂(u, root). Returns the dense
    * estimate array plus the chosen root index. */
  private def sampleResistance(l: Local, nSamples: Int, seed: Long): (Array[Double], Int) = {
    val n = l.ids.length
    // root: max-degree node (the reference hunts a low-eccentricity
    // root with BFS sweeps; any fixed root keeps the identity exact,
    // high degree just shortens Wilson's walks)
    val root = (0 until n).maxBy(i => (l.adj(i).length, -i))
    // BFS tree from root
    val bfsParent = Array.fill(n)(-1)
    val visited = Array.fill(n)(false)
    visited(root) = true
    var frontier = List(root)
    while (frontier.nonEmpty) {
      val next = scala.collection.mutable.ListBuffer.empty[Int]
      frontier.foreach { u =>
        l.adj(u).foreach { v =>
          if (!visited(v)) { visited(v) = true; bfsParent(v) = u; next += v }
        }
      }
      frontier = next.toList
    }
    require(visited.forall(identity), "UstDiagonal requires a connected graph")

    val rnd = new java.util.Random(seed)
    val acc = Array.fill(n)(0L)
    val parent = Array.fill(n)(-1)
    val inTree = Array.fill(n)(false)
    val nextHop = Array.fill(n)(-1)
    val tVisit = Array.fill(n)(0)
    val tFinish = Array.fill(n)(0)
    var s = 0
    while (s < nSamples) {
      // Wilson: loop-erased random walks onto the growing tree
      java.util.Arrays.fill(inTree, false)
      java.util.Arrays.fill(parent, -1)
      inTree(root) = true
      var i = 0
      while (i < n) {
        if (!inTree(i)) {
          var u = i
          while (!inTree(u)) {
            val nb = l.adj(u)
            val v = nb(rnd.nextInt(nb.length))
            nextHop(u) = v
            u = v
          }
          u = i
          while (!inTree(u)) {
            parent(u) = nextHop(u); inTree(u) = true; u = nextHop(u)
          }
        }
        i += 1
      }
      // iterative DFS over the UST for subtree timestamps
      val children = Array.fill(n)(List.empty[Int])
      var j = 0
      while (j < n) { if (parent(j) >= 0) children(parent(j)) ::= j; j += 1 }
      var t = 0
      val stack = scala.collection.mutable.Stack[(Int, Boolean)]((root, false))
      while (stack.nonEmpty) {
        val (u, post) = stack.pop()
        if (post) { tFinish(u) = t; t += 1 }
        else {
          tVisit(u) = t; t += 1
          stack.push((u, true))
          children(u).foreach(c => stack.push((c, false)))
        }
      }
      @inline def inSubtree(u: Int, v: Int): Boolean =
        tVisit(u) >= tVisit(v) && tFinish(u) <= tFinish(v)
      // walk each node's BFS path to the root, scoring UST path edges
      var u0 = 0
      while (u0 < n) {
        var c = u0
        var p = bfsParent(c)
        while (p >= 0) {
          // BFS edge p→c; contributes iff it is also a UST edge, sign
          // by orientation agreement, gated on u0 in the child subtree
          if (parent(c) == p) {
            if (inSubtree(u0, c)) acc(u0) += 1
          } else if (parent(p) == c) {
            if (inSubtree(u0, p)) acc(u0) -= 1
          }
          c = p
          p = bfsParent(p)
        }
        u0 += 1
      }
      s += 1
    }
    (acc.map(_.toDouble / nSamples), root)
  }

  /** `(id, diag)` — UST-estimated diagonal of L⁺. `nSamples` trades
    * accuracy for time exactly like the reference's ε/κ knobs. */
  def diagonal(g: PropertyGraph, nSamples: Int = 2000, seed: Long = 42,
      maxIter: Int = 60, maxN: Int = 4096): DataFrame = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    val l = collectGraph(g, maxN)
    val (rhat, root) = sampleResistance(l, nSamples, seed)
    val n = l.ids.length
    // one CG solve for the root's L⁺ column (centered rhs ⊥ 1)
    val rootId = l.ids(root)
    val sol = Fixpoint.scope { st =>
      val lap = st.cut(graft.algebra.Coo.laplacianMatrix(g))
      val b = st.cut(g.vertices.select(lit(0L).as("rhs"), col("id").as("i"),
        (when(col("id") === rootId, 1.0).otherwise(0.0) - lit(1.0 / n)).as("v")))
      graft.algebra.Coo.conjugateGradient(lap, b, maxIter)
        .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    }
    val solRoot = sol.getOrElse(rootId, 0.0)
    l.ids.zipWithIndex.map { case (id, i) =>
      val d =
        if (i == root) solRoot
        else rhat(i) - solRoot + 2.0 * sol.getOrElse(id, 0.0)
      (id, d)
    }.toSeq.toDF("id", "diag")
  }
}
