package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edmonds-Karp max-flow (reference `flow/EdmondsKarp.hpp:23`).
  *
  * The algorithm is inherently sequential (BFS augmenting paths over a
  * mutable residual graph — the reference is single-threaded too), so
  * the adjacency is grouped to arrays distributedly and collected once
  * (driver bound O(n + m), same discipline as [[Betweenness]]); the
  * returned artifacts are DataFrames:
  *   - the max-flow value,
  *   - the min-cut source side (the optimality certificate: cut
  *     capacity == flow value, checkable distributedly).
  */
object MaxFlow {

  /** `(flow_value, cut : Set[Long])` for s→t on the weighted graph
    * (undirected edges become two directed arcs of equal capacity). */
  def edmondsKarp(g: PropertyGraph, s: Long, t: Long): (Double, Set[Long]) = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    val arcs = g.adjacency.select(col("src"), col("dst"), col("weight"))
      .groupBy("src", "dst").agg(sum("weight").as("cap"))
      .as[(Long, Long, Double)].collect()

    val cap = scala.collection.mutable.HashMap[(Long, Long), Double]()
    val adj = scala.collection.mutable.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
    def link(u: Long, v: Long): Unit =
      adj.getOrElseUpdate(u, scala.collection.mutable.ArrayBuffer()) += v
    arcs.foreach { case (u, v, c) =>
      if (u != v) {
        cap((u, v)) = cap.getOrElse((u, v), 0.0) + c
        if (!cap.contains((v, u))) { cap((v, u)) = 0.0; link(v, u) }
        link(u, v)
      }
    }
    adj.values.foreach(b => { val d = b.distinct.sorted; b.clear(); b ++= d })

    var flow = 0.0
    var augmenting = true
    while (augmenting) {
      // BFS for the shortest residual path
      val parent = scala.collection.mutable.HashMap[Long, Long]()
      val q = scala.collection.mutable.Queue[Long](s)
      parent(s) = s
      while (q.nonEmpty && !parent.contains(t)) {
        val u = q.dequeue()
        for (v <- adj.getOrElse(u, Nil) if !parent.contains(v) && cap((u, v)) > 1e-12) {
          parent(v) = u
          q.enqueue(v)
        }
      }
      if (!parent.contains(t)) augmenting = false
      else {
        var bottleneck = Double.MaxValue
        var v = t
        while (v != s) { val u = parent(v); bottleneck = math.min(bottleneck, cap((u, v))); v = u }
        v = t
        while (v != s) {
          val u = parent(v)
          cap((u, v)) -= bottleneck
          cap((v, u)) += bottleneck
          v = u
        }
        flow += bottleneck
      }
    }
    // min cut = residual-reachable set from s
    val cut = scala.collection.mutable.Set[Long](s)
    val q2 = scala.collection.mutable.Queue[Long](s)
    while (q2.nonEmpty) {
      val u = q2.dequeue()
      for (v <- adj.getOrElse(u, Nil) if !cut.contains(v) && cap((u, v)) > 1e-12) {
        cut += v; q2.enqueue(v)
      }
    }
    (flow, cut.toSet)
  }

  /** Distributed max-flow: synchronous parallel push–relabel
    * (Goldberg–Tarjan; the scale path the sequential reference
    * `flow/EdmondsKarp.hpp:23` cannot offer). Each round is pure
    * DataFrame work: (1) every ACTIVE node (positive excess, not s/t)
    * pushes along its admissible residual arcs — height(u) =
    * height(v) + 1 — in deterministic (v asc) order, amounts capped by
    * a per-node window cumsum so a node never pushes more than its
    * excess; (2) active nodes with NO admissible arc relabel to
    * 1 + min residual-neighbor height — the standard synchronous pulse,
    * which preserves the valid-height invariant. Heights are seeded by
    * the exact distance-to-t global relabel (one BFS over reversed
    * arcs), the classic convergence accelerator. Terminates when no
    * node is active; the min cut is the residual-reachable set from s
    * (computed by one more distributed BFS). Returns
    * `(flow_value, source-side ids)`.
    *
    * Cost shape: each pulse is ~4 checkpointed jobs over O(m) residual
    * rows, and the pulse count is the parallel push–relabel round
    * complexity — so on graphs that FIT the driver, [[edmondsKarp]] is
    * strictly faster (the same small-side dispatch as `Betweenness.run`);
    * this is the path for graphs beyond one machine's memory, where the
    * sequential residual walk stops being an option. */
  def pushRelabel(g: PropertyGraph, s: Long, t: Long,
      maxRounds: Int = 4000): (Double, DataFrame) = Fixpoint.scope { st =>
    import org.apache.spark.sql.expressions.Window
    val eps = 1e-12
    val n = g.vertices.count()
    val fwd = g.adjacency.filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(sum("weight").as("cap"))
    var res = st.cut(fwd
      .unionAll(fwd.select(col("dst").as("src"), col("src").as("dst"),
        lit(0.0).as("cap")))
      .groupBy("src", "dst").agg(sum("cap").as("cap")))
    // global relabel: h(u) = BFS distance to t over reversed residual
    // arcs (= forward arcs into u's side), unreachable → n; h(s) = n
    val toT = ShortestPaths.bfs(
      PropertyGraph(res.filter(col("cap") > eps)
        .select(col("dst").as("src"), col("src").as("dst"),
          lit(1.0).as("weight")), directed = true),
      ShortestPaths.sourcesOf(g, Seq(t)))
      .select(col("id"), col("dist").as("h"))
    var heights = st.cut(g.vertices.select("id")
      .join(toT, Seq("id"), "left")
      .select(col("id"),
        when(col("id") === s, lit(n))
          .otherwise(coalesce(col("h"), lit(n))).as("h")))
    // saturate s's out-arcs: cap(s,v) → 0, cap(v,s) += cap(s,v),
    // excess(v) = cap(s,v) — one delta union, same mechanism as pushes
    val sOut = st.cut(res.filter(col("src") === s && col("cap") > eps)
      .select(col("dst").as("v"), col("cap").as("pushed")))
    val initDeltas = sOut
      .select(lit(s).as("src"), col("v").as("dst"), (-col("pushed")).as("d"))
      .unionAll(sOut.select(col("v").as("src"), lit(s).as("dst"),
        col("pushed").as("d")))
    res = st.cut(res.join(initDeltas, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        (col("cap") + coalesce(col("d"), lit(0.0))).as("cap")))
    var excess = st.cut(sOut.select(col("v").as("id"), col("pushed").as("ex")))

    var round = 0
    var nActive = 1L
    while (nActive > 0 && round < maxRounds) {
      val active = excess.filter(col("ex") > eps &&
        col("id") =!= s && col("id") =!= t)
      nActive = active.count()
      if (nActive > 0) {
        val adm = st.cut(res.filter(col("cap") > eps)
          .join(active.select(col("id").as("src"), col("ex")), "src")
          .join(heights.select(col("id").as("src"), col("h").as("hu")), "src")
          .join(heights.select(col("id").as("dst"), col("h").as("hv")), "dst")
          .filter(col("hu") === col("hv") + 1))
        val w = Window.partitionBy("src").orderBy("dst")
          .rowsBetween(Window.unboundedPreceding, -1)
        val pushes = st.cut(adm
          .withColumn("cum", coalesce(sum("cap").over(w), lit(0.0)))
          .withColumn("amt", greatest(lit(0.0),
            least(col("cap"), col("ex") - col("cum"))))
          .filter(col("amt") > eps)
          .select(col("src"), col("dst"), col("amt")))
        // relabel actives with no admissible arc at all
        val relabels = st.cut(active
          .join(adm.select(col("src").as("id")).distinct(),
            Seq("id"), "left_anti")
          .join(res.filter(col("cap") > eps).select(col("src").as("id"),
            col("dst").as("nbr")), "id")
          .join(heights.select(col("id").as("nbr"), col("h").as("hn")), "nbr")
          .groupBy("id").agg((min("hn") + 1).as("newH")))
        // apply pushes to the residual graph (both directions)
        val deltas = pushes.select(col("src"), col("dst"), (-col("amt")).as("d"))
          .unionAll(pushes.select(col("dst").as("src"), col("src").as("dst"),
            col("amt").as("d")))
          .groupBy("src", "dst").agg(sum("d").as("d"))
        val res2 = st.cut(res.join(deltas, Seq("src", "dst"), "left")
          .select(col("src"), col("dst"),
            (col("cap") + coalesce(col("d"), lit(0.0))).as("cap")))
        st.retire(res)
        res = res2
        val exDelta = pushes.select(col("src").as("id"), (-col("amt")).as("d"))
          .unionAll(pushes.select(col("dst").as("id"), col("amt").as("d")))
          .groupBy("id").agg(sum("d").as("d"))
        val excess2 = st.cut(excess.join(exDelta, Seq("id"), "full")
          .select(col("id"),
            (coalesce(col("ex"), lit(0.0)) + coalesce(col("d"), lit(0.0))).as("ex")))
        st.retire(excess)
        excess = excess2
        val heights2 = st.cut(heights.join(relabels, Seq("id"), "left")
          .select(col("id"), coalesce(col("newH"), col("h")).as("h")))
        st.retire(heights, adm, pushes, relabels)
        heights = heights2
      }
      round += 1
    }
    require(nActive == 0, s"push-relabel did not converge in $maxRounds rounds")
    val flow = excess.filter(col("id") === t)
      .agg(coalesce(sum("ex"), lit(0.0))).head.getDouble(0)
    // min cut: residual-reachable set from s
    val cut = ShortestPaths.bfs(
      PropertyGraph(res.filter(col("cap") > eps)
        .select("src", "dst").withColumn("weight", lit(1.0)), directed = true),
      ShortestPaths.sourcesOf(g, Seq(s)))
      .select(col("id"))
    (flow, cut)
  }

  /** Cut clustering (reference `community/CutClustering.hpp:13`, Flake
    * et al.): augment the graph with an artificial sink t connected to
    * every node with weight α, then each unassigned node's community is
    * the source side of its min v-t cut. α = 0 → one cluster;
    * α ≥ max edge weight → singletons. One max-flow per DISCOVERED
    * community, not per node. Returns `(id, community)`.
    *
    * Size dispatch like `Betweenness.run`: graphs whose residual
    * representation fits the driver run the sequential Edmonds–Karp
    * inner loop (the reference is sequential EK too, and EK is strictly
    * faster at that size); beyond `driverMaxElements` (n + 2m) each
    * community's flow runs on the distributed [[pushRelabel]]. Both
    * paths return the identical partition: the community is the
    * residual-reachable source side, which is the unique MINIMAL min
    * cut for any maximum flow. */
  def cutClustering(g: PropertyGraph, alpha: Double,
      driverMaxElements: Long = 4000000L): DataFrame = {
    val size = g.vertices.count() + 2L * g.edges.count()
    if (size <= driverMaxElements) cutClusteringLocal(g, alpha)
    else cutClusteringDistributed(g, alpha)
  }

  /** Distributed Flake cuts: one [[pushRelabel]] per discovered
    * community on the α-augmented graph; between flows only the
    * unassigned frontier (one id column) is state. */
  private def cutClusteringDistributed(g: PropertyGraph, alpha: Double): DataFrame = Fixpoint.scope { st =>
    val spark = g.edges.sparkSession
    import spark.implicits._
    val sink = g.vertices.agg(max(col("id"))).head.getLong(0) + 1
    val augEdges = st.persist(g.edges.select(col("src"), col("dst"), col("weight"))
      .unionAll(g.vertices.select(col("id").as("src"),
        lit(sink).as("dst"), lit(alpha).as("weight"))))
    val aug = PropertyGraph(augEdges, g.directed,
      Some(g.vertices.select(col("id")).unionAll(Seq(sink).toDF("id"))))
    var unassigned = st.cut(g.vertices.select(col("id")))
    var acc = st.cut(Seq.empty[(Long, Long)].toDF("id", "community"))
    var nLeft = unassigned.count()
    while (nLeft > 0) {
      val s = unassigned.agg(min(col("id"))).head.getLong(0)
      val (_, cutDf) = pushRelabel(aug, s, sink)
      // the cut side claims its still-unassigned members (the reference
      // never reassigns nodes an earlier community already took)
      val newAssign = cutDf.filter(col("id") =!= sink)
        .join(unassigned, Seq("id"), "left_semi")
        .select(col("id"), lit(s).as("community"))
      val acc2 = st.cut(acc.unionAll(newAssign))
      val un2 = st.cut(unassigned.join(newAssign.select("id"), Seq("id"), "left_anti"))
      st.retire(acc, unassigned)
      acc = acc2; unassigned = un2
      nLeft = unassigned.count()
    }
    acc
  }

  /** Driver-bounded Flake cuts (sequential EK inner loop, like the
    * reference implementation). */
  private def cutClusteringLocal(g: PropertyGraph, alpha: Double): DataFrame = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    val arcs = g.adjacency.select(col("src"), col("dst"), col("weight"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(sum("weight").as("cap"))
      .as[(Long, Long, Double)].collect()
    val nodes = g.vertices.select("id").as[Long].collect().sorted
    val sink = nodes.max + 1

    // local EK on the augmented adjacency
    val cap = scala.collection.mutable.HashMap[(Long, Long), Double]()
    val adj = scala.collection.mutable.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
    def link(u: Long, v: Long): Unit =
      adj.getOrElseUpdate(u, scala.collection.mutable.ArrayBuffer()) += v
    def addArc(u: Long, v: Long, c: Double): Unit = {
      if (!cap.contains((u, v))) { cap((u, v)) = 0.0; link(u, v) }
      if (!cap.contains((v, u))) { cap((v, u)) = 0.0; link(v, u) }
      cap((u, v)) += c
    }
    arcs.foreach { case (u, v, c) => addArc(u, v, c) }
    nodes.foreach { v => addArc(v, sink, alpha); addArc(sink, v, alpha) }
    adj.values.foreach(b => { val d = b.distinct.sorted; b.clear(); b ++= d })
    val baseCap = cap.toMap // pristine capacities per community run

    val community = scala.collection.mutable.HashMap[Long, Long]()
    for (s <- nodes if !community.contains(s)) {
      // fresh residual capacities
      cap.clear(); baseCap.foreach { case (k, c) => cap(k) = c }
      var augmenting = true
      while (augmenting) {
        val parent = scala.collection.mutable.HashMap[Long, Long](s -> s)
        val q = scala.collection.mutable.Queue[Long](s)
        while (q.nonEmpty && !parent.contains(sink)) {
          val u = q.dequeue()
          for (v <- adj.getOrElse(u, Nil) if !parent.contains(v) && cap((u, v)) > 1e-12) {
            parent(v) = u; q.enqueue(v)
          }
        }
        if (!parent.contains(sink)) augmenting = false
        else {
          var bottleneck = Double.MaxValue
          var v = sink
          while (v != s) { val u = parent(v); bottleneck = math.min(bottleneck, cap((u, v))); v = u }
          v = sink
          while (v != s) {
            val u = parent(v); cap((u, v)) -= bottleneck; cap((v, u)) += bottleneck; v = u
          }
        }
      }
      // source side of the min cut = s's community
      val side = scala.collection.mutable.Set[Long](s)
      val q2 = scala.collection.mutable.Queue[Long](s)
      while (q2.nonEmpty) {
        val u = q2.dequeue()
        for (v <- adj.getOrElse(u, Nil)
             if v != sink && !side.contains(v) && cap((u, v)) > 1e-12) {
          side += v; q2.enqueue(v)
        }
      }
      side.foreach(v => if (!community.contains(v)) community(v) = s)
    }
    community.toSeq.toDF("id", "community")
  }

  /** Max-flow with its optimality certificate verified distributedly:
    * `(s, t, flow_value, cut_size, certificate_ok)` where
    * certificate_ok = 1 iff the capacity of the returned cut equals the
    * flow value (weak duality makes this a proof of optimality). */
  def maxFlowCertified(g: PropertyGraph, s: Long, t: Long): DataFrame = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    val (flow, cut) = edmondsKarp(g, s, t)
    val cutDf = cut.toSeq.toDF("id")
    val cutCap = g.adjacency.select(col("src"), col("dst"), col("weight"))
      .join(cutDf.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(cutDf.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
      .agg(coalesce(sum("weight"), lit(0.0))).head.getDouble(0)
    val ok = if (math.abs(cutCap - flow) < 1e-6) 1L else 0L
    Seq((s, t, math.rint(flow * 100) / 100, cut.size.toLong, ok))
      .toDF("s", "t", "flow_value", "cut_size", "certificate_ok")
  }
}
