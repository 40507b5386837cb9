package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PageRank by power iteration (reference:
  * `include/networkit/centrality/PageRank.hpp:38-90`,
  * `networkit/cpp/centrality/PageRank.cpp:21-120`): damping factor,
  * L1-norm convergence, dangling-node (sink) mass redistribution.
  *
  * Each iteration = one shuffle (join ranks→adjacency on src, groupBy
  * dst) plus two scalar aggregations (sink mass, L1 diff). The adjacency
  * with out-degree attached is computed once, repartitioned by `src` and
  * checkpointed, so every iteration's join reuses the same partitioning —
  * at cluster scale this is the difference between one and two shuffles
  * per round.
  */
object PageRank {

  /** @param damping   reference `damp` (default 0.85)
    * @param tol       L1 convergence tolerance; `tol <= 0` runs exactly
    *                  `maxIter` iterations (deterministic, oracle-friendly)
    * @param weighted  distribute rank proportional to edge weight
    * @return `(id, rank)`, ranks summing to 1
    */
  def run(g: PropertyGraph, damping: Double = 0.85, tol: Double = 1e-8,
      maxIter: Int = 100, weighted: Boolean = false): DataFrame = {
    val spark = g.edges.sparkSession
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val debugT0 = System.nanoTime()
    def dbg(what: String): Unit = if (sys.env.contains("GRAFT_FIXPOINT_DEBUG"))
      System.err.println(f"[pagerank] $what ${(System.nanoTime() - debugT0) / 1e9}%.2fs")

    // an undirected graph whose vertex set is derived from its endpoints
    // has, structurally, no sinks and no in-uncovered nodes — skip the
    // probe jobs (a distinct over the full edge table each) entirely
    val structurallyCovered = !g.directed && g.verticesOpt.isEmpty

    // ONE exchange of the edge table: the out-degree is a window over
    // src on that same repartition (a groupBy(src) joined back has its
    // input pruned to `src` alone and plans a second exchange). The loop
    // invariants (adj, nodes, sinks) are eager localCheckpoints, not
    // persists: AQE does not reuse a broadcast across separate
    // TableCacheQueryStages, so a persisted adj is re-broadcast at every
    // step of a span, while the broadcasts of one checkpointed RDD in a
    // span are one exchange plus ReusedExchanges. An edge with a null
    // endpoint joins nothing; dropping it up front keeps each step from
    // inferring its own `isnotnull` filter over adj (the last step of a
    // span infers a different one and would broadcast adj again).
    val bySrc = Window.partitionBy("src")
    val adj = g.adjacency.filter(col("src").isNotNull && col("dst").isNotNull)
      .repartition(shufflePartitions, col("src"))
      .select(col("src"), col("dst"),
        (if (weighted) col("weight") / sum("weight").over(bySrc)
         else lit(1.0) / count(lit(1)).over(bySrc)).as("share"))
      .localCheckpoint(true)

    val nodes = (
      if (structurallyCovered) adj.select(col("src").as("id")).distinct()
      else g.vertices.select("id")
    ).localCheckpoint(true)
    val n = Fixpoint.materialize(nodes).toDouble
    dbg("adj+nodes materialized")
    val init = nodes.select(col("id"), lit(1.0 / n).as("rank"))

    // nodes with no out-edges: their rank is redistributed uniformly
    val sinks =
      if (structurallyCovered) null
      else nodes.join(adj.select(col("src").as("id")), Seq("id"), "left_anti")
        .localCheckpoint(true)
    val nSinks = if (structurallyCovered) 0L else Fixpoint.materialize(sinks)
    val hasSinks = nSinks > 0
    // a sink with no in-edges (every sink of an undirected graph is an
    // isolated vertex) receives only teleport + sink share, so the total
    // sink mass follows a closed-form scalar recurrence on the driver —
    // no per-iteration aggregate, which keeps iterations fusable
    val sinksIsolated = !hasSinks || sinks.join(
      g.adjacency.select(col("dst").as("id")).distinct(), Seq("id"), "left_semi").isEmpty
    // nodes with no in-edges keep only the teleport term; when every
    // node has an in-edge (any undirected graph) the per-iteration
    // "nodes LEFT JOIN contrib" completion is pure overhead — skip it
    val inCovered = structurallyCovered || nodes.join(
      g.adjacency.select(col("dst").as("id")).distinct(),
      Seq("id"), "left_anti").isEmpty

    // Iterations are fused into spans: on a sink-free graph (any
    // undirected graph) no per-iteration scalar is needed, so `span`
    // lazy steps chain into ONE job — one action per span instead of
    // per iteration, cutting job-scheduling overhead ~span×. Sinked
    // graphs need the sink-mass aggregate each round → span 1. The
    // L1-convergence check (tol > 0) then compares across the span,
    // which is a STRICTER stop than per-iteration (the span diff upper-
    // bounds each step's diff), so results are equal-or-more converged.
    def step(r: DataFrame, sinkMass: Double): DataFrame = {
      val contrib = r.join(adj, r("id") === adj("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") * col("share")).as("contrib"))
      val completed =
        if (inCovered) contrib
        else nodes.join(contrib, Seq("id"), "left")
      completed.select(col("id"),
        (lit((1.0 - damping) / n) + lit(damping) *
          (coalesce(col("contrib"), lit(0.0)) + lit(sinkMass / n))).as("rank"))
    }
    val debug = sys.env.contains("GRAFT_FIXPOINT_DEBUG")
    // 4-step spans measured faster than wider ones: a 10-deep chained
    // plan pays more in planning/AQE than it saves in job scheduling
    val checkEvery = if (sinksIsolated) 4 else 1
    // with tol<=0 there is no diff join, so `cur` is read exactly once
    // per span — materializing init separately would be pure overhead
    var cur =
      if (tol > 0) {
        val c = init.localCheckpoint(true); dbg("init materialized"); c
      } else init
    // isolated-sink mass recurrence: s₀ = nSinks/n (initial uniform rank),
    // s_{k+1} = nSinks·((1−d)/n + d·s_k/n)
    var isoMass = nSinks / n
    var i = 0
    var done = false
    while (i < maxIter && !done) {
      val t0 = System.nanoTime()
      val span = math.min(checkEvery, maxIter - i)
      var stepped = cur
      for (_ <- 0 until span) {
        val sinkMass =
          if (!hasSinks) 0.0
          else if (sinksIsolated) isoMass
          else cur.join(sinks, Seq("id"), "left_semi")
            .agg(coalesce(sum("rank"), lit(0.0))).head.getDouble(0)
        stepped = step(stepped, sinkMass)
        isoMass = nSinks * ((1.0 - damping) / n + damping * isoMass / n)
      }
      // localCheckpoint truncates the span's chained lineage each round
      if (i > 0) Fixpoint.dumpLoopPlan("pagerank_span", stepped)
      val next = stepped.localCheckpoint(false)
      if (tol > 0) {
        val diff = next.select(col("id"), col("rank"))
          .join(cur.select(col("id"), col("rank").as("prev")), "id")
          .agg(sum(abs(col("rank") - col("prev")))).head.getDouble(0)
        done = diff < tol
      } else Fixpoint.materialize(next)
      if (debug) System.err.println(
        f"[pagerank] iters $i..${i + span} ${(System.nanoTime() - t0) / 1e9}%.2fs")
      Fixpoint.free(cur) // checkpoint blocks — Dataset.unpersist misses them
      cur = next
      i += span
    }
    dbg("loop done")
    // after a step, cur is a materialized checkpoint that reads none of
    // these; with maxIter = 0 it is still init, a projection of nodes
    val result = cur.select("id", "rank")
    Fixpoint.free(adj)
    if (i > 0) Fixpoint.free(nodes)
    if (sinks != null) Fixpoint.free(sinks)
    result
  }

  /** Laplacian centrality (reference `centrality/LaplacianCentrality.hpp:24`,
    * Qi et al.): the drop in Laplacian energy when v is removed — for
    * unweighted graphs the closed form ΔE(v) = d(v)² + d(v) +
    * 2·Σ_{u∈N(v)} d(u). One degree aggregate + one neighbor join. */
  def laplacianCentrality(g: PropertyGraph): DataFrame = {
    val adj = g.adjacency.select("src", "dst").filter(col("src") =!= col("dst"))
    val deg = adj.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val nbrDegSum = adj
      .join(deg.select(col("id").as("dst"), col("d").as("dNbr")), "dst")
      .groupBy(col("src").as("id")).agg(sum("dNbr").as("s"))
    g.vertices.select("id")
      .join(deg, Seq("id"), "left")
      .join(nbrDegSum, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("d"), lit(0L)) * coalesce(col("d"), lit(0L)) +
          coalesce(col("d"), lit(0L)) +
          lit(2L) * coalesce(col("s"), lit(0L))).as("lap_centrality"))
  }

  /** Eigenvector centrality: power iteration on the (weighted) adjacency
    * matrix with L2 normalization each round (reference
    * `centrality/EigenvectorCentrality.hpp:20`). */
  def eigenvector(g: PropertyGraph, tol: Double = 1e-9, maxIter: Int = 100): DataFrame = {
    val adj = g.inAdjacency.persist()
    val nodes = g.vertices.select("id")
    val init = nodes.select(col("id"), lit(1.0).as("score"))
    val result = Fixpoint.loop(init, maxIter) { (x, _) =>
      val nxt = x.join(adj, x("id") === adj("dst"))
        .groupBy(col("src").as("id"))
        .agg(sum(col("score") * col("weight")).as("raw"))
      val full = nodes.join(nxt, Seq("id"), "left")
        .select(col("id"), coalesce(col("raw"), lit(0.0)).as("raw"))
      val norm = math.sqrt(full.agg(sum(col("raw") * col("raw"))).head.getDouble(0))
      full.select(col("id"), (col("raw") / lit(if (norm == 0.0) 1.0 else norm)).as("score"))
    } { (prev, next, _) => tol > 0 && l1Diff(prev, next) < tol }
    adj.unpersist(false)
    result
  }

  // L1 distance between two `(id, score)` states. A diff is never
  // negative, so with `tol <= 0` the callers skip it and run `maxIter`
  // rounds without the per-round join + aggregate.
  private def l1Diff(prev: DataFrame, next: DataFrame): Double =
    prev.select(col("id"), col("score").as("s0"))
      .join(next.select(col("id"), col("score").as("s1")), "id")
      .agg(sum(abs(col("s1") - col("s0")))).head.getDouble(0)

  /** Katz centrality: x ← α·Aᵀx + β iterated (reference
    * `centrality/KatzCentrality.hpp:29`). */
  def katz(g: PropertyGraph, alpha: Double = 0.1, beta: Double = 1.0,
      tol: Double = 1e-9, maxIter: Int = 100): DataFrame =
    katzFrom(g, None, alpha, beta, tol, maxIter)

  /** Katz iteration with a warm start — the DynKatzCentrality pattern
    * (reference `centrality/DynKatzCentrality.hpp:23`,
    * `base/DynAlgorithm.hpp:10`): after an edge batch is inserted, the
    * fixpoint x = αAx + β barely moves, so re-running the iteration
    * seeded with the PREVIOUS scores converges in a handful of rounds
    * instead of from scratch — same fixpoint (the map is a contraction
    * for α·λmax < 1), so correctness is recompute-equivalent. */
  def katzFrom(g: PropertyGraph, warmStart: Option[DataFrame],
      alpha: Double = 0.1, beta: Double = 1.0,
      tol: Double = 1e-9, maxIter: Int = 100): DataFrame = {
    val adj = g.inAdjacency.persist()
    val nodes = g.vertices.select("id")
    val init = warmStart match {
      case Some(w) => nodes.join(w.select(col("id"), col("score")), Seq("id"), "left")
        .select(col("id"), coalesce(col("score"), lit(0.0)).as("score"))
      case None => nodes.select(col("id"), lit(0.0).as("score"))
    }
    val result = Fixpoint.loop(init, maxIter) { (x, _) =>
      val nxt = x.join(adj, x("id") === adj("dst"))
        .groupBy(col("src").as("id"))
        .agg(sum(col("score") * col("weight")).as("raw"))
      nodes.join(nxt, Seq("id"), "left")
        .select(col("id"),
          (lit(alpha) * coalesce(col("raw"), lit(0.0)) + lit(beta)).as("score"))
    } { (prev, next, _) => tol > 0 && l1Diff(prev, next) < tol }
    adj.unpersist(false)
    result
  }
}
