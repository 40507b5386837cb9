package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** GraphTools analogs: projections, coercions, stats, sampling
  * (reference: `include/networkit/graph/GraphTools.hpp`,
  * `networkit/graphtools.pyx`). All pure `DataFrame => DataFrame`
  * transforms — Catalyst sees through them for pushdown/pruning.
  */
object GraphOps {

  /** Induced subgraph on a node set (reference `GraphTools.hpp:208`):
    * two semi-joins, broadcast when the node set is small. */
  def subgraphFromNodes(g: PropertyGraph, nodes: DataFrame): PropertyGraph = {
    val ids = nodes.select(col("id"))
    val e = g.edges
      .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      .select("src", "dst", "weight")
    PropertyGraph(e, g.directed, Some(ids))
  }

  /** Reverse all directed edges (reference `GraphTools.hpp:330`). */
  def transpose(g: PropertyGraph): PropertyGraph =
    g.copy(edges = g.edges.select(
      col("dst").as("src"), col("src").as("dst"), col("weight")))

  /** Direction coercion (reference `GraphTools.hpp:303`): canonical
    * undirected edge set, parallel edges collapsed. */
  def toUndirected(g: PropertyGraph): PropertyGraph =
    PropertyGraph(PropertyGraph.canonicalizeUndirected(g.edges), directed = false,
      g.verticesOpt)

  def toUnweighted(g: PropertyGraph): PropertyGraph =
    g.copy(edges = g.edges.select(col("src"), col("dst"), lit(1.0).as("weight")))

  /** Weighted coercion (reference `GraphTools.hpp:321`): every edge gets
    * an explicit weight, missing/null weights replaced by
    * `defaultWeight` (the reference initializes new weights to 1). */
  def toWeighted(g: PropertyGraph, defaultWeight: Double = 1.0): PropertyGraph =
    g.copy(edges = g.edges.select(col("src"), col("dst"),
      coalesce(col("weight"), lit(defaultWeight)).as("weight")))

  /** Isolate a node set (reference `GraphTools.hpp:111`
    * `removeEdgesFromIsolatedSet`): drop every edge incident to the
    * set, leaving its nodes present but isolated. Two anti-joins. */
  def removeEdgesFromIsolatedSet(g: PropertyGraph, nodes: DataFrame): PropertyGraph = {
    val ids = nodes.select(col("id"))
    g.copy(edges = g.edges
      .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
      .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti"))
  }

  /** Subgraph of a core set plus its neighbors (reference
    * `GraphTools.cpp:265` `subgraphAndNeighborsFromNodes`): nodes =
    * core ∪ selected neighbors; an edge survives iff one endpoint is
    * core and the other is core-or-neighbor (relevance sum > 2 in the
    * reference's scoring — neighbor-neighbor edges are dropped). For
    * undirected graphs all neighbors are "out". */
  def subgraphAndNeighbors(g: PropertyGraph, nodes: DataFrame,
      includeOutNeighbors: Boolean = true,
      includeInNeighbors: Boolean = false): PropertyGraph = {
    val spark = g.edges.sparkSession
    val core = nodes.select(col("id")).distinct()
    val empty = spark.range(0).select(col("id"))
    val outN =
      if (includeOutNeighbors || !g.directed)
        g.edges.join(core.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
          .select(col("dst").as("id"))
      else empty
    val inN =
      if (includeInNeighbors || !g.directed)
        g.edges.join(core.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
          .select(col("src").as("id"))
      else empty
    val nbrOnly = outN.unionAll(inN).distinct()
      .join(core, Seq("id"), "left_anti")
    val rel = core.withColumn("rel", lit(2))
      .unionAll(nbrOnly.withColumn("rel", lit(1)))
    val e = g.edges
      .join(rel.select(col("id").as("src"), col("rel").as("relSrc")), Seq("src"), "left")
      .join(rel.select(col("id").as("dst"), col("rel").as("relDst")), Seq("dst"), "left")
      .filter(coalesce(col("relSrc"), lit(0)) + coalesce(col("relDst"), lit(0)) > 2)
      .select("src", "dst", "weight")
    PropertyGraph(e, g.directed, Some(rel.select("id")))
  }

  /** Dense re-id 0..n-1 (reference `getContinuousNodeIds`,
    * `graphtools.pyx:578`): distributed range-partitioned sort +
    * `zipWithIndex` rank (no single-partition window stage),
    * join-remapped onto both endpoints. */
  def compactIds(g: PropertyGraph): (PropertyGraph, DataFrame) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    val spark = g.edges.sparkSession
    val mapSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("newId", LongType, nullable = false)))
    val mapping = spark.createDataFrame(
      g.vertices.select("id").sort("id").rdd.zipWithIndex
        .map { case (r, i) => Row(r.getLong(0), i) },
      mapSchema).localCheckpoint()
    val e = g.edges
      .join(mapping.withColumnRenamed("id", "src"), "src")
      .withColumnRenamed("newId", "newSrc")
      .join(mapping.withColumnRenamed("id", "dst"), "dst")
      .withColumnRenamed("newId", "newDst")
      .select(col("newSrc").as("src"), col("newDst").as("dst"), col("weight"))
    (PropertyGraph(e, g.directed, Some(mapping.select(col("newId").as("id")))), mapping)
  }

  /** Disjoint union with id shift (reference `append`,
    * `graphtools.pyx:237`: every G2 node is added shifted, including
    * isolated ones). Unions by NAME — a USING join upstream can
    * reorder edge columns. */
  def append(g1: PropertyGraph, g2: PropertyGraph, offset: Long): PropertyGraph =
    g1.copy(
      edges = g1.edges.select(col("src"), col("dst"), col("weight"))
        .unionAll(g2.edges.select(
          (col("src") + offset).as("src"), (col("dst") + offset).as("dst"),
          col("weight"))),
      verticesOpt = Some(g1.vertices.select("id")
        .unionAll(g2.vertices.select((col("id") + offset).as("id")))))

  /** Union keeping ids (reference `merge`, `graphtools.pyx:255`: nodes
    * and edges missing from G1 are added, existing ids kept). The
    * membership test is `hasEdge(u,v)`, which for undirected graphs is
    * orientation-agnostic — so the dedup key is the canonical
    * (least, greatest) pair, not the stored orientation, and G1's copy
    * of a shared edge always survives (anti-join, not an arbitrary
    * dropDuplicates winner). */
  def merge(g1: PropertyGraph, g2: PropertyGraph): PropertyGraph = {
    def keyed(df: DataFrame): DataFrame =
      if (g1.directed)
        df.withColumn("ka", col("src")).withColumn("kb", col("dst"))
      else
        df.withColumn("ka", least(col("src"), col("dst")))
          .withColumn("kb", greatest(col("src"), col("dst")))
    val e1 = g1.edges.select(col("src"), col("dst"), col("weight"))
    val added = keyed(g2.edges.select(col("src"), col("dst"), col("weight")))
      .join(keyed(e1).select("ka", "kb"), Seq("ka", "kb"), "left_anti")
      .dropDuplicates("ka", "kb")
      .select(col("src"), col("dst"), col("weight"))
    g1.copy(
      edges = e1.unionAll(added),
      verticesOpt = Some(g1.vertices.select("id")
        .unionAll(g2.vertices.select("id")).distinct()))
  }

  /** Graph scalar stats, 1-row: n, m, density, max degree, self-loops,
    * total weight (reference `GraphTools.hpp:141-160`, `Graph.hpp:122`). */
  def stats(g: PropertyGraph): DataFrame = {
    val n = g.vertices.agg(count(lit(1)).as("n_nodes"))
    val m = g.edges.agg(
      count(lit(1)).as("n_edges"),
      sum(when(col("src") === col("dst"), 1L).otherwise(0L)).as("self_loops"),
      round(sum("weight"), 6).as("total_weight"))
    val md = g.degrees.agg(max("degree").as("max_degree"))
    n.crossJoin(m).crossJoin(md)
      .withColumn("density",
        when(col("n_nodes") > 1,
          round((if (g.directed) col("n_edges") * lit(1.0) else col("n_edges") * lit(2.0)) /
            (col("n_nodes") * (col("n_nodes") - 1)), 8)).otherwise(lit(0.0)))
  }

  /** Degree assortativity: Pearson correlation of endpoint degrees over
    * the (symmetric) edge set (reference `correlation/Assortativity.hpp:23`). */
  def assortativity(g: PropertyGraph): DataFrame = {
    val deg = g.degrees
    g.adjacency
      .join(deg.select(col("id").as("src"), col("degree").as("ds")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("dd")), "dst")
      .agg(corr(col("ds").cast("double"), col("dd").cast("double")).as("assortativity"))
  }

  /** Sfigality (reference `centrality/Sfigality.cpp:14-28`): the
    * fraction of a node's incident edges leading to a strictly
    * higher-degree neighbor. 0 for isolated nodes. `(id, sfigality)` */
  def sfigality(g: PropertyGraph): DataFrame = {
    val adj = g.adjacency.select("src", "dst")
    val deg = g.degrees
    val cnt = adj
      .join(deg.select(col("id").as("src"), col("degree").as("ds")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("dd")), "dst")
      .groupBy(col("src").as("id"))
      .agg(sum(when(col("ds") < col("dd"), 1L).otherwise(0L)).as("sf"),
        count(lit(1)).as("d"))
    g.vertices.select("id").join(cnt, Seq("id"), "left")
      .select(col("id"),
        when(coalesce(col("d"), lit(0L)) > 0, col("sf") / col("d"))
          .otherwise(lit(0.0)).as("sfigality"))
  }

  /** k-core subgraph: iteratively peel nodes with degree < k
    * (reference `centrality/CoreDecomposition.hpp:26`). */
  def kCore(g: PropertyGraph, k: Int, maxIter: Int = 100): PropertyGraph = {
    val start = PropertyGraph.canonicalizeUndirected(
      g.adjacency.filter(col("src") =!= col("dst"))).select("src", "dst")
    // a cut every round: the peel step references e three times. Stop
    // when the edge count repeats; the count is the cut's materializing job
    val fin = Fixpoint.loopFusedFingerprint(start, maxIter) { (e, i) =>
      val deg = e.select(col("src").as("id")).unionAll(e.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select("id")
      val round = e
        .join(keep.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      if (i > 0) Fixpoint.dumpLoopPlan("kcore_peel_round", round)
      round
    }(Fixpoint.materialize)
    PropertyGraph(fin.withColumn("weight", lit(1.0)), directed = false)
  }

  /** Core number per node `(id, core)` via two-phase frontier-driven
    * h-index convergence (Lü et al., "The H-index of a network node",
    * 2016; reference semantics `centrality/CoreDecomposition.hpp:26`):
    * start from h = degree and repeatedly set h(v) to the H-index of
    * its neighbors' h values — the fixpoint is exactly the coreness.
    *
    * Shuffle discipline: the graph lives as ONE neighbor-list row per
    * vertex, hash-partitioned by vertex. Each round explodes
    * neighbor lists, joins h, and re-aggregates — and because the
    * explode preserves the src partitioning and the h side joins
    * broadcast (phase 1: the n-row h table when it fits; phase 2: the
    * small candidate explosion, picked by AQE), a round runs with NO
    * 2m-row shuffle and NO window sort: the H-index comes from a
    * sort_array + higher-order-function fold per row, inside codegen.
    *
    * Phase structure: while the changed frontier is wide, recompute
    * every vertex (phase 1). A vertex's h can only drop when a
    * neighbor's h dropped, so once the frontier narrows, each round
    * recomputes only the neighbors of the previous round's changed set
    * (phase 2) — two semi-joins against the n-row neighbor-list table.
    * Round depth on a power-law degree tail is long (60+ rounds
    * observed at RMAT-21), but late rounds now cost ~1-3 s instead of
    * a full 2m-row recompute — the fix for the RMAT-21 k-core wall
    * (BASELINE.md ScaleBench). Convergence is exact: stop when no h
    * decreased.
    *
    * 100 TB note: the phase-1 broadcast of h is bounded to graphs
    * under `broadcastHLimit` vertices; above it phase 1 falls back to
    * a shuffle join, which is the right plan on a real cluster anyway. */
  def coreDecomposition(g: PropertyGraph, maxIter: Int = 100,
      broadcastHLimit: Long = 50000000L): DataFrame = Fixpoint.scope { st =>
    val adj0 = PropertyGraph.canonicalizeUndirected(
      g.adjacency.filter(col("src") =!= col("dst"))).select("src", "dst")
    val adjFlat = adj0.unionAll(adj0.select(col("dst").as("src"), col("src").as("dst")))
    val nbrs = st.persist(adjFlat.repartition(col("src"))
      .groupBy("src").agg(collect_list(col("dst")).as("vs")))
    val nVerts = nbrs.count()
    // H-index of a value multiset: sort desc, count ranks i with a[i] >= i+1
    val hIndexExpr = expr(
      "size(filter(transform(sort_array(hs, false), (x, i) -> x >= i + 1), b -> b))")
    val debug = sys.env.contains("GRAFT_FIXPOINT_DEBUG")
    var h = st.cut(nbrs.select(col("src").as("id"), size(col("vs")).cast("long").as("h"))
      .withColumn("chg", lit(true)))
    var nChanged = nVerts
    var iter = 0
    // wide/narrow crossover: a narrow round's explode volume is
    // Σ deg over NEIGHBORS of the changed set, which on a power-law
    // tail blows past the full-graph volume as soon as the changed set
    // contains a hub — A/B at RMAT-21 measured n/64 at 347 s vs n/4096
    // at 177 s (mid-size changed sets pay 2 extra semi-join jobs AND
    // lose the broadcast-h plan, costing 3.5–13.5 s/round vs the 2 s
    // broadcast full recompute). Narrow only wins once the frontier is
    // a few hundred vertices; override for A/B via GRAFT_KCORE_NARROW_DIV
    val narrowDiv = sys.env.get("GRAFT_KCORE_NARROW_DIV").map(_.toLong).getOrElse(4096L)
    while (iter < maxIter && nChanged > 0) {
      val t0 = System.nanoTime()
      val wide = nChanged > math.max(256L, nVerts / narrowDiv)
      val target =
        if (wide) nbrs
        else {
          // phase 2: only neighbors of the changed set can drop
          val changed = h.filter(col("chg")).select(col("id").as("src"))
          val cand = nbrs.join(changed, Seq("src"), "left_semi")
            .select(explode(col("vs")).as("src")).distinct()
          nbrs.join(cand, Seq("src"), "left_semi")
        }
      val nh0 = h.select(col("id").as("dst"), col("h").as("nh"))
      val nh = if (wide && nVerts <= broadcastHLimit) broadcast(nh0) else nh0
      val upd = target.select(col("src"), explode(col("vs")).as("dst"))
        .join(nh, "dst")
        .groupBy("src").agg(collect_list(col("nh")).as("hs"))
        .select(col("src").as("id"), hIndexExpr.cast("long").as("h2"))
      val next = st.cut(h.join(upd, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("h2"), col("h")).as("h"),
          (col("h2").isNotNull && col("h2") < col("h")).as("chg")))
      st.retire(h)
      h = next
      // measured NOT worth fusing into one lazy-checkpoint + aggregate
      // job: the fused variant re-plans the full round chain per action
      // and ran 327 s vs 187 s at RMAT-21 — the extra count on cached
      // blocks is cheap, the eager materialization is what keeps each
      // round's plan small
      nChanged = h.filter(col("chg")).count()
      if (debug) System.err.println(
        f"[kcore-delta] iter $iter wide=$wide changed=$nChanged ${(System.nanoTime() - t0) / 1e9}%.2fs")
      iter += 1
    }
    val cores = h.select(col("id"), col("h").cast("int").as("core"))
    // isolated / zero-degree vertices keep core 0
    st.cut(g.vertices.select("id").join(cores, Seq("id"), "left")
      .select(col("id"), coalesce(col("core"), lit(0)).as("core")))
  }

  /** Seeded uniform sample of nodes (reference `randomNodes`,
    * `GraphTools.hpp:65`): deterministic under repartitioning via
    * xxhash64-ordering, not `rand()` (SURVEY.md §4.2.3). */
  def randomNodes(g: PropertyGraph, n: Int, seed: Long): DataFrame =
    g.vertices.orderBy(xxhash64(col("id"), lit(seed)), col("id")).limit(n)
}
