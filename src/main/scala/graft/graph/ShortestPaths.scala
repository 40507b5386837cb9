package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Traversals and shortest paths as iterative frontier joins
  * (reference: `distance/BFS.hpp:20`, `Dijkstra.hpp:22`, base
  * `SSSP.hpp:23`; multi-source variants `MultiTargetBFS.hpp:13`,
  * `APSP.hpp:23`).
  *
  * All functions are multi-source: state is keyed `(source, id)` so any
  * number of sources ride one fixpoint (n sources = APSP). BFS expands a
  * frontier of newly-settled nodes only; Dijkstra is Bellman-Ford-style
  * relaxation from improved nodes (identical results on non-negative
  * weights; a distributed heap does not exist).
  *
  * Both `dist` and `frontier` are lineage-truncated every round
  * (`localCheckpoint`): the frontier feeds the next frontier AND the
  * next dist, so without truncation plan size compounds ~Fibonacci per
  * hop and the per-action plan rendering alone goes quadratic — the
  * cost is re-caching two small tables per hop, the win is O(1) plan
  * size over arbitrarily many hops.
  */
object ShortestPaths {

  /** Hop distances from each source: `(source, id, dist)` (unreachable
    * nodes absent).
    *
    * One Spark job per hop: the new frontier is a LAZY localCheckpoint
    * whose materializing action is the frontier-size count, and the
    * settled set is the flat UNION of the per-hop frontier checkpoints
    * (BFS never improves a settled distance, so dist is append-only) —
    * the former per-hop eager re-checkpoint of the whole dist table
    * (O(n·diameter) copied rows) and its extra job are gone. On exit the
    * union is compacted into ONE checkpoint and the per-hop legs are
    * freed, preserving the round-state hygiene contract (FixpointSpec):
    * the settled table is copied once total, not once per hop. */
  def bfs(g: PropertyGraph, sources: DataFrame, maxIter: Int = 200): DataFrame = Fixpoint.scope { st =>
    val adj = st.persist(g.adjacency.select("src", "dst").repartition(col("src")))

    var dist = st.cut(sources.select(col("source"), col("source").as("id"), lit(0L).as("dist")))
    val legs = scala.collection.mutable.ListBuffer(dist)
    // bound the union depth: past `compactEvery` legs the d-ary union's
    // per-hop planning cost is O(d) (O(d²) over the traversal) and the
    // exit compaction scans d legs — fine at diameter ~40, hostile at
    // diameter 10⁴ (road networks). Compacting every K hops keeps the
    // plan O(K) wide for one O(n) copy per K hops; the hop-loop stays
    // 1 job/hop. The compacted dist holds the live frontier's ROWS, but
    // the frontier is still read by the next hop, so it is retired then.
    val compactEvery = 32
    var frontier = dist
    var i = 0
    var frontierSize = frontier.count()
    while (frontierSize > 0 && i < maxIter) {
      val candidates = frontier.join(adj, frontier("id") === adj("src"))
        .select(col("source"), col("dst").as("id"), (col("dist") + 1).as("dist"))
        .groupBy("source", "id").agg(min("dist").as("dist"))
      val hopBody = candidates.join(dist, Seq("source", "id"), "left_anti")
      if (i > 0) Fixpoint.dumpLoopPlan("bfs_hop", hopBody)
      val newFrontier = st.cutLazy(hopBody) // the count below materializes it
      if (!legs.exists(_ eq frontier)) st.retire(frontier) // compacted away
      frontierSize = newFrontier.count()
      if (frontierSize > 0) {
        dist = dist.unionAll(newFrontier)
        legs += newFrontier
        if (legs.size >= compactEvery) {
          val compacted = st.cut(dist)
          st.retire(legs.filterNot(_ eq newFrontier).toSeq: _*)
          legs.clear(); legs += compacted
          dist = compacted
        }
        frontier = newFrontier
      }
      i += 1
    }
    if (legs.size == 1) dist else st.cut(dist)
  }

  /** Weighted SSSP (non-negative weights): `(source, id, dist)`.
    * Bellman-Ford relaxation, expanding only from nodes whose distance
    * improved last round — semantically identical to Dijkstra.
    *
    * One Spark job per round, like [[bfs]]: the improved set is a LAZY
    * localCheckpoint whose materializing action is the frontier-size
    * count, and the dist table is kept as the UNION of per-round
    * improvement legs — current best = min over legs (improvements only
    * decrease, so min = latest). The former per-round eager re-aggregate
    * + re-checkpoint of the WHOLE dist table (an O(n) copy and a second
    * full-dist shuffle every round) is gone; the union is compacted into
    * one aggregated checkpoint every `compactEvery` rounds and once at
    * exit, so plan width stays O(K) and the O(n) copy amortizes. */
  def dijkstra(g: PropertyGraph, sources: DataFrame, maxIter: Int = 200): DataFrame = Fixpoint.scope { st =>
    val adj = st.persist(g.adjacency.repartition(col("src")))
    adj.count()

    var union = st.cut(sources.select(col("source"), col("source").as("id"), lit(0.0).as("dist")))
    val legs = scala.collection.mutable.ListBuffer(union)
    val compactEvery = 16
    // current settled best per (source, id) — min over the legs
    def best = union.groupBy("source", "id").agg(min("dist").as("dist"))
    var frontier = union
    var i = 0
    var frontierSize = frontier.count()
    while (frontierSize > 0 && i < maxIter) {
      val candidates = frontier.join(adj, frontier("id") === adj("src"))
        .select(col("source"), col("dst").as("id"), (col("dist") + col("weight")).as("nd"))
        .groupBy("source", "id").agg(min("nd").as("nd"))
      // keep candidates that beat the settled distance (or reach new nodes)
      val roundBody = candidates
        .join(best.withColumnRenamed("dist", "cur"), Seq("source", "id"), "left")
        .filter(col("cur").isNull || col("nd") < col("cur"))
        .select(col("source"), col("id"), col("nd").as("dist"))
      if (i > 0) Fixpoint.dumpLoopPlan("dijkstra_round", roundBody)
      val improved = st.cutLazy(roundBody) // the count below materializes it
      if (!legs.exists(_ eq frontier)) st.retire(frontier) // compacted away
      frontierSize = improved.count()
      if (frontierSize > 0) {
        union = union.unionAll(improved)
        legs += improved
        if (legs.size >= compactEvery) {
          val compacted = st.cut(best)
          st.retire(legs.filterNot(_ eq improved).toSeq: _*)
          legs.clear(); legs += compacted
          union = compacted
        }
        frontier = improved
      }
      i += 1
    }
    if (legs.size == 1) union else st.cut(best)
  }

  def sourcesOf(g: PropertyGraph, ids: Seq[Long]): DataFrame = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    ids.toDF("source")
  }

  /** Per-source eccentricity and reach `(source, ecc, reached)`
    * (reference `distance/Eccentricity.hpp:21`). */
  def eccentricity(dist: DataFrame): DataFrame =
    dist.groupBy("source").agg(max("dist").as("ecc"), count(lit(1)).as("reached"))

  /** Closeness centrality from a BFS/Dijkstra distance table, component-
    * aware: (reached-1)/Σd (reference `centrality/Closeness.hpp:29`). */
  def closeness(dist: DataFrame): DataFrame =
    dist.filter(col("id") =!= col("source"))
      .groupBy(col("source").as("id"))
      .agg((count(lit(1)).cast("double") / sum("dist")).as("closeness"))

  /** Top-k closeness with NB-cut-style pruning (reference
    * `centrality/TopCloseness.hpp:22`, Bergamini et al.): sources are
    * processed in degree-descending batches; each batch runs one
    * level-synchronous keyed BFS, and after every level a source whose
    * closeness UPPER BOUND falls below the current k-th best exact
    * value is cut — its BFS never finishes. The bound: for
    * component-aware closeness (r−1)/S, any future reach f ≥ r at
    * distance ≥ l+1 satisfies (f−1)/S_f ≤ (r−1)/S (the bound is
    * decreasing in f because S ≤ (r−1)·l), so the partial value itself
    * is the NB-cut. High-degree sources go first, so the k-th best
    * tightens after the first batch and later batches cut within a few
    * levels — k BFS-equivalents instead of n, the reference's point.
    * Driver holds only the running top-k. `(id, closeness)`, k rows,
    * ties broken by id. */
  def topCloseness(g: PropertyGraph, k: Int, batchSize: Int = 512,
      maxIter: Int = 200): DataFrame = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    val adj = g.adjacency.select("src", "dst")
      .repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    adj.count()
    val ordered = g.degrees.orderBy(desc("degree"), asc("id"))
      .select("id").as[Long].collect() // ids only — O(n) driver, same as ranking
    val top = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    def kthBest: Double =
      if (top.size < k) -1.0
      else top.sortBy { case (id, c) => (-c, id) }(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))(k - 1)._2
    for (batch <- ordered.grouped(batchSize)) {
      var dist = batch.toSeq.toDF("source")
        .select(col("source"), col("source").as("id"), lit(0L).as("dist"))
        .localCheckpoint(true)
      var frontier = dist
      var i = 0
      var n = frontier.count()
      while (n > 0 && i < maxIter) {
        val cand = frontier.join(adj, frontier("id") === adj("src"))
          .select(col("source"), col("dst").as("id"), (col("dist") + 1).as("dist"))
          .groupBy("source", "id").agg(min("dist").as("dist"))
        var next = cand.join(dist, Seq("source", "id"), "left_anti").localCheckpoint(true)
        dist = dist.unionAll(next).localCheckpoint(true)
        val cut = kthBest
        if (cut > 0) {
          // NB-cut: drop sources whose partial (r−1)/S already < kth best
          val live = dist.groupBy("source")
            .agg(((count(lit(1)) - 1).cast("double") /
              sum("dist").cast("double")).as("ub"))
            .filter(col("ub") >= cut)
            .select("source").localCheckpoint(true)
          next = next.join(live, Seq("source"), "left_semi").localCheckpoint(true)
        }
        frontier = next
        n = frontier.count()
        i += 1
      }
      // closeness over the batch table: finished sources are exact; a CUT
      // source's value is its frozen partial — an upper bound that was
      // already below the k-th best when cut, so it can never (wrongly)
      // enter the top-k below
      val finished = closeness(dist)
      val batchTop = finished.orderBy(desc("closeness"), asc("id")).limit(k)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      top ++= batchTop
      val pruned = top.sortBy { case (id, c) => (-c, id) }(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)).take(k)
      top.clear(); top ++= pruned
    }
    adj.unpersist(false)
    top.sortBy { case (id, c) => (-c, id) }(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
      .take(k).toSeq.toDF("id", "closeness")
  }

  /** Pivot-sampled closeness for ALL nodes (reference
    * `centrality/ApproxCloseness.hpp:30`, Cohen et al. — the uniform
    * pivot estimator; the reference's per-pivot variance splitting is
    * not ported, documented deviation): farness(v) ≈ (n/k_v)·Σ_p d(p,v)
    * over the k_v pivots that reach v, closeness = (reached·scale)⁻¹
    * normalized as (n−1)/farness. One keyed BFS from the pivot set.
    * `(id, closeness)`. */
  def approxCloseness(g: PropertyGraph, nPivots: Int = 16, seed: Long = 42): DataFrame = {
    val pivots = g.vertices
      .orderBy(xxhash64(lit(seed), col("id")).asc, col("id").asc)
      .limit(nPivots).select(col("id").as("source"))
    val dist = bfs(g, pivots)
    dist.filter(col("id") =!= col("source"))
      .groupBy("id")
      .agg(sum("dist").as("fsum"), count(lit(1)).as("kv"))
      .filter(col("fsum") > 0)
      .select(col("id"),
        // (n−1)/[(n−1)/k_v · Σd] simplifies to k_v/Σd
        (col("kv").cast("double") / col("fsum")).as("closeness"))
  }

  /** Variance-split pivot closeness (reference
    * `centrality/ApproxCloseness.cpp:71-160,298`, Cohen et al.,
    * "Computing Classic Closeness Centrality, at Scale", COSN'14):
    * the full three-way estimator, not the uniform pivot average of
    * [[approxCloseness]]. For non-sample u with pivot p = closest
    * sample, δ = d(u,p), T = δ/ε:
    *   - far nodes (d(p,w) > T): farness contribution estimated via the
    *     pivot, Σ d(p,w) — the (1±ε) band the threshold guarantees;
    *   - samples: exact d(c_i,u), split into LC (d(c_i,p) ≤ T) and HC;
    *   - the close stratum is inverse-propensity scaled from its LC
    *     samples: LCSum·LNum/LCNum, LNum = n−1−HNum−k+LCNum.
    * Sample nodes get exact farness. ε=0 degenerates to pure sampling
    * (every sample LC, no pivot term) as in the reference. Assumes a
    * connected graph like the reference ("input graph has to be
    * connected"). Fully distributed: one k-source BFS, a k×k
    * broadcast classification join, and per-pivot distance histograms
    * (≤ eccentricity rows each) — nothing graph-sized on the driver.
    * `(id, closeness)` normalized as (n−1)/farness. */
  def approxClosenessSplit(g: PropertyGraph, nSamples: Int = 16,
      epsilon: Double = 0.1, seed: Long = 42): DataFrame = {
    val n = g.vertices.count()
    val samples = g.vertices
      .orderBy(xxhash64(lit(seed), col("id")).asc, col("id").asc)
      .limit(nSamples).select(col("id").as("source")).localCheckpoint(true)
    val k = samples.count()
    val d = bfs(g, samples).localCheckpoint(true) // (source, id, dist)
    val sampleIds = samples.select(col("source").as("id"))

    // pivot = closest sample (tie → smaller sample id), δ = d(u, pivot)
    val piv = d.groupBy("id")
      .agg(min(struct(col("dist"), col("source"))).as("m"))
      .select(col("id"), col("m.source").as("p"),
        col("m.dist").cast("double").as("delta"))
    // k×k sample-to-sample distances — broadcastable
    val ss = d.join(sampleIds, Seq("id"), "left_semi")
      .select(col("source").as("ci"), col("id").as("sj"), col("dist").as("dss"))
    val nonSample = piv.join(sampleIds, Seq("id"), "left_anti")
      // ε=0 → T=+∞ → every sample LC, no pivot stratum (pure sampling);
      // explicit literal because ANSI mode rejects x/0
      .withColumn("T", if (epsilon == 0.0) lit(Double.PositiveInfinity)
        else col("delta") / lit(epsilon))

    // classify each (sample c_i, non-sample u): LC iff d(c_i, p(u)) ≤ T_u
    val sampleAgg = d.join(sampleIds, Seq("id"), "left_anti")
      .join(nonSample, Seq("id"))
      .join(broadcast(ss), col("source") === col("ci") && col("p") === col("sj"), "left")
      .withColumn("isLC", coalesce(col("dss").cast("double"), lit(Double.MaxValue)) <= col("T"))
      .groupBy("id", "p", "T")
      .agg(coalesce(sum(when(col("isLC"), col("dist"))), lit(0L)).as("lcSum"),
        count(when(col("isLC"), lit(1))).as("lcNum"),
        coalesce(sum(when(!col("isLC"), col("dist"))), lit(0L)).as("hcSum"))

    // per-pivot histogram of distances to NON-sample nodes (far stratum)
    val hist = d.join(sampleIds, Seq("id"), "left_anti")
      .groupBy(col("source").as("p"), col("dist").as("hd"))
      .agg(sum("dist").as("sd"), count(lit(1)).as("cd"))
    val est = sampleAgg.join(broadcast(hist), Seq("p"), "left")
      .withColumn("inFar", col("hd") > col("T"))
      .groupBy("id", "p", "T", "lcSum", "lcNum", "hcSum")
      .agg(coalesce(sum(when(col("inFar"), col("sd"))), lit(0L)).as("hSum"),
        coalesce(sum(when(col("inFar"), col("cd"))), lit(0L)).as("hNum"))
      .withColumn("lNum",
        lit(n - 1).cast("double") - col("hNum") - lit(k) + col("lcNum"))
      // LCNum ≥ 1 always: u's own pivot is LC (d(p,p)=0 ≤ T)
      .select(col("id"),
        (col("hSum") + col("hcSum") +
          col("lcSum") * col("lNum") / col("lcNum")).as("farness"))
    val exactSamples = d.filter(col("id") =!= col("source"))
      .groupBy(col("source"))
      .agg(sum("dist").cast("double").as("farness"))
      .select(col("source").as("id"), col("farness"))
    est.unionAll(exactSamples)
      .filter(col("farness") > 0)
      .select(col("id"), (lit(n - 1).cast("double") / col("farness")).as("closeness"))
  }

  /** Harmonic closeness: Σ 1/d (reference `HarmonicCloseness.hpp:18`). */
  def harmonicCloseness(dist: DataFrame): DataFrame =
    dist.filter(col("id") =!= col("source"))
      .groupBy(col("source").as("id"))
      .agg(sum(lit(1.0) / col("dist")).as("harmonic"))

  /** Incremental BFS update after an edge-insertion batch (reference
    * `distance/DynBFS.hpp`, the `DynAlgorithm::updateBatch` contract,
    * `base/DynAlgorithm.hpp:10`): on insertions hop distances only
    * shrink, so the relaxation is seeded with the inserted edges'
    * endpoint distances and improvements propagate outward — work is
    * proportional to the AFFECTED region, not the graph, which is the
    * whole point of the Dyn* family at scale. `g` is the post-insertion
    * graph; `dist` the pre-insertion `(source, id, dist)` table;
    * `newEdges` the inserted `(src, dst)` batch. Result is identical to
    * a from-scratch BFS on the new graph. */
  def updateBfsInsert(g: PropertyGraph, dist: DataFrame,
      newEdges: DataFrame, maxIter: Int = 200): DataFrame = {
    val adj = g.adjacency.select("src", "dst")
      .repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    adj.count()
    val ins = newEdges.select(col("src").as("u"), col("dst").as("v"))
    val insSym = ins.unionAll(ins.select(col("v").as("u"), col("u").as("v")))

    // seeds: crossing an inserted edge from a settled endpoint
    var cur = dist.localCheckpoint(true)
    var frontier = insSym
      .join(cur, insSym("u") === cur("id"))
      .select(col("source"), col("v").as("id"), (col("dist") + 1).as("dist"))
      .groupBy("source", "id").agg(min("dist").as("dist"))
      .join(cur.select(col("source"), col("id"), col("dist").as("old")),
        Seq("source", "id"), "left")
      .filter(col("old").isNull || col("dist") < col("old"))
      .select("source", "id", "dist")
      .localCheckpoint(true)
    var i = 0
    var n = frontier.count()
    while (n > 0 && i < maxIter) {
      cur = cur.unionAll(frontier)
        .groupBy("source", "id").agg(min("dist").as("dist"))
        .localCheckpoint(true)
      val cand = frontier.join(adj, frontier("id") === adj("src"))
        .select(col("source"), col("dst").as("id"), (col("dist") + 1).as("dist"))
        .groupBy("source", "id").agg(min("dist").as("dist"))
      frontier = cand
        .join(cur.select(col("source"), col("id"), col("dist").as("old")),
          Seq("source", "id"), "left")
        .filter(col("old").isNull || col("dist") < col("old"))
        .select("source", "id", "dist")
        .localCheckpoint(true)
      n = frontier.count()
      i += 1
    }
    adj.unpersist(false)
    cur
  }
}
