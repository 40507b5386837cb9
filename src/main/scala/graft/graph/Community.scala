package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Community detection (reference: `community/PLP.hpp:26` label
  * propagation, `PLM.hpp:19` parallel Louvain,
  * `Modularity.hpp:28` / `Coverage.hpp:19` / `EdgeCut.hpp:18` /
  * `Conductance.hpp:22` quality measures,
  * `coarsening/ParallelPartitionCoarsening.hpp:20`).
  *
  * The reference's async move order is nondeterministic (flagged by its
  * own LeidenView docs); we standardize on synchronous rounds with
  * (count desc, label asc) tie-breaks so results are reproducible under
  * any partitioning (SURVEY.md §7.4.3).
  */
object Community {

  /** Symmetric weighted adjacency. */
  private def sym(g: PropertyGraph): DataFrame = g.adjacency

  /** Synchronous PLP: adopt the most frequent neighbor label
    * (ties → smallest label); stop when < `threshold` nodes change.
    * [[labelPropagation]] with every sender ranked equal. */
  def plp(g: PropertyGraph, maxIter: Int = 30, threshold: Long = 0): DataFrame =
    labelPropagation(g, sym(g).select(col("src"), col("dst"), lit(0L).as("rank")),
      maxIter, threshold)

  /** Degree-ordered label propagation (reference
    * `community/LPDegreeOrdered.hpp:22`): the reference processes nodes
    * in increasing-degree order, so labels carried by low-degree nodes
    * settle — and propagate — first. Spark adaptation (documented
    * deviation, same spirit as the synchronous-PLP standardization
    * above): synchronous rounds, but the frequency tie-break prefers the
    * label arriving via the lowest-degree neighbor — (count desc,
    * min sending-degree asc, label asc) — which is the degree-precedence
    * the sequential ordering encodes, made deterministic and
    * partitioning-independent. One extra broadcast-sized join per round
    * (degrees onto the adjacency, computed once). */
  def plpDegreeOrdered(g: PropertyGraph, maxIter: Int = 30,
      threshold: Long = 0): DataFrame =
    labelPropagation(g, sym(g).select("src", "dst")
      .join(g.degrees.select(col("id").as("src"), col("degree").as("rank")), "src"),
      maxIter, threshold)

  /** Synchronous label propagation over `adj = (src, dst, rank)`: each
    * node adopts the label most frequent among its senders, ties → the
    * label with the lowest sender `rank`, then the smallest label. The
    * per-round changed-count rides a `changed` flag column inside the
    * step, so convergence costs one aggregate on the state being
    * materialized anyway — not an extra join+count job per round. */
  private def labelPropagation(g: PropertyGraph, rankedAdj: DataFrame, maxIter: Int,
      threshold: Long): DataFrame = Fixpoint.scope { st =>
    val adj = st.persist(rankedAdj)
    var cur = st.persist(g.vertices.select(col("id"), col("id").as("community"))
      .withColumn("changed", lit(1L)))
    var i = 0
    var done = false
    while (i < maxIter && !done) {
      val labels = cur.select("id", "community")
      val freq = labels.join(adj, labels("id") === adj("src"))
        .groupBy(col("dst").as("id"), col("community"))
        .agg(count(lit(1)).as("cnt"), min("rank").as("minRank"))
      val w = Window.partitionBy("id")
        .orderBy(col("cnt").desc, col("minRank").asc, col("community").asc)
      val best = freq.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("id"), col("community").as("newCommunity"))
      val stepped = labels.join(best, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("newCommunity"), col("community")).as("community"),
          (coalesce(col("newCommunity"), col("community")) =!= col("community"))
            .cast("long").as("changed"))
      val next = if ((i + 1) % 4 == 0) st.cutLazy(stepped) else st.persist(stepped)
      // one action: materializes the round AND reads the changed count
      val changed = next.agg(sum("changed")).head.getLong(0)
      st.retire(cur)
      cur = next
      done = changed <= threshold
      i += 1
    }
    cur.select("id", "community")
  }

  /** Modularity Q of a partition `(id, community)` (reference
    * `community/Modularity.hpp:28`): Q = Σ_c [in_c/2m − (tot_c/2m)²]
    * over the symmetric weighted adjacency (2m = total sym weight). */
  def modularity(g: PropertyGraph, partition: DataFrame): Double = {
    val adj = sym(g)
    val lbl = partition.select(col("id"), col("community"))
    val edgesL = adj
      .join(lbl.select(col("id").as("src"), col("community").as("cs")), "src")
      .join(lbl.select(col("id").as("dst"), col("community").as("cd")), "dst")
    val m2 = adj.agg(sum("weight")).head.getDouble(0)
    if (m2 == 0.0) return 0.0
    val inC = edgesL.filter(col("cs") === col("cd"))
      .groupBy("cs").agg(sum("weight").as("inw"))
    val totC = edgesL.groupBy("cs").agg(sum("weight").as("tot"))
    totC.join(inC, Seq("cs"), "left")
      .select((coalesce(col("inw"), lit(0.0)) / m2 -
        (col("tot") / m2) * (col("tot") / m2)).as("q"))
      .agg(sum("q")).head.getDouble(0)
  }

  /** Coverage: fraction of edge weight inside communities (reference
    * `Coverage.hpp:19`). */
  def coverage(g: PropertyGraph, partition: DataFrame): Double = {
    val adj = sym(g)
    val lbl = partition.select(col("id"), col("community"))
    val edgesL = adj
      .join(lbl.select(col("id").as("src"), col("community").as("cs")), "src")
      .join(lbl.select(col("id").as("dst"), col("community").as("cd")), "dst")
    val r = edgesL.agg(
      sum(when(col("cs") === col("cd"), col("weight")).otherwise(0.0)),
      sum("weight")).head
    r.getDouble(0) / r.getDouble(1)
  }

  /** Weight of inter-community edges (reference `EdgeCut.hpp:18`);
    * canonical (each undirected edge once). */
  def edgeCut(g: PropertyGraph, partition: DataFrame): Double = {
    val lbl = partition.select(col("id"), col("community"))
    val e = g.edges
      .join(lbl.select(col("id").as("src"), col("community").as("cs")), "src")
      .join(lbl.select(col("id").as("dst"), col("community").as("cd")), "dst")
    e.filter(col("cs") =!= col("cd")).agg(coalesce(sum("weight"), lit(0.0)))
      .head.getDouble(0)
  }

  /** Conductance of one community vs rest (reference
    * `Conductance.hpp:22`): cut / min(vol(S), vol(V∖S)). */
  def conductance(g: PropertyGraph, partition: DataFrame, community: Long): Double = {
    val lbl = partition.select(col("id"),
      (col("community") === community).as("inS"))
    val adjL = sym(g)
      .join(lbl.select(col("id").as("src"), col("inS").as("sIn")), "src")
      .join(lbl.select(col("id").as("dst"), col("inS").as("dIn")), "dst")
    val r = adjL.agg(
      sum(when(col("sIn") =!= col("dIn"), col("weight")).otherwise(0.0)),
      sum(when(col("sIn"), col("weight")).otherwise(0.0)),
      sum(when(!col("sIn"), col("weight")).otherwise(0.0))).head
    // sym counts each crossing edge twice → halve; volumes are already
    // the standard Σ deg_w over each side
    val (cut, volS, volRest) = (r.getDouble(0) / 2.0, r.getDouble(1), r.getDouble(2))
    val denom = math.min(volS, volRest)
    if (denom == 0.0) 0.0 else cut / denom
  }

  /** Coarsen by partition (reference
    * `coarsening/ParallelPartitionCoarsening.hpp:20`,
    * `CoarsenedGraphView.hpp:26`): supernode per community, weights
    * aggregated. The unevaluated plan IS the O(n) "view"; nothing is
    * materialized until an action (SURVEY.md §1.1). */
  def coarsen(g: PropertyGraph, partition: DataFrame): PropertyGraph = {
    val lbl = partition.select(col("id"), col("community"))
    val e = g.edges
      .join(lbl.select(col("id").as("src"), col("community").as("cs")), "src")
      .join(lbl.select(col("id").as("dst"), col("community").as("cd")), "dst")
      .select(least(col("cs"), col("cd")).as("src"),
        greatest(col("cs"), col("cd")).as("dst"), col("weight"))
      .groupBy("src", "dst").agg(sum("weight").as("weight"))
    PropertyGraph(e, directed = false,
      Some(lbl.select(col("community").as("id")).distinct()))
  }

  /** ClusteringProjector (reference `coarsening/ClusteringProjector.hpp:20`):
    * project a partition of the COARSE graph back onto the fine graph
    * through the fine→coarse node mapping — one join. `mapping` is
    * `(id, community)` (fine node → supernode, [[coarsen]]'s input),
    * `coarsePartition` is `(id, community)` over supernode ids. */
  def projectClustering(mapping: DataFrame, coarsePartition: DataFrame): DataFrame =
    mapping.select(col("id"), col("community").as("super"))
      .join(coarsePartition.select(col("id").as("super"),
        col("community").as("cc")), "super")
      .select(col("id"), col("cc").as("community"))

  /** HashingOverlapper (reference `overlap/HashingOverlapper.hpp:21`):
    * combine two partitions into their intersection partition by hashing
    * the label pair — nodes land together iff they agree in BOTH. */
  def hashingOverlapper(p1: DataFrame, p2: DataFrame): DataFrame =
    p1.select(col("id"), col("community").as("c1"))
      .join(p2.select(col("id"), col("community").as("c2")), "id")
      .select(col("id"),
        pmod(xxhash64(col("c1"), col("c2")), lit(Long.MaxValue)).as("community"))

  /** Parallel agglomerative clusterer (reference
    * `community/ParallelAgglomerativeClusterer.hpp:20`, .cpp:21-84):
    * repeat { score every edge by the modularity gain of merging its
    * endpoints, Δmod(u,v) = w(u,v)/W − wdeg(u)·wdeg(v)/(2W)²
    * (`scoring/ModularityScoring.hpp:63`); compute a maximal matching on
    * those scores; contract matched pairs } until the graph shrinks by
    * less than `relThresh` or fewer than 2 supernodes remain. The
    * coarsest supernodes are the communities, projected back through the
    * contraction hierarchy. Deviation: the reference's sequential
    * PathGrowingMatcher is replaced by [[Matching.suitor]] — both are
    * 1/2-approximate maximum-weight matchings; only positive-gain edges
    * are matchable (merging a negative-Δmod pair cannot help Q).
    * Returns `(id, community)`. */
  def agglomerative(g: PropertyGraph, maxLevels: Int = 24,
      relThresh: Double = 5e-3): DataFrame = Fixpoint.scope { st =>
    val debugT0 = System.nanoTime()
    def dbg(what: String): Unit = if (sys.env.contains("GRAFT_FIXPOINT_DEBUG"))
      System.err.println(f"[agglo] $what ${(System.nanoTime() - debugT0) / 1e9}%.2fs")
    var cur = g
    var labels = st.cut(g.vertices.select(col("id"), col("id").as("community")))
    var n = cur.vertices.count()
    var repeat = n >= 2
    var level = 0
    while (repeat && level < maxLevels) {
      dbg(s"level $level start n=$n")
      val w = cur.edges.agg(coalesce(sum("weight"), lit(0.0))).head.getDouble(0)
      if (w == 0.0) { repeat = false }
      else {
        val vol = cur.weightedDegrees
        val scored = cur.edges.filter(col("src") =!= col("dst"))
          .join(vol.select(col("id").as("src"), col("wdegree").as("du")), "src")
          .join(vol.select(col("id").as("dst"), col("wdegree").as("dv")), "dst")
          .select(col("src"), col("dst"),
            (col("weight") / w -
              (col("du") / (2.0 * w)) * (col("dv") / (2.0 * w))).as("weight"))
          .filter(col("weight") > 0)
        dbg("scored")
        val matched = Matching.suitor(
          PropertyGraph(scored, directed = false, Some(cur.vertices.select("id"))))
        dbg("matched")
        // matched pairs (u < v) contract to u; everyone else stays singleton
        val pairMap = matched.select(col("u").as("id"), col("u").as("community"))
          .unionAll(matched.select(col("v").as("id"), col("u").as("community")))
        val part = st.cut(cur.vertices.select("id")
          .join(pairMap, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("community"), col("id")).as("community")))
        dbg("part")
        val coarse = coarsen(cur, part)
        val cn = coarse.vertices.count()
        dbg("coarse counted")
        repeat = cn < n && cn >= 2 && (n - cn).toDouble / n > relThresh
        if (repeat) {
          val next = st.cut(labels
            .join(part.select(col("id").as("community"), col("community").as("c2")),
              Seq("community"))
            .select(col("id"), col("c2").as("community")))
          val coarseCut = PropertyGraph(st.cut(coarse.edges), directed = false,
            Some(st.cut(coarse.vertices)))
          st.retire(labels, cur.edges, cur.vertices)
          labels = next
          cur = coarseCut
          n = cn
        }
        st.retire(part)
      }
      level += 1
    }
    labels
  }

  /** Louvain local-moving pass (reference `PLM.hpp:19` gain formula):
    * each round a node picks the community with max
    * ΔQ = w(u→C)/m − γ·(tot_C·k_u)/(2m²), ties → smaller community id.
    * Fully synchronous moves oscillate (two adjacent singletons swap
    * labels forever), so each round only the deterministic half of the
    * nodes — `xxhash64(id, round) % 2 == 0` — may move; convergence =
    * two consecutive rounds with zero moves (`minMovesFrac = 0`, the
    * default) or, when `minMovesFrac > 0`, two consecutive rounds each
    * moving fewer than `minMovesFrac·n` nodes — the reference-PLM-style
    * relative stop that [[louvain]]/[[leiden]] opt into explicitly.
    * Returns `(id, community)`. */
  def louvainLocalMove(g: PropertyGraph, maxRounds: Int = 24,
      gamma: Double = 1.0, initPartition: Option[DataFrame] = None,
      minMovesFrac: Double = 0.0): DataFrame = Fixpoint.scope { st =>
    val debugT0 = System.nanoTime()
    def dbg(what: String): Unit = if (sys.env.contains("GRAFT_FIXPOINT_DEBUG"))
      System.err.println(f"[plm] $what ${(System.nanoTime() - debugT0) / 1e9}%.2fs")
    val adj = st.persist(sym(g))
    val m2 = adj.agg(sum("weight")).head.getDouble(0) // = 2m
    val ku = adj.groupBy(col("src").as("id")).agg(sum("weight").as("ku"))
    var cur = st.persist(initPartition.getOrElse(
        g.vertices.select(col("id"), col("id").as("community")))
      .withColumn("moved", lit(1L)))
    // relative convergence, like the reference PLM's moved-nodes
    // threshold: rounds that move ≲ minMovesFrac·n nodes shift
    // modularity negligibly but each costs full shuffle rounds — the
    // profile shows a long tail of <1%-move rounds dominating level
    // wall-clock. Two consecutive sub-threshold rounds are required
    // because the parity alternation lets only half the nodes move per
    // round.
    val quietBar = math.max(0L,
      math.ceil(g.vertices.count() * minMovesFrac).toLong - 1L)
    var quietRounds = 0
    var round = 0
    while (round < maxRounds && quietRounds < 2) {
      val labels = cur.select("id", "community")
      // community volumes under current labels
      val vol = labels.join(ku, Seq("id"), "left")
        .groupBy("community").agg(sum(coalesce(col("ku"), lit(0.0))).as("tot"))
      // weight from u to each neighboring community (self loops excluded:
      // they stay with u regardless of move)
      val w2c = adj.filter(col("src") =!= col("dst"))
        .join(labels.select(col("id").as("dst"), col("community").as("cNbr")), "dst")
        .groupBy(col("src").as("id"), col("cNbr"))
        .agg(sum("weight").as("wuc"))
      // candidate gain for u → C (staying = re-entering current community)
      val curLbl = labels.withColumnRenamed("community", "cCur")
      val cand = w2c
        .join(curLbl, "id")
        .join(ku, "id")
        .join(vol.withColumnRenamed("community", "cNbr").withColumnRenamed("tot", "totC"), "cNbr")
        // remove u's own contribution from its current community volume
        .withColumn("totAdj",
          when(col("cNbr") === col("cCur"), col("totC") - col("ku")).otherwise(col("totC")))
        .withColumn("gain",
          col("wuc") / lit(m2 / 2.0) -
            lit(gamma) * col("totAdj") * col("ku") / lit(m2 * m2 / 2.0))
      // argmax via one hash aggregate — (gain desc, cNbr asc) tie-break
      // encoded as max(struct(gain, -cNbr)); replaces a sort-based
      // row_number window (one fewer per-round sort of the candidate set)
      val best = cand
        .filter(pmod(xxhash64(col("id"), lit(round)), lit(2)) === 0)
        .groupBy("id")
        .agg(max(struct(col("gain"), (-col("cNbr")).as("negC"))).as("top"))
        .filter(col("top.gain") > 1e-12)
        .select(col("id"), (-col("top.negC")).as("newCommunity"))
      val stepped = labels.join(best, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("newCommunity"), col("community")).as("community"),
          (col("newCommunity").isNotNull &&
            col("newCommunity") =!= col("community")).cast("long").as("moved"))
      val next =
        if ((round + 1) % 2 == 0) st.cutLazy(stepped) else st.persist(stepped)
      // one action: materializes the round AND reads the moved count
      val moved = next.agg(sum("moved")).head.getLong(0)
      dbg(s"round $round moved=$moved")
      quietRounds = if (moved <= quietBar) quietRounds + 1 else 0
      st.retire(cur)
      cur = next
      round += 1
    }
    cur.select("id", "community")
  }

  /** Full PLM: local moving, coarsen, recurse while modularity improves,
    * then project labels back down the level mappings (reference
    * `PLM.hpp:19` move→coarsen→recurse, `ClusteringProjector.hpp:19`).
    *
    * Approximation note — a DELIBERATE deviation from the reference:
    * PLM's local moving converges only on zero moves (bounded by
    * maxIter; `PLM.cpp:223` `while(moved && iter<=maxIter)`), with no
    * relative threshold. Here each local-moving pass stops once two
    * consecutive rounds move fewer than `minMovesFrac`·n nodes (default
    * 0.5 %), because on Spark the long tail of sub-1 %-move rounds
    * shifts modularity negligibly but dominates wall-clock (each round
    * is a full shuffle). Pass `minMovesFrac = 0` for the reference's
    * exact zero-move convergence. */
  def louvain(g: PropertyGraph, maxLevels: Int = 6, gamma: Double = 1.0,
      minMovesFrac: Double = 5e-3): DataFrame = Fixpoint.scope { st =>
    val debugT0 = System.nanoTime()
    def dbg(what: String): Unit = if (sys.env.contains("GRAFT_FIXPOINT_DEBUG"))
      System.err.println(f"[louvain] $what ${(System.nanoTime() - debugT0) / 1e9}%.2fs")
    var cur = g
    var curReads = Seq.empty[DataFrame] // the stored frames cur is built on
    var mapping = g.vertices.select(col("id"), col("id").as("community"))
    var level = 0
    var improved = true
    var lastQ = modularity(g, mapping)
    while (improved && level < maxLevels) {
      dbg(s"level $level start")
      val part = st.cut(louvainLocalMove(cur, gamma = gamma,
        minMovesFrac = minMovesFrac))
      // project: node → its supernode's new community
      val sup = part.select(col("id").as("supernode"),
        col("community").as("nextCommunity"))
      val next = st.cut(mapping.join(sup, mapping("community") === sup("supernode"))
        .select(col("id"), col("nextCommunity").as("community")))
      st.retire(mapping)
      mapping = next
      val q = modularity(g, mapping)
      if (q <= lastQ + 1e-9) improved = false
      else {
        lastQ = q
        val coarse = coarsen(cur, part)
        val edges = st.cut(coarse.edges)
        st.retire(curReads: _*)
        cur = coarse.copy(edges = edges)
        curReads = Seq(edges, part) // the coarse vertices read part
        level += 1
      }
    }
    mapping
  }

  /** Leiden refinement pass (reference `community/ParallelLeidenView.hpp:39-60`,
    * `ParallelLeiden.hpp`; Traag et al. 2019): starting from singletons,
    * nodes may only merge *within* the community the local-moving phase
    * assigned them. Realized Spark-first as a constrained local move on
    * the subgraph of intra-community edges — cross-community edges are
    * dropped, so no move can ever leave its parent community, and every
    * refined community is connected (the Leiden guarantee Louvain lacks). */
  def leidenRefine(g: PropertyGraph, partition: DataFrame,
      gamma: Double = 1.0, minMovesFrac: Double = 0.0): DataFrame = {
    val lbl = partition.select(col("id"), col("community"))
    val intra = g.edges
      .join(lbl.select(col("id").as("src"), col("community").as("cs")), "src")
      .join(lbl.select(col("id").as("dst"), col("community").as("cd")), "dst")
      .filter(col("cs") === col("cd"))
      .select("src", "dst", "weight")
    louvainLocalMove(
      PropertyGraph(intra, directed = false, Some(g.vertices.select("id"))),
      gamma = gamma, minMovesFrac = minMovesFrac)
  }

  /** Leiden (reference `ParallelLeidenView.hpp:39-60`): per level,
    * (1) Louvain-style local moving → partition P, (2) refinement inside
    * P's communities → partition R (every R-community connected),
    * (3) coarsen by R, (4) recurse with the aggregate graph's supernodes
    * *initialized to their P-community* — the aggregate level starts
    * from P, not singletons, which is what lets later levels undo
    * badly-merged Louvain communities. Returns `(id, community)` for the
    * original graph's nodes; stops when γ-modularity stops improving.
    * `minMovesFrac` is threaded to both the local-move and refinement
    * passes (same semantics and same deliberate deviation as
    * [[louvain]]; 0 = exact zero-move convergence). */
  def leiden(g: PropertyGraph, maxLevels: Int = 6,
      gamma: Double = 1.0, minMovesFrac: Double = 5e-3): DataFrame = Fixpoint.scope { st =>
    var cur = g
    var curReads = Seq.empty[DataFrame] // the stored frames cur is built on
    var mapping = g.vertices.select(col("id"), col("id").as("community"))
    var constraint = Option.empty[DataFrame] // supernode → P-community seed
    var best = mapping
    var lastQ = modularity(g, mapping)
    var level = 0
    var improved = true
    while (improved && level < maxLevels) {
      val p = st.cut(louvainLocalMove(cur, gamma = gamma, initPartition = constraint,
        minMovesFrac = minMovesFrac))
      // final labels this level = mapping ∘ p
      val supP = p.select(col("id").as("supernode"), col("community").as("cp"))
      val projected = st.cut(mapping.join(supP, mapping("community") === supP("supernode"))
        .select(col("id"), col("cp").as("community")))
      val q = modularity(g, projected)
      if (q <= lastQ + 1e-9) improved = false
      else {
        lastQ = q
        st.retire(best)
        best = projected
        // refinement: connected sub-communities inside P
        val r = st.cut(leidenRefine(cur, p, gamma, minMovesFrac = minMovesFrac))
        val supR = r.select(col("id").as("supernode"), col("community").as("cr"))
        val nextMapping = st.cut(mapping.join(supR, mapping("community") === supR("supernode"))
          .select(col("id"), col("cr").as("community")))
        // next level: supernode = R-community, seeded with its P-community
        val nextConstraint = st.cut(r.join(p.withColumnRenamed("community", "cp"), "id")
          .select(col("community").as("id"), col("cp").as("community"))
          .distinct())
        val coarse = coarsen(cur, r)
        val edges = st.cut(coarse.edges)
        st.retire(Seq(mapping, p) ++ constraint ++ curReads: _*)
        mapping = nextMapping
        constraint = Some(nextConstraint)
        cur = coarse.copy(edges = edges)
        curReads = Seq(edges, r) // the coarse vertices read r
        level += 1
      }
    }
    // the Leiden guarantee, enforced on the output: split any community
    // that ended up disconnected into its connected components. Internal
    // weight is unchanged and the Σ(tot/2m)² penalty only shrinks, so Q
    // never decreases; component labels (min member id over the
    // intra-community subgraph) are globally unique.
    val lbl = best.select(col("id"), col("community"))
    val intra = g.edges
      .join(lbl.select(col("id").as("src"), col("community").as("cs")), "src")
      .join(lbl.select(col("id").as("dst"), col("community").as("cd")), "dst")
      .filter(col("cs") === col("cd"))
      .select(col("src"), col("dst"), col("weight"))
    val cc = ConnectedComponents.run(PropertyGraph(intra, directed = false))
    lbl.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("community"))
  }

  /** Local partition coverage (reference
    * `centrality/LocalPartitionCoverage.cpp:11-33`): the weighted share
    * of each node's incident edges that stay inside its own community.
    * 0 for nodes with no neighbors. `(id, lpc)` */
  def localPartitionCoverage(g: PropertyGraph, partition: DataFrame): DataFrame = {
    val lbl = partition.select(col("id"), col("community"))
    val agg = g.adjacency
      .join(lbl.select(col("id").as("src"), col("community").as("cs")), "src")
      .join(lbl.select(col("id").as("dst"), col("community").as("cd")), "dst")
      .groupBy(col("src").as("id"))
      .agg(sum(when(col("cs") === col("cd"), col("weight"))
          .otherwise(lit(0.0))).as("inw"),
        sum("weight").as("wdeg"))
    g.vertices.select("id").join(agg, Seq("id"), "left")
      .select(col("id"),
        when(coalesce(col("inw"), lit(0.0)) > 0, col("inw") / col("wdeg"))
          .otherwise(lit(0.0)).as("lpc"))
  }

  /** Permanence centrality (reference
    * `centrality/PermanenceCentrality.cpp:109-157`, Chakraborty et al.):
    * Perm(v) = I(v)/E_max(v) · 1/deg(v) − (1 − C_in(v)) where I = #
    * same-community neighbors, E_max = the strongest single foreign
    * community among the neighbors (1 when there is none — reference
    * line 152), and C_in = clustering among the internal neighbors
    * (0 when I < 2). Wedge/triangle legs reuse the oriented-join shape.
    * Returns `(id, permanence)`. */
  def permanence(g: PropertyGraph, partition: DataFrame): DataFrame = {
    val adj = sym(g).select("src", "dst").filter(col("src") =!= col("dst")).distinct()
    val lbl = partition.select(col("id"), col("community"))
    val tagged = adj
      .join(lbl.select(col("id").as("src"), col("community").as("cSelf")), "src")
      .join(lbl.select(col("id").as("dst"), col("community").as("cNbr")), "dst")
    val strength = tagged.groupBy(col("src").as("id"), col("cSelf"), col("cNbr"))
      .agg(count(lit(1)).as("s"))
    val internal = strength.filter(col("cNbr") === col("cSelf"))
      .select(col("id"), col("s").as("i"))
    val eMax = strength.filter(col("cNbr") =!= col("cSelf"))
      .groupBy("id").agg(max("s").as("emax"))
    val deg = adj.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    // internal triangles through v: connected pairs of internal neighbors
    val intNbr = tagged.filter(col("cNbr") === col("cSelf"))
      .select(col("src").as("v"), col("dst").as("n"))
    val canonical = PropertyGraph.canonicalizeUndirected(
      g.edges.filter(col("src") =!= col("dst"))).select("src", "dst")
    val tri = intNbr.select(col("v"), col("n").as("a"))
      .join(intNbr.select(col("v"), col("n").as("b")), "v")
      .filter(col("a") < col("b"))
      .join(canonical.select(col("src").as("a"), col("dst").as("b")), Seq("a", "b"), "left_semi")
      .groupBy(col("v").as("id")).agg(count(lit(1)).as("tri"))
    g.vertices.select("id")
      .join(internal, Seq("id"), "left")
      .join(eMax, Seq("id"), "left")
      .join(deg, Seq("id"), "left")
      .join(tri, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("i"), lit(0L)) / greatest(coalesce(col("emax"), lit(0L)), lit(1L))
          / greatest(coalesce(col("d"), lit(0L)), lit(1L))
          - (lit(1.0) -
            when(coalesce(col("i"), lit(0L)) < 2, lit(0.0))
              .otherwise(coalesce(col("tri"), lit(0L)) /
                (lit(0.5) * col("i") * (col("i") - 1))))).as("permanence"))
  }

  /** Selective community detection: greedy conductance expansion around
    * a seed (reference `scd/` family — GCE/LFM-style local expansion,
    * `scd/GCE.hpp`): repeatedly absorb the boundary node that minimizes
    * the expanded set's conductance, stop when no candidate improves it
    * or `maxSize` is reached. [[Scd.expandSeedSet]] from the one seed.
    * Returns `(id)` members. */
  def expandSeed(g: PropertyGraph, seed: Long, maxSize: Int = 30): DataFrame =
    Scd.expandSeedSet(g, Seq(seed), maxSize)

  /** Compact community ids to 0..k-1 (reference `Partition::compact`,
    * `structures/Partition.hpp:190`). */
  def compact(partition: DataFrame): DataFrame = {
    // community count can approach n before convergence — rank the id
    // dictionary with the distributed zipRank, not a global window
    val ids = Ranks.zipRank(partition.select("community").distinct(),
      Seq(col("community")), "compactId")
    partition.join(ids, "community")
      .select(col("id"), col("compactId").as("community"))
  }

  /** Rand index between two labelings: the share of node pairs both
    * put together or both put apart (reference
    * `community/AdjustedRandMeasure.hpp:12`). */
  def randIndex(p1: DataFrame, p2: DataFrame): Double = {
    val (n, both, a1, a2) = pairCounts(p1, p2)
    val total = n * (n - 1) / 2
    (total + 2 * both - a1 - a2) / total
  }

  /** Pair-counting sums over the contingency table of two labelings:
    * (n, Σ_cells C(n_ij,2), Σ_rows C(a_i,2), Σ_cols C(b_j,2)) — the
    * shared skeleton of Rand / AdjustedRand / Jaccard (reference
    * `community/AdjustedRandMeasure.hpp:12`, `JaccardMeasure.hpp:18`). */
  private def pairCounts(p1: DataFrame,
      p2: DataFrame): (Double, Double, Double, Double) = Fixpoint.scope { st =>
    val joined = st.persist(p1.select(col("id"), col("community").as("c1"))
      .join(p2.select(col("id"), col("community").as("c2")), "id"))
    val n = joined.count().toDouble
    def s2(cols: Seq[String]) =
      joined.groupBy(cols.map(col): _*).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * (col("c") - 1) / 2)).head.getDouble(0)
    (n, s2(Seq("c1", "c2")), s2(Seq("c1")), s2(Seq("c2")))
  }

  /** Adjusted Rand index (chance-corrected; reference
    * `community/AdjustedRandMeasure.hpp:12` — note the reference returns
    * a *distance* 1 − ARI; this returns the index itself). */
  def adjustedRandIndex(p1: DataFrame, p2: DataFrame): Double = {
    val (n, both, a1, a2) = pairCounts(p1, p2)
    val total = n * (n - 1) / 2
    val expected = a1 * a2 / total
    val maxI = (a1 + a2) / 2
    if (maxI == expected) 1.0 else (both - expected) / (maxI - expected)
  }

  /** Jaccard measure of two partitions: pairs-together-in-both /
    * pairs-together-in-either (reference `community/JaccardMeasure.hpp:18`). */
  def jaccardMeasure(p1: DataFrame, p2: DataFrame): Double = {
    val (_, both, a1, a2) = pairCounts(p1, p2)
    val union = a1 + a2 - both
    if (union == 0) 1.0 else both / union
  }

  /** Normalized mutual information of two labelings, NMI =
    * 2·I(X;Y) / (H(X) + H(Y)) (reference `community/NMIDistance.hpp:21`
    * — the reference returns the distance 1 − NMI). Entropies in nats;
    * identical partitions → 1, independent → 0. Cell/marginal counts are
    * one aggregation each — no driver-side contingency materialization. */
  def nmi(p1: DataFrame, p2: DataFrame): Double = Fixpoint.scope { st =>
    val joined = st.persist(p1.select(col("id"), col("community").as("c1"))
      .join(p2.select(col("id"), col("community").as("c2")), "id"))
    val n = joined.count().toDouble
    nmiOfCells(joined.groupBy("c1", "c2").agg(count(lit(1)).as("nij")), n)
  }

  /** NMI from an explicit contingency table `(c1, c2, nij)` with total
    * mass `n` — shared by [[nmi]] and the incremental [[dynamicNmi]]. */
  private def nmiOfCells(cellsIn: DataFrame, n: Double): Double = Fixpoint.scope { st =>
    val cells = st.persist(cellsIn)
    val rows = cells.groupBy("c1").agg(sum("nij").as("ai"))
    val cols = cells.groupBy("c2").agg(sum("nij").as("bj"))
    val mi = cells.join(rows, "c1").join(cols, "c2")
      .select((col("nij") / n * log(col("nij") * n / (col("ai") * col("bj"))))
        .as("term"))
      .agg(sum("term")).head.getDouble(0)
    def entropy(df: DataFrame, c: String): Double =
      df.select((col(c) / n * log(col(c) / n)).as("t"))
        .agg(-sum(col("t"))).head.getDouble(0)
    val h1 = entropy(rows, "ai")
    val h2 = entropy(cols, "bj")
    if (h1 + h2 == 0.0) 1.0 else 2.0 * mi / (h1 + h2)
  }

  /** DynamicNMIDistance (reference `community/DynamicNMIDistance.hpp`):
    * NMI between a fixed reference partition and an EVOLVING partition,
    * maintained through label-change events. The `(c1, c2)` contingency
    * table is distributed state updated per step with only the changed
    * nodes' −old/+new cell deltas — never rebuilt from the full n-row
    * join — so a step costs O(|changes| + |cells|) regardless of n; NMI
    * is then recomputed from the (community-count-sized) table. Events:
    * `(step, id, community)` reassignments, steps 1..maxStep. Returns
    * one row per step `(step, nmi)`, step 0 = base vs initial.
    *
    * Contract: events carry no intra-step order, so duplicate
    * reassignments of one node within a step are collapsed
    * deterministically (max community wins). If intra-step order is
    * meaningful (last event should win), pre-resolve duplicates
    * upstream — e.g. `max_by(community, seq)` per (step, id) — before
    * calling; the reference DynamicNMIDistance applies events
    * sequentially and would keep the last. */
  def dynamicNmi(base: DataFrame, initial: DataFrame,
      changes: DataFrame): DataFrame = Fixpoint.scope { st =>
    val spark = base.sparkSession
    import spark.implicits._
    val ref = st.cut(base.select(col("id"), col("community").as("c1")))
    val n = ref.count().toDouble
    var labels = st.cut(initial.select(col("id"), col("community").as("c2")))
    var cells = st.cut(ref.join(labels, "id")
      .groupBy("c1", "c2").agg(count(lit(1)).as("nij")))
    val maxStep = changes.agg(coalesce(max("step"), lit(0L))).head.getLong(0)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Double)](
      (0L, nmiOfCells(cells, n)))
    for (t <- 1L to maxStep) {
      // one event per (step, id): duplicate reassignments of the same
      // node within a step would double-apply the −old/+new deltas and
      // fan out the labels left-join, corrupting the table — the event
      // stream carries no intra-step order, so dedup deterministically
      // (max community wins) rather than trusting input uniqueness
      val delta = changes.filter(col("step") === t)
        .groupBy("id").agg(max("community").as("cNew"))
      val moved = st.cut(delta.join(labels, "id").join(ref, "id")
        .select(col("id"), col("c1"), col("c2").as("cOld"), col("cNew")))
      val dec = moved.groupBy(col("c1"), col("cOld").as("c2"))
        .agg((-count(lit(1))).as("nij"))
      val inc = moved.groupBy(col("c1"), col("cNew").as("c2"))
        .agg(count(lit(1)).as("nij"))
      val nextCells = st.cut(cells.unionAll(dec).unionAll(inc)
        .groupBy("c1", "c2").agg(sum("nij").as("nij"))
        .filter(col("nij") > 0))
      val nextLabels = st.cut(labels.join(moved.select("id", "cNew"), Seq("id"), "left")
        .select(col("id"), coalesce(col("cNew"), col("c2")).as("c2")))
      st.retire(cells, labels, moved)
      cells = nextCells
      labels = nextLabels
      out += ((t, nmiOfCells(cells, n)))
    }
    out.toSeq.toDF("step", "nmi")
  }

  /** Two-level map-equation codelength L(M) in bits (reference
    * `community/LouvainMapEquation.hpp:19`, Rosvall–Bergstrom;
    * undirected flow, visit rates p_v = k_v / 2m, exit rates
    * q_m = cut_m / 2m):
    * L = plogp(Q) − 2·Σ_m plogp(q_m) − Σ_v plogp(p_v)
    *     + Σ_m plogp(p_m + q_m),  Q = Σ_m q_m. */
  def mapEquation(g: PropertyGraph, partition: DataFrame): Double = {
    val adj = sym(g).filter(col("src") =!= col("dst"))
    val m2 = adj.agg(sum("weight")).head.getDouble(0)
    val lbl = partition.select(col("id"), col("community"))
    def plogp(c: org.apache.spark.sql.Column) =
      when(c > 0.0, c * log2(c)).otherwise(lit(0.0))
    val deg = adj.groupBy(col("src").as("id")).agg(sum("weight").as("k"))
      .join(lbl, "id")
    val pm = deg.groupBy("community").agg((sum("k") / m2).as("pm"))
    val qm = adj
      .join(lbl.withColumnRenamed("id", "src").withColumnRenamed("community", "cs"), "src")
      .join(lbl.withColumnRenamed("id", "dst").withColumnRenamed("community", "cd"), "dst")
      .filter(col("cs") =!= col("cd"))
      .groupBy(col("cs").as("community")).agg((sum("weight") / m2).as("qm"))
    val mods = pm.join(qm, Seq("community"), "left")
      .select(col("pm"), coalesce(col("qm"), lit(0.0)).as("qm"))
    val agg = mods.agg(sum("qm"), sum(plogp(col("qm"))),
      sum(plogp(col("pm") + col("qm")))).head
    val (bigQ, sQ, sPQ) = (agg.getDouble(0), agg.getDouble(1), agg.getDouble(2))
    val nodeTerm = deg.agg(sum(plogp(col("k") / m2))).head.getDouble(0)
    val plogpQ = if (bigQ > 0) bigQ * math.log(bigQ) / math.log(2.0) else 0.0
    plogpQ - 2.0 * sQ - nodeTerm + sPQ
  }

  /** Louvain-style local move minimizing the map equation (reference
    * `LouvainMapEquation.hpp:19`, `parallelizationStrategy =
    * "synchronous"`: all nodes evaluate moves against STALE community
    * cuts/volumes and apply together — exactly the Spark round model).
    * Candidates are the neighbor communities; ΔL is evaluated in closed
    * form from (vol, cut) aggregates. Same alternating-half-moves
    * oscillation guard and fused moved-count action as
    * [[louvainLocalMove]]. Returns `(id, community)`. */
  def louvainMapEquation(g: PropertyGraph,
      maxRounds: Int = 24): DataFrame = Fixpoint.scope { st =>
    val adj = st.persist(sym(g).filter(col("src") =!= col("dst")))
    val m2 = adj.agg(sum("weight")).head.getDouble(0)
    val ku = st.cut(adj.groupBy(col("src").as("id")).agg(sum("weight").as("ku")))
    def plogp(c: org.apache.spark.sql.Column) =
      when(c > 0.0, c * log2(c)).otherwise(lit(0.0))

    var cur = st.persist(g.vertices.select(col("id"), col("id").as("community"))
      .withColumn("moved", lit(1L)))
    var quietRounds = 0
    var round = 0
    while (round < maxRounds && quietRounds < 2) {
      val labels = cur.select("id", "community")
      val vol = labels.join(ku, Seq("id"), "left")
        .groupBy("community").agg(sum(coalesce(col("ku"), lit(0.0))).as("vol"))
      val cut = adj
        .join(labels.withColumnRenamed("id", "src").withColumnRenamed("community", "cs"), "src")
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("community", "cd"), "dst")
        .filter(col("cs") =!= col("cd"))
        .groupBy(col("cs").as("community")).agg(sum("weight").as("cut"))
      val stats = st.cut(vol.join(cut, Seq("community"), "left")
        .select(col("community"), col("vol"),
          coalesce(col("cut"), lit(0.0)).as("cut")))
      val bigQ = stats.agg(sum("cut")).head.getDouble(0) / m2

      val w2c = adj
        .join(labels.select(col("id").as("dst"), col("community").as("cNbr")), "dst")
        .groupBy(col("src").as("id"), col("cNbr")).agg(sum("weight").as("wuc"))
      val curLbl = labels.withColumnRenamed("community", "cCur")
      // per (node, neighbor community): ΔL of moving there, from stale stats
      // wuA = weight into own community (0 when none)
      val wOwn = w2c.join(curLbl, "id")
        .filter(col("cNbr") === col("cCur"))
        .select(col("id"), col("wuc").as("wuA"))
      val cand = w2c.join(curLbl, "id").join(ku, "id")
        .filter(col("cNbr") =!= col("cCur"))
        .join(wOwn, Seq("id"), "left")
        .na.fill(0.0, Seq("wuA"))
        .join(stats.select(col("community").as("cCur"), col("vol").as("volA"),
          col("cut").as("cutA")), "cCur")
        .join(stats.select(col("community").as("cNbr"), col("vol").as("volC"),
          col("cut").as("cutC")), "cNbr")
        .withColumn("qA", col("cutA") / m2)
        .withColumn("qC", col("cutC") / m2)
        .withColumn("pA", col("volA") / m2)
        .withColumn("pC", col("volC") / m2)
        .withColumn("pu", col("ku") / m2)
        .withColumn("qA2", (col("cutA") - col("ku") + lit(2.0) * col("wuA")) / m2)
        .withColumn("qC2", (col("cutC") + col("ku") - lit(2.0) * col("wuc")) / m2)
        .withColumn("bigQ2",
          lit(bigQ) - col("qA") - col("qC") + col("qA2") + col("qC2"))
        .withColumn("dL",
          (plogp(col("bigQ2")) - plogp(lit(bigQ)))
            - lit(2.0) * (plogp(col("qA2")) + plogp(col("qC2"))
              - plogp(col("qA")) - plogp(col("qC")))
            + (plogp(col("pA") - col("pu") + col("qA2"))
              + plogp(col("pC") + col("pu") + col("qC2"))
              - plogp(col("pA") + col("qA"))
              - plogp(col("pC") + col("qC"))))
      val w = Window.partitionBy("id").orderBy(col("dL").asc, col("cNbr").asc)
      val best = cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("dL") < -1e-12)
        .filter(pmod(xxhash64(col("id"), lit(round)), lit(2)) === 0)
        .select(col("id"), col("cNbr").as("newCommunity"))
      val stepped = labels.join(best, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("newCommunity"), col("community")).as("community"),
          col("newCommunity").isNotNull.cast("long").as("moved"))
      val next = if ((round + 1) % 2 == 0) st.cutLazy(stepped) else st.persist(stepped)
      val moved = next.agg(sum("moved")).head.getLong(0)
      quietRounds = if (moved == 0) quietRounds + 1 else 0
      st.retire(cur, stats)
      cur = next
      round += 1
    }
    cur.select("id", "community")
  }

  /** LFM fitness-based seed expansion (reference `scd/LFMLocal.hpp:27`,
    * Lancichinetti–Fortunato–Kertész): community fitness
    * f(C) = k_in(C) / (k_in(C) + k_out(C))^α; greedily absorb the
    * boundary node with the best fitness gain, then sweep members whose
    * removal raises fitness (the paper's deletion step), until no move
    * improves. Same per-step shape as [[expandSeed]]: one join +
    * aggregate, one-row argmax to the driver. Returns `(id)`. */
  def lfmLocal(g: PropertyGraph, seed: Long, alpha: Double = 1.0,
      maxSize: Int = 50): DataFrame = Fixpoint.scope { st =>
    val spark = g.edges.sparkSession
    import spark.implicits._
    val adj = st.persist(sym(g).filter(col("src") =!= col("dst")))
    val degs = st.persist(adj.groupBy(col("src").as("id")).agg(sum("weight").as("d")))
    val seedDeg = degs.filter(col("id") === seed).head(1)
    var members = Set(seed)
    if (seedDeg.nonEmpty) {
      def fitness(kin: Double, kout: Double): Double =
        if (kin + kout <= 0) 0.0 else kin / math.pow(kin + kout, alpha)
      var kin = 0.0
      var kout = seedDeg(0).getDouble(1)

      // Incremental neighborhood state — ONE Spark job per greedy step.
      // One row per node inside or adjacent to the community:
      // (id, wIn = weight into members\{id}, d = total degree, member).
      // Each step updates the state with ONE node's edge deltas (a pushed
      // filter on the persisted adjacency) instead of re-aggregating the
      // boundary from the full adjacency, and the add/delete decision is
      // one collect of two top-1 rankings over the same lazily-
      // checkpointed state (the collect materializes it). The former code
      // paid ≥2 full-adjacency aggregation jobs per added member (insert
      // ranking + deletion sweep); for integer-valued weights the
      // incremental sums are exact, so the greedy sequence — deletions to
      // exhaustion after each improving add, same tie-breaks — and the
      // resulting member set are identical.
      def deltaOf(v: Long): DataFrame = adj.filter(col("src") === v)
        .groupBy(col("dst").as("id")).agg(sum("weight").as("dw"))
      def applyDelta(prev: DataFrame, v: Long, sign: Double,
          nowMember: Boolean): DataFrame = st.cutLazy(
        prev.join(deltaOf(v), Seq("id"), "full")
          .join(degs.withColumnRenamed("d", "d2"), Seq("id"), "left")
          .select(col("id"),
            (coalesce(col("wIn"), lit(0.0)) +
              lit(sign) * coalesce(col("dw"), lit(0.0))).as("wIn"),
            coalesce(col("d"), col("d2")).as("d"),
            when(col("id") === v, lit(nowMember))
              .otherwise(coalesce(col("member"), lit(false))).as("member"))
          // positive weights: adjacent-to-C ⟺ wIn > 0, so pruning keeps
          // exactly the original candidate set
          .filter(col("member") || col("wIn") > 0)) // the decision collect materializes it
      var state: DataFrame = st.cutLazy(deltaOf(seed)
        .join(degs, Seq("id"), "left")
        .select(col("id"), col("dw").as("wIn"), col("d"), lit(false).as("member"))
        .unionAll(degs.filter(col("id") === seed)
          .select(col("id"), lit(0.0).as("wIn"), col("d"), lit(true).as("member"))))
      // Every step raises the fitness strictly, so no member set repeats
      // and the loop ends, but nothing else bounds it: a run of
      // add/delete pairs can go on for as long as the fitness climbs.
      // Each member normally enters once and leaves at most once, so
      // 4·maxSize steps leave twice that slack; past them the current
      // members are returned.
      val maxSteps = 4 * maxSize
      var steps = 0
      var done = false
      while (!done && steps < maxSteps) {
        steps += 1
        val addTop = state.filter(!col("member"))
          .withColumn("nkin", lit(kin) + lit(2.0) * col("wIn"))
          .withColumn("nkout", lit(kout) + col("d") - lit(2.0) * col("wIn"))
          .orderBy((col("nkin") / pow(col("nkin") + col("nkout"), lit(alpha))).desc,
            col("id").asc)
          .limit(1)
          .select(lit("add").as("act"), col("id"),
            col("nkin").as("ki"), col("nkout").as("ko"))
        val delTop = state.filter(col("member") && col("id") =!= seed)
          .withColumn("rkin", lit(kin) - lit(2.0) * col("wIn"))
          .withColumn("rkout", lit(kout) - col("d") + lit(2.0) * col("wIn"))
          .orderBy((col("rkin") / pow(col("rkin") + col("rkout"), lit(alpha))).desc,
            col("id").asc)
          .limit(1)
          .select(lit("del").as("act"), col("id"),
            col("rkin").as("ki"), col("rkout").as("ko"))
        val top = addTop.unionAll(delTop).collect()
        val f0 = fitness(kin, kout)
        // deletions first: one can only improve right after an add, and the
        // original swept them to exhaustion before the next add — same order
        val del = top.find(r => r.getString(0) == "del" &&
          fitness(r.getDouble(2), r.getDouble(3)) > f0 + 1e-12)
        val add = top.find(r => r.getString(0) == "add" &&
          fitness(r.getDouble(2), r.getDouble(3)) > f0 + 1e-12)
        if (del.isDefined) {
          val r = del.get; val v = r.getLong(1)
          members -= v; kin = r.getDouble(2); kout = r.getDouble(3)
          val next = applyDelta(state, v, -1.0, nowMember = false)
          st.retire(state); state = next
        } else if (members.size < maxSize && add.isDefined) {
          val r = add.get; val v = r.getLong(1)
          members += v; kin = r.getDouble(2); kout = r.getDouble(3)
          val next = applyDelta(state, v, 1.0, nowMember = true)
          st.retire(state); state = next
        } else done = true
      }
    }
    members.toSeq.sorted.toDF("id")
  }

  /** LFK overlapping NMI similarity of two covers `(id, community)`
    * with multi-membership rows (reference
    * `community/OverlappingNMIDistance.hpp:29`, Lancichinetti et al.;
    * the reference returns the distance 1 − NMI). Each community is a
    * binary node indicator; H(X_k|Y_l) is admissible only when
    * h(a)+h(d) ≥ h(b)+h(c) (the LFK constraint), else H(X_k).
    * NMI = 1 − ½·(H(X|Y)/Σ... normalized per side). All overlap counts
    * are one pairwise groupBy — no cover materialized on the driver. */
  def overlappingNmi(c1: DataFrame, c2: DataFrame,
      nNodes: Long): Double = Fixpoint.scope { st =>
    val x = st.persist(c1.select(col("id"), col("community").as("cx")).distinct())
    val y = st.persist(c2.select(col("id"), col("community").as("cy")).distinct())
    val n = nNodes.toDouble
    def h(p: org.apache.spark.sql.Column) =
      when(p > 0.0, -p * log2(p)).otherwise(lit(0.0))
    val sx = x.groupBy("cx").agg(count(lit(1)).as("nx"))
    val sy = y.groupBy("cy").agg(count(lit(1)).as("ny"))
    val ov = x.join(y, "id").groupBy("cx", "cy").agg(count(lit(1)).as("a11"))
    // per (X_k, Y_l): a = |both|, b = |X only|, c = |Y only|, d = |neither|
    val cells = st.cut(ov.join(sx, "cx").join(sy, "cy")
      .withColumn("a", col("a11").cast("double") / n)
      .withColumn("b", (col("nx") - col("a11")).cast("double") / n)
      .withColumn("c", (col("ny") - col("a11")).cast("double") / n)
      .withColumn("d", (lit(n) - col("nx") - col("ny") + col("a11")) / n)
      .withColumn("admissible",
        h(col("a")) + h(col("d")) >= h(col("b")) + h(col("c")))
      // H(X_k|Y_l) = h(a)+h(b)+h(c)+h(d) − h(c+d... ) use joint − H(Y_l)
      .withColumn("hxy",
        h(col("a")) + h(col("b")) + h(col("c")) + h(col("d"))
          - h((col("ny")).cast("double") / n)
          - h((lit(n) - col("ny")) / n))
      .withColumn("hyx",
        h(col("a")) + h(col("b")) + h(col("c")) + h(col("d"))
          - h((col("nx")).cast("double") / n)
          - h((lit(n) - col("nx")) / n)))
    def hOf(sz: org.apache.spark.sql.Column) =
      h(sz.cast("double") / n) + h((lit(n) - sz) / n)
    // side X: per X_k take min admissible H(X_k|Y_l), else H(X_k);
    // normalized by H(X_k); average over k (LFK eq. B.11)
    def side(keyCol: String, sizes: DataFrame, sizeCol: String,
        condCol: String): Double = {
      val mins = cells.filter(col("admissible"))
        .groupBy(keyCol).agg(min(col(condCol)).as("hc"))
      val terms = sizes.join(mins, Seq(keyCol), "left")
        .withColumn("hk", hOf(col(sizeCol)))
        .withColumn("norm",
          when(col("hk") > 0.0,
            least(coalesce(col("hc"), col("hk")), col("hk")) / col("hk"))
            .otherwise(lit(1.0)))
      terms.agg(avg("norm")).head.getDouble(0)
    }
    val hx = side("cx", sx, "nx", "hxy")
    val hy = side("cy", sy, "ny", "hyx")
    1.0 - 0.5 * (hx + hy)
  }

  /** Conductance of a node set (reference `scd/SetConductance.hpp`):
    * cut(S) / min(vol(S), vol(V∖S)). One join + two aggregates. */
  def setConductance(g: PropertyGraph, set: DataFrame): Double = {
    val adj = sym(g).filter(col("src") =!= col("dst"))
    val m2 = adj.agg(sum("weight")).head.getDouble(0)
    val s = set.select(col("id")).distinct()
    val inc = adj.join(s.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
    val vol = inc.agg(coalesce(sum("weight"), lit(0.0))).head.getDouble(0)
    val cut = inc.join(s.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
      .agg(coalesce(sum("weight"), lit(0.0))).head.getDouble(0)
    val denom = math.min(vol, m2 - vol)
    if (denom <= 0) 1.0 else cut / denom
  }

  /** Clique-based seed community (reference `scd/CliqueDetect.hpp`):
    * the largest clique inside N(seed) ∪ {seed} containing the seed —
    * the seed's neighborhood is induced (one semi-join each side), then
    * [[Cliques.cliques]] enumerates k-cliques for k = 4 down to 2 and
    * the first non-empty level wins (ties → lexicographic smallest).
    * Returns the member ids. */
  def cliqueDetect(g: PropertyGraph, seed: Long): DataFrame = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    val nbrs = sym(g).filter(col("src") === seed)
      .select(col("dst").as("id")).distinct()
    val induced = PropertyGraph(
      g.edges.join(nbrs.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(nbrs.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi"),
      directed = false)
    val hasEdges = induced.edges.limit(1).count() > 0
    var best: Seq[Long] = Seq.empty
    if (hasEdges) {
      var k = math.min(4, 5)
      while (best.isEmpty && k >= 2) {
        val cs = Cliques.cliques(induced, k)
        val first = cs.orderBy(cs.columns.map(col): _*).limit(1).collect()
        if (first.nonEmpty)
          best = first(0).toSeq.map(_.asInstanceOf[Long])
        k -= 1
      }
    }
    (seed +: best).distinct.sorted.toDF("id")
  }

  /** Precision / recall / F1 of a detected node set against a ground-
    * truth set (reference `scd/SCDGroundTruthComparison.hpp`). */
  def groundTruthF1(detected: DataFrame, truth: DataFrame): (Double, Double, Double) = {
    val d = detected.select(col("id")).distinct()
    val t = truth.select(col("id")).distinct()
    val nd = d.count().toDouble
    val nt = t.count().toDouble
    val inter = d.join(t, "id").count().toDouble
    val p = if (nd == 0) 0.0 else inter / nd
    val r = if (nt == 0) 0.0 else inter / nt
    val f1 = if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    (p, r, f1)
  }

  /** BFS-ball baseline community (reference `scd/RandomBFS.hpp`): the
    * `size` nodes closest to the seed, hop-ordered with hash-random
    * ties — the reference's random BFS order made deterministic. */
  def randomBfs(g: PropertyGraph, seed: Long, size: Int,
      seedHash: Long = 42): DataFrame = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    val dist = ShortestPaths.bfs(g, Seq(seed).toDF("source"))
    dist.orderBy(col("dist").asc, xxhash64(lit(seedHash), col("id")).asc, col("id").asc)
      .limit(size).select("id")
  }

  /** Triangle-weighted seed expansion — the TCE pattern (reference
    * `scd/TCE.hpp`: expand by triangle-supported edges): re-weight every
    * edge by (1 + its triangle count) via
    * [[Sparsification.triangleScore]] and run the conductance greedy
    * [[expandSeed]] on that graph, so expansion prefers triangle-dense
    * absorption exactly like TCE's score. Composition of two shipped
    * operators — documented as such. */
  def tce(g: PropertyGraph, seed: Long, maxSize: Int = 30): DataFrame = {
    val scored = Sparsification.triangleScore(g)
      .select(col("src"), col("dst"), (lit(1.0) + col("score")).as("weight"))
    expandSeed(PropertyGraph(scored, directed = false), seed, maxSize)
  }

  // ---- local partition evaluation suite ---------------------------------
  // (reference community/LocalPartitionEvaluation.hpp descendants; each
  // returns the unweighted average over non-empty communities, the
  // reference's `getUnweightedAverage`)

  /** Canonical undirected edges labeled with both endpoints' communities:
    * `(src, dst, weight, cs, cd)`. */
  private def labeledEdges(g: PropertyGraph, partition: DataFrame): DataFrame = {
    // adjacency carries both directions; keep each undirected edge once
    // WITHOUT re-summing (canonicalizeUndirected over adjacency would
    // double every weight)
    val e = g.adjacency.filter(col("src") < col("dst"))
    e.join(partition.select(col("id").as("src"), col("community").as("cs")), "src")
      .join(partition.select(col("id").as("dst"), col("community").as("cd")), "dst")
  }

  /** PartitionHubDominance (reference
    * `community/PartitionHubDominance.cpp:8-70`): per community the max
    * INTERNAL degree over (size − 1); singletons score 1. */
  def partitionHubDominance(g: PropertyGraph, partition: DataFrame): Double = {
    val le = labeledEdges(g, partition).filter(col("cs") === col("cd"))
    val intDeg = le.select(col("src").as("id"), col("cs").as("community"))
      .unionAll(le.select(col("dst").as("id"), col("cd").as("community")))
      .groupBy("id", "community").agg(count(lit(1)).as("ideg"))
    val maxDeg = intDeg.groupBy("community").agg(max("ideg").as("maxdeg"))
    val sizes = partition.groupBy("community").agg(count(lit(1)).as("sz"))
    sizes.join(maxDeg, Seq("community"), "left")
      .select(when(col("sz") > 1,
        coalesce(col("maxdeg"), lit(0L)).cast("double") / (col("sz") - 1))
        .otherwise(lit(1.0)).as("v"))
      .agg(avg("v")).head.getDouble(0)
  }

  /** CoverF1Similarity (reference `community/CoverF1Similarity.cpp:9`):
    * for every non-empty community of `cover`, the best F1 against any
    * overlapping community of `refCover` (precision = overlap /
    * |ref community|, recall = overlap / |community| — so
    * F1 = 2·overlap / (|community| + |ref community|)); communities
    * overlapping nothing score 0. Covers are `(id, community)`
    * membership tables (overlapping ⇒ several rows per id). Returns
    * `(community, sz, best_f1)`; the reference's aggregate values are
    * one extra agg (unweighted avg / size-weighted avg / min / max). */
  def coverF1Similarity(cover: DataFrame, refCover: DataFrame): DataFrame = {
    val sizes = cover.groupBy("community").agg(count(lit(1)).as("sz"))
    val refSizes = refCover.groupBy(col("community").as("s"))
      .agg(count(lit(1)).as("rsz"))
    val best = cover.join(refCover.select(col("id"), col("community").as("s")), "id")
      .groupBy("community", "s").agg(count(lit(1)).as("ol"))
      .join(refSizes, "s")
      .join(sizes, "community")
      .groupBy("community")
      .agg(max(lit(2.0) * col("ol") / (col("sz") + col("rsz"))).as("best_f1"))
    sizes.join(best, Seq("community"), "left")
      .select(col("community"), col("sz"),
        coalesce(col("best_f1"), lit(0.0)).as("best_f1"))
  }

  /** CoverHubDominance (reference `community/CoverHubDominance.cpp:8`):
    * per community of an overlapping cover, the max INTERNAL degree
    * (neighbors sharing that community) over (size − 1); singletons
    * score 1, communities with no internal edge 0. Returns
    * `(community, sz, dominance)`. */
  def coverHubDominance(g: PropertyGraph, cover: DataFrame): DataFrame = {
    val intDeg = cover.select(col("id").as("src"), col("community"))
      .join(g.adjacency, "src")
      .join(cover.select(col("id").as("dst"), col("community")),
        Seq("dst", "community"), "left_semi")
      .groupBy(col("src"), col("community")).agg(count(lit(1)).as("ideg"))
      .groupBy("community").agg(max("ideg").as("maxdeg"))
    val sizes = cover.groupBy("community").agg(count(lit(1)).as("sz"))
    sizes.join(intDeg, Seq("community"), "left")
      .select(col("community"), col("sz"),
        when(col("sz") > 1,
          coalesce(col("maxdeg"), lit(0L)).cast("double") / (col("sz") - 1))
          .otherwise(lit(1.0)).as("dominance"))
  }

  /** IntrapartitionDensity (reference
    * `community/IntrapartitionDensity.cpp:4-60`): per community
    * intra-edges / C(size,2); communities with no possible edge score 1.
    * Returns (unweightedAverage, globalRatio = Σintra/Σpossible). */
  def intrapartitionDensity(g: PropertyGraph, partition: DataFrame): (Double, Double) = {
    val intra = labeledEdges(g, partition).filter(col("cs") === col("cd"))
      .groupBy(col("cs").as("community")).agg(count(lit(1)).as("ie"))
    val sizes = partition.groupBy("community").agg(count(lit(1)).as("sz"))
    val per = sizes.join(intra, Seq("community"), "left")
      .withColumn("possible", col("sz") * (col("sz") - 1) / 2)
      .withColumn("v", when(col("possible") > 0,
        coalesce(col("ie"), lit(0L)).cast("double") / col("possible")).otherwise(lit(1.0)))
    val r = per.agg(avg("v"),
      coalesce(sum(coalesce(col("ie"), lit(0L))), lit(0L)).cast("double") /
        greatest(sum("possible"), lit(1L))).head
    (r.getDouble(0), r.getDouble(1))
  }

  /** IsolatedInterpartitionConductance (reference
    * `community/IsolatedInterpartitionConductance.cpp:4-60`): per
    * community cut(c) / min(vol(c), totalVol − vol(c)); average. */
  def isolatedInterpartitionConductance(g: PropertyGraph, partition: DataFrame): Double = {
    val le = labeledEdges(g, partition)
    val cut = le.filter(col("cs") =!= col("cd"))
      .select(col("cs").as("community"), col("weight"))
      .unionAll(le.filter(col("cs") =!= col("cd"))
        .select(col("cd").as("community"), col("weight")))
      .groupBy("community").agg(sum("weight").as("cut"))
    val vol = le.select(col("cs").as("community"), col("weight"))
      .unionAll(le.select(col("cd").as("community"), col("weight")))
      .groupBy("community").agg(sum("weight").as("vol"))
    val totalVol = le.agg(coalesce(sum(col("weight") * 2), lit(0.0))).head.getDouble(0)
    partition.select("community").distinct()
      .join(cut, Seq("community"), "left").join(vol, Seq("community"), "left")
      .withColumn("den", least(coalesce(col("vol"), lit(0.0)),
        lit(totalVol) - coalesce(col("vol"), lit(0.0))))
      .select(when(col("den") > 0,
        coalesce(col("cut"), lit(0.0)) / col("den")).otherwise(lit(0.0)).as("v"))
      .agg(avg("v")).head.getDouble(0)
  }

  /** IsolatedInterpartitionExpansion (reference
    * `community/IsolatedInterpartitionExpansion.hpp`): cut(c) /
    * min(|c|, n − |c|); average. */
  def isolatedInterpartitionExpansion(g: PropertyGraph, partition: DataFrame): Double = {
    val le = labeledEdges(g, partition)
    val cut = le.filter(col("cs") =!= col("cd"))
      .select(col("cs").as("community"), col("weight"))
      .unionAll(le.filter(col("cs") =!= col("cd"))
        .select(col("cd").as("community"), col("weight")))
      .groupBy("community").agg(sum("weight").as("cut"))
    val sizes = partition.groupBy("community").agg(count(lit(1)).as("sz"))
    val n = partition.count()
    sizes.join(cut, Seq("community"), "left")
      .withColumn("den", least(col("sz"), lit(n) - col("sz")).cast("double"))
      .select(when(col("den") > 0,
        coalesce(col("cut"), lit(0.0)) / col("den")).otherwise(lit(0.0)).as("v"))
      .agg(avg("v")).head.getDouble(0)
  }

  /** PartitionFragmentation (reference
    * `community/PartitionFragmentation.cpp:6-70`): per community
    * 1 − (largest piece lying in one connected component)/size; average.
    * The component labels come from the distributed CC. */
  def partitionFragmentation(g: PropertyGraph, partition: DataFrame): Double = {
    val cc = ConnectedComponents.run(g)
    val pieces = partition.join(cc, "id")
      .groupBy("community", "component").agg(count(lit(1)).as("piece"))
    val maxPiece = pieces.groupBy("community").agg(max("piece").as("mp"))
    val sizes = partition.groupBy("community").agg(count(lit(1)).as("sz"))
    sizes.join(maxPiece, Seq("community"), "left")
      .select((lit(1.0) - coalesce(col("mp"), lit(0L)).cast("double") / col("sz")).as("v"))
      .agg(avg("v")).head.getDouble(0)
  }

  /** StablePartitionNodes (reference
    * `community/StablePartitionNodes.cpp:7`): node u is STABLE iff its
    * weighted neighbor support for its own label is positive and
    * strictly exceeds every other label's support (ties → unstable);
    * isolated nodes count stable. One keyed aggregate over labeled
    * adjacency. Returns `(id, stable)`. */
  def stablePartitionNodes(g: PropertyGraph, partition: DataFrame): DataFrame = {
    val lw = g.adjacency
      .join(partition.select(col("id").as("dst"), col("community").as("cn")), "dst")
      .groupBy(col("src").as("id"), col("cn"))
      .agg(sum("weight").as("w"))
    val own = partition.select(col("id"), col("community"))
    val split = lw.join(own, "id")
      .groupBy("id").agg(
        max(when(col("cn") === col("community"), col("w"))).as("ownW"),
        max(when(col("cn") =!= col("community"), col("w"))).as("maxOther"))
    own.join(split, Seq("id"), "left")
      .select(col("id"),
        // no lw rows at all → isolated → stable
        when(col("ownW").isNull && col("maxOther").isNull, lit(true))
          .otherwise(coalesce(col("ownW"), lit(0.0)) > 0 &&
            coalesce(col("ownW"), lit(0.0)) >
              coalesce(col("maxOther"), lit(0.0))).as("stable"))
  }

  /** Graph-structural Rand dissimilarity (reference
    * `community/GraphStructuralRandMeasure.cpp:12-38`): disagreement
    * fraction over CONNECTED node pairs only. */
  def graphStructuralRand(g: PropertyGraph, p1: DataFrame, p2: DataFrame): Double = {
    val e = PropertyGraph.canonicalizeUndirected(
      g.adjacency.filter(col("src") =!= col("dst")))
    val both = e
      .join(p1.select(col("id").as("src"), col("community").as("a1")), "src")
      .join(p1.select(col("id").as("dst"), col("community").as("a2")), "dst")
      .join(p2.select(col("id").as("src"), col("community").as("b1")), "src")
      .join(p2.select(col("id").as("dst"), col("community").as("b2")), "dst")
    val r = both.agg(count(lit(1)).as("m"),
      sum(when((col("a1") === col("a2")) === (col("b1") === col("b2")), 1L)
        .otherwise(0L)).as("agree")).head
    1.0 - r.getLong(1).toDouble / r.getLong(0)
  }

  /** Matching-based coarsening (reference
    * `coarsening/MatchingCoarsening.hpp`): contract each matched pair;
    * unmatched nodes stay singletons. Returns the coarse graph via
    * [[coarsen]]'s partition path. */
  def matchingCoarsen(g: PropertyGraph, matching: DataFrame): PropertyGraph = {
    val rep = matching.select(col("u").as("id"), least(col("u"), col("v")).as("community"))
      .unionAll(matching.select(col("v").as("id"), least(col("u"), col("v")).as("community")))
    val part = g.vertices.select("id")
      .join(rep, Seq("id"), "left")
      .select(col("id"), coalesce(col("community"), col("id")).as("community"))
    coarsen(g, part)
  }
}
