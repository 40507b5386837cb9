package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edge scoring + sparsification (reference:
  * `edgescores/TriangleEdgeScore.cpp`, `sparsification/
  * GlobalThresholdFilter.hpp:18`, `LocalDegreeScore`, `Sparsifiers.hpp`
  * composite pipelines; SURVEY.md §2.2/§2.8/§2.9).
  * Scores are plain columns on the edge table; a sparsifier is
  * score → filter — the canonical projection+filter pipeline, fully
  * Catalyst-visible.
  */
object Sparsification {

  /** Triangles per edge (reference `TriangleEdgeScore`): number of
    * common neighbors of the endpoints. `(src, dst, weight, score)` */
  def triangleScore(g: PropertyGraph): DataFrame = {
    // canonicalize the stored edges (NOT the doubled adjacency view —
    // that would double every weight)
    val e = PropertyGraph.canonicalizeUndirected(
      g.edges.filter(col("src") =!= col("dst")))
    val adj = e.select("src", "dst")
      .unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val cn = adj.select(col("dst").as("u"), col("src").as("w"))
      .join(adj.select(col("src").as("w"), col("dst").as("v")), "w")
      .filter(col("u") < col("v"))
      .groupBy(col("u").as("src"), col("v").as("dst"))
      .agg(count(lit(1)).as("score"))
    e.join(cn, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("weight"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** Jaccard similarity per edge (reference `SCANStructuralSimilarity`
    * family): |N(u)∩N(v)| / |N(u)∪N(v)|. */
  def jaccardScore(g: PropertyGraph): DataFrame = {
    val t = triangleScore(g)
    val deg = g.degrees
    t.join(deg.select(col("id").as("src"), col("degree").as("ds")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("dd")), "dst")
      .select(col("src"), col("dst"), col("weight"),
        (col("score") / (col("ds") + col("dd") - col("score"))).as("score"))
  }

  /** Keep edges with score ≥ (or >) threshold (reference
    * `GlobalThresholdFilter.hpp:18` — the canonical filter). */
  def globalThresholdFilter(scored: DataFrame, threshold: Double,
      above: Boolean = true): PropertyGraph = {
    val kept = scored.filter(
      if (above) col("score") >= threshold else col("score") <= threshold)
    PropertyGraph(kept.select("src", "dst", "weight"), directed = false)
  }

  /** Use a score column as the edge weight (reference
    * `EdgeScoreAsWeight.hpp:16`). */
  def scoreAsWeight(scored: DataFrame): PropertyGraph =
    PropertyGraph(scored.select(col("src"), col("dst"),
      col("score").cast("double").as("weight")), directed = false)

  /** SCAN structural similarity per edge (reference
    * `sparsification/SCANStructuralSimilarityScore.cpp` formula):
    * σ(u,v) = (|N(u)∩N(v)| + 2) / √((d(u)+1)(d(v)+1)) — closed
    * neighborhoods, so the +2 counts u and v themselves. */
  def scanScore(g: PropertyGraph): DataFrame = {
    val t = triangleScore(g)
    val deg = g.degrees
    t.join(deg.select(col("id").as("src"), col("degree").as("ds")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("dd")), "dst")
      .select(col("src"), col("dst"), col("weight"),
        ((col("score") + 2.0) /
          sqrt((col("ds") + 1.0) * (col("dd") + 1.0))).as("score"))
  }

  /** Simmelian overlap per edge (reference
    * `sparsification/SimmelianOverlapScore.cpp`, Nick et al. backbones):
    * rank each node's incident edges by their triangle count (strong
    * ties first, ties by neighbor id), keep the top `maxRank`, and score
    * an edge by how many strong ties its endpoints share. */
  def simmelianOverlapScore(g: PropertyGraph, maxRank: Int = 10): DataFrame = {
    val t = triangleScore(g)
    val incident = t.select(col("src").as("id"), col("dst").as("nbr"), col("score"))
      .unionAll(t.select(col("dst").as("id"), col("src").as("nbr"), col("score")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("score").desc, col("nbr").asc)
    val strong = incident.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxRank)
      .select(col("id"), col("nbr"))
    // overlap = |strong(u) ∩ strong(v)| via the shared strong-tie node
    val overlap = strong.select(col("id").as("u"), col("nbr").as("w2"))
      .join(strong.select(col("id").as("v"), col("nbr").as("w2")), "w2")
      .filter(col("u") < col("v"))
      .groupBy(col("u").as("src"), col("v").as("dst"))
      .agg(count(lit(1)).as("overlap"))
    t.join(overlap, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("weight"),
        coalesce(col("overlap"), lit(0L)).as("score"))
  }

  /** Prefix-Jaccard per edge (reference
    * `edgescores/PrefixJaccardScore.cpp`, fixed-k prefix — documented
    * simplification of the reference's rank-adaptive prefix): Jaccard of
    * the endpoints' top-`maxRank` strongest ties, ties ranked by
    * (triangle score desc, neighbor id). */
  def prefixJaccardScore(g: PropertyGraph, maxRank: Int = 10): DataFrame = {
    val t = triangleScore(g)
    val incident = t.select(col("src").as("id"), col("dst").as("nbr"), col("score"))
      .unionAll(t.select(col("dst").as("id"), col("src").as("nbr"), col("score")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("score").desc, col("nbr").asc)
    val strong = incident.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxRank)
      .select(col("id"), col("nbr"))
    val sizes = strong.groupBy("id").agg(count(lit(1)).as("k"))
    val overlap = strong.select(col("id").as("u"), col("nbr").as("w2"))
      .join(strong.select(col("id").as("v"), col("nbr").as("w2")), "w2")
      .filter(col("u") < col("v"))
      .groupBy(col("u").as("src"), col("v").as("dst"))
      .agg(count(lit(1)).as("ov"))
    t.join(overlap, Seq("src", "dst"), "left")
      .join(sizes.select(col("id").as("src"), col("k").as("ku")), "src")
      .join(sizes.select(col("id").as("dst"), col("k").as("kv")), "dst")
      .select(col("src"), col("dst"), col("weight"),
        (coalesce(col("ov"), lit(0L)) /
          (col("ku") + col("kv") - coalesce(col("ov"), lit(0L)))).as("score"))
  }

  /** Local degree score (reference `LocalDegreeScore.cpp`): for edge
    * (u,v) seen from u, 1 − log(rank of v among N(u) by degree)/log(d(u))
    * — keeps hub-to-hub edges; the per-edge score is the max over both
    * directions. */
  def localDegreeScore(g: PropertyGraph): DataFrame = {
    val e = PropertyGraph.canonicalizeUndirected(
      g.edges.filter(col("src") =!= col("dst")))
    val adj = e.select("src", "dst")
      .unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val deg = g.degrees
    val ranked = adj
      .join(deg.select(col("id").as("dst"), col("degree").as("dNbr")), "dst")
      .join(deg.select(col("id").as("src"), col("degree").as("dSelf")), "src")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("dNbr").desc, col("dst").asc)
    val scored = ranked.withColumn("rank", row_number().over(w))
      .withColumn("s",
        when(col("dSelf") <= 1, lit(1.0))
          .otherwise(lit(1.0) - log(col("rank")) / log(col("dSelf"))))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"), col("s"))
      .groupBy("src", "dst").agg(max("s").as("score"))
    e.join(scored, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("weight"),
        coalesce(col("score"), lit(0.0)).as("score"))
  }

  /** RandomEdgeScore (reference `sparsification/RandomEdgeScore.cpp:14`):
    * a uniform [0, 1) score per canonical edge — the null-model
    * sparsifier every other score is benchmarked against. Deterministic
    * hash draw in place of the RNG, like every generator here. */
  def randomEdgeScore(g: PropertyGraph, seed: Long = 42): DataFrame = {
    val e = PropertyGraph.canonicalizeUndirected(
      g.edges.filter(col("src") =!= col("dst"))).select("src", "dst")
    e.withColumn("score",
      (pmod(xxhash64(lit(seed), col("src"), col("dst")), lit(1000000L)))
        .cast("double") / 1000000.0)
  }

  /** Multiscale / disparity-filter significance (reference
    * `sparsification/MultiscaleScore.cpp:26-67`, Serrano et al.
    * backbones): each endpoint normalizes its incident attribute values
    * (p = a/Σ_u a) and scores the edge 1 − (1−p)^(d(u)−1) — the
    * probability of seeing a weight that large under uniform splitting;
    * the per-edge score is the max over both endpoints. `scored` is any
    * `(src, dst, weight, score)` edge-attribute table. */
  def multiscaleScore(scored: DataFrame): DataFrame = {
    val inc = scored.select(col("src").as("id"), col("dst").as("nbr"),
        col("score").as("a"))
      .unionAll(scored.select(col("dst").as("id"), col("src").as("nbr"),
        col("score").as("a")))
    val stats = inc.groupBy("id").agg(sum("a").as("s"), count(lit(1)).as("d"))
    val p = inc.join(stats, "id")
      .select(least(col("id"), col("nbr")).as("src"),
        greatest(col("id"), col("nbr")).as("dst"),
        (lit(1.0) - pow(lit(1.0) - col("a") / col("s"),
          col("d").cast("double") - lit(1.0))).as("p"))
      .groupBy("src", "dst").agg(max("p").as("ms"))
    scored.join(p, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("weight"),
        coalesce(col("ms"), lit(0.0)).as("score"))
  }

  /** Chance-corrected triangle score (reference
    * `sparsification/ChanceCorrectedTriangleScore.cpp:23-31`):
    * t·(n−2)/((d(u)−1)(d(v)−1)) when the edge closes a triangle, 1 for
    * pendant edges, else 0. */
  def chanceCorrectedTriangleScore(g: PropertyGraph): DataFrame = {
    val n = g.vertices.count()
    val t = triangleScore(g)
    val deg = g.degrees
    t.join(deg.select(col("id").as("src"), col("degree").as("ds")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("dd")), "dst")
      .select(col("src"), col("dst"), col("weight"),
        when(col("score") > 0,
          col("score") * lit((n - 2).toDouble) /
            ((col("ds") - 1.0) * (col("dd") - 1.0)))
          .when(col("ds") === 1 || col("dd") === 1, lit(1.0))
          .otherwise(lit(0.0)).as("score"))
  }

  /** Geometric-mean normalization of an edge attribute (reference
    * `edgescores/GeometricMeanScore.cpp:18-40`): a / √(Σ_u a · Σ_v a)
    * where the sums run over each endpoint's incident attributes;
    * 0 where the attribute is 0. */
  def geometricMeanScore(scored: DataFrame): DataFrame = {
    val inc = scored.select(col("src").as("id"), col("score").as("a"))
      .unionAll(scored.select(col("dst").as("id"), col("score").as("a")))
    val sums = inc.groupBy("id").agg(sum("a").as("s"))
    scored
      .join(sums.select(col("id").as("src"), col("s").as("su")), "src")
      .join(sums.select(col("id").as("dst"), col("s").as("sv")), "dst")
      .select(col("src"), col("dst"), col("weight"),
        when(col("score") > 0,
          col("score") / sqrt(col("su") * col("sv")))
          .otherwise(lit(0.0)).as("score"))
  }

  /** Quadrangles per edge (reference
    * `edgescores/ChibaNishizekiQuadrangleEdgeScore.cpp`): the number of
    * 4-cycles through each edge. A 4-cycle u–x–w–v–u through edge (u,v)
    * is a length-3 path u→x→w→v with x≠v, w≠u, so the count is a triple
    * adjacency join grouped on the endpoints — the same shuffle shape as
    * `LinkPrediction.neighborsMeasure`, restricted to actual edges. */
  def quadrangleScore(g: PropertyGraph): DataFrame = {
    val e = PropertyGraph.canonicalizeUndirected(
      g.edges.filter(col("src") =!= col("dst")))
    val adj = e.select("src", "dst")
      .unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val p3 = adj.select(col("src").as("u"), col("dst").as("x"))
      .join(adj.select(col("src").as("x"), col("dst").as("w")), "x")
      .join(adj.select(col("src").as("w"), col("dst").as("v")), "w")
      .filter(col("x") =!= col("v") && col("w") =!= col("u") &&
        col("u") < col("v"))
      .groupBy(col("u").as("src"), col("v").as("dst"))
      .agg(count(lit(1)).as("quad"))
    e.join(p3, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("weight"),
        coalesce(col("quad"), lit(0L)).as("score"))
  }

  /** Local similarity sparsification exponent (reference
    * `sparsification/LocalSimilarityScore.cpp:25`, Satuluri et al.):
    * each node ranks its incident edges by Jaccard similarity
    * (desc, neighbor-id asc ties) and assigns e = 1 − ln(rank)/ln(deg)
    * (1.0 for degree-1 nodes); the edge keeps the max over its two
    * endpoints. One windowed rank over the symmetric edge list. */
  def localSimilarityScore(g: PropertyGraph): DataFrame = {
    val jac = jaccardScore(g) // (src, dst, weight, score) canonical
    val sym = jac.select(col("src").as("u"), col("dst").as("v"), col("score"))
      .unionAll(jac.select(col("dst").as("u"), col("src").as("v"), col("score")))
    val deg = g.degrees
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("u").orderBy(col("score").desc, col("v").asc)
    val ranked = sym.withColumn("rank", row_number().over(w))
      .join(deg.select(col("id").as("u"), col("degree").as("d")), "u")
      .withColumn("e",
        when(col("d") > 1, lit(1.0) - log(col("rank")) / log(col("d")))
          .otherwise(lit(1.0)))
    ranked.select(least(col("u"), col("v")).as("src"),
        greatest(col("u"), col("v")).as("dst"), col("e"))
      .groupBy("src", "dst").agg(max("e").as("score"))
      .join(g.edges.select("src", "dst", "weight"), Seq("src", "dst"))
      .select("src", "dst", "weight", "score")
  }

  /** Forest-fire edge score (reference
    * `sparsification/ForestFireScore.cpp`): how often an edge is burnt
    * by random fires with forward-burning probability `pf`. All
    * `nFires` fires burn SIMULTANEOUSLY as one keyed frontier loop —
    * per round each (fire, node) ignites a hash-deterministic geometric
    * number of its unburnt neighbors. Deviation from the reference:
    * fixed fire count instead of burning until a target edge ratio (the
    * stop condition would serialize the fires); same score semantics,
    * seed-deterministic. Returns `(src, dst, weight, score)` with raw
    * burn counts. */
  def forestFireScore(g: PropertyGraph, nFires: Int = 64, pf: Double = 0.4,
      seed: Long = 42): DataFrame = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val adj = g.adjacency.select("src", "dst")
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(col("src")).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    adj.count()
    val n = g.vertices.count()
    val ranked = Ranks.zipRank(g.vertices.select("id"), Seq(col("id")), "r")
    val roots = spark.range(nFires.toLong)
      .select(col("id").as("fire"), pmod(xxhash64(lit(seed), col("id")), lit(n)).as("r"))
      .join(ranked, "r").select(col("fire"), col("id"))

    var visited = roots.localCheckpoint(true) // (fire, id)
    var frontier = visited
    var burnt = spark.emptyDataset[(Long, Long, Long)].toDF("fire", "u", "v")
    var round = 0
    var live = frontier.count()
    while (live > 0 && round < 40) {
      val cand = frontier.join(adj, frontier("id") === adj("src"))
        .select(col("fire"), col("id").as("u"), col("dst").as("v"))
        .join(visited.select(col("fire"), col("id").as("v")), Seq("fire", "v"), "left_anti")
      // geometric burn count per (fire, u): floor(ln(U)/ln(1-pf))
      val k = cand.select(col("fire"), col("u")).distinct()
        .withColumn("u01",
          (pmod(xxhash64(lit(seed + round), col("fire"), col("u")), lit(1L << 40)) + 1)
            .cast("double") / (1L << 40).toDouble)
        .withColumn("k", floor(log(col("u01")) / math.log(1.0 - pf)).cast("long"))
      val ordw = Window.partitionBy("fire", "u")
        .orderBy(xxhash64(lit(seed ^ round), col("v")), col("v"))
      val picked = cand.join(k.select("fire", "u", "k"), Seq("fire", "u"))
        .withColumn("rn", row_number().over(ordw))
        .filter(col("rn") <= col("k"))
        .select("fire", "u", "v")
        .localCheckpoint(true)
      burnt = burnt.unionAll(picked).localCheckpoint(true)
      // a node may be burnt via several edges this round — each counts
      // (the reference also burns per-edge), but it enters the frontier once
      val newNodes = picked.select(col("fire"), col("v").as("id")).distinct()
        .join(visited, Seq("fire", "id"), "left_anti")
        .localCheckpoint(true)
      visited = visited.unionAll(newNodes).localCheckpoint(true)
      frontier = newNodes
      live = frontier.count()
      round += 1
    }
    adj.unpersist(false)
    val scores = burnt
      .select(least(col("u"), col("v")).as("src"),
        greatest(col("u"), col("v")).as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).cast("double").as("score"))
    g.edges.select("src", "dst", "weight")
      .join(scores, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), col("weight"),
        coalesce(col("score"), lit(0.0)).as("score"))
  }

  /** Min-max normalize a score column to [lo, hi] (reference
    * `EdgeScoreNormalizer.hpp:17`). */
  def normalizeScore(scored: DataFrame, lo: Double = 0.0, hi: Double = 1.0): DataFrame = {
    val r = scored.agg(min("score"), max("score")).head
    val (mn, mx) = (r.getAs[Any](0).toString.toDouble, r.getAs[Any](1).toString.toDouble)
    val span = if (mx == mn) 1.0 else mx - mn
    scored.withColumn("score",
      lit(lo) + (col("score") - mn) / span * (hi - lo))
  }

  /** Algebraic distance per edge (reference
    * `distance/AlgebraicDistance.hpp:25`, Chen–Safro): `numSystems` test
    * vectors, initialized by a plain integer LCG so the whole
    * computation is exactly reproducible in SQL, smoothed by `iters`
    * Jacobi over-relaxation sweeps x ← (1−ω)·x + ω·(Σ w·x_nbr / Σ w);
    * edge score = ℓ2 distance of the endpoint vectors. Each sweep is one
    * keyed aggregate + join over the adjacency — O(iters) shuffle
    * rounds, nothing driver-side. `(src, dst, weight, score)`. */
  def algebraicDistance(g: PropertyGraph, numSystems: Int = 4,
      iters: Int = 10, omega: Double = 0.5): DataFrame = {
    val e = PropertyGraph.canonicalizeUndirected(
      g.edges.filter(col("src") =!= col("dst")))
    val adj = e.select("src", "dst", "weight")
      .unionAll(e.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
    val sys = 0 until numSystems
    def xc(s: Int) = s"x$s"
    // LCG init in [-0.5, 0.5): ((id·1103515245 + 12345·(s+1)) mod 2^31)/2^31 − 0.5
    var x = g.vertices.select(col("id") +: sys.map { s =>
      ((pmod(col("id") * lit(1103515245L) + lit(12345L * (s + 1)), lit(1L << 31)))
        .cast("double") / lit((1L << 31).toDouble) - lit(0.5)).as(xc(s))
    }: _*).localCheckpoint(true)
    for (it <- 1 to iters) {
      val nbrAvg = adj
        .join(x.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(sys.map(s =>
          (sum(col("weight") * col(xc(s))) / sum(col("weight"))).as("a" + s)).head,
          sys.tail.map(s =>
            (sum(col("weight") * col(xc(s))) / sum(col("weight"))).as("a" + s)): _*)
      val stepped = x.join(nbrAvg, Seq("id"), "left")
        .select(col("id") +: sys.map { s =>
          (col(xc(s)) * (1 - omega) +
            coalesce(col("a" + s), col(xc(s))) * omega).as(xc(s))
        }: _*)
      x = if (it % 3 == 0 || it == iters) stepped.localCheckpoint(true) else stepped
    }
    val dist = sys.map(s => (col("xs" + s) - col("xd" + s)) * (col("xs" + s) - col("xd" + s)))
      .reduce(_ + _)
    e.join(x.select(col("id").as("src") +: sys.map(s => col(xc(s)).as("xs" + s)): _*), "src")
      .join(x.select(col("id").as("dst") +: sys.map(s => col(xc(s)).as("xd" + s)): _*), "dst")
      .select(col("src"), col("dst"), col("weight"), sqrt(dist).as("score"))
  }
}
