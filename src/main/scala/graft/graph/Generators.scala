package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph generators (reference: `include/networkit/generators/`,
  * SURVEY.md §2.9): `spark.range`-based, embarrassingly parallel, with
  * ALL randomness derived from `xxhash64(seed, index)` so the same seed
  * yields the same graph under any partitioning or cluster size
  * (SURVEY.md §4.2.3 — `rand()` is NOT reproducible across
  * repartitioning; hashing the row index is).
  */
object Generators {

  /** uniform [0,1) from a hashed key — deterministic per (seed, keys) */
  private[graft] def u01(seed: Long, keys: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
    (pmod(xxhash64(lit(seed) +: keys: _*), lit(1L << 40)) / lit((1L << 40).toDouble))

  /** Erdős–Rényi G(n, p) (reference `ErdosRenyiGenerator.hpp:20`):
    * Bernoulli coin per unordered pair, pair index decoded from a flat
    * range — n(n-1)/2 candidate rows scanned in parallel, no shuffle.
    * (The reference's skip-sampling enumeration is an equivalent
    * perf trick; at cluster scale the flat scan parallelizes better.) */
  def erdosRenyi(spark: SparkSession, n: Long, p: Double, seed: Long = 42): PropertyGraph = {
    val pairs = spark.range(n * (n - 1) / 2)
      // decode pair index -> (u, v): u = floor((1+sqrt(1+8k))/2), v = k - u(u-1)/2
      .withColumn("u", floor((lit(1.0) + sqrt(lit(1.0) + lit(8.0) * col("id"))) / 2.0).cast("long"))
      .withColumn("v", (col("id") - col("u") * (col("u") - 1) / 2).cast("long"))
    val edges = pairs
      .filter(u01(seed, col("u"), col("v")) < p)
      .select(col("v").as("src"), col("u").as("dst"), lit(1.0).as("weight"))
    PropertyGraph(edges, directed = false,
      Some(spark.range(n).select(col("id"))))
  }

  /** R-MAT (reference `RmatGenerator.hpp:25`): per-edge recursive
    * quadrant choice, all `scale` levels unrolled as column expressions
    * — one narrow projection, no shuffle, no driver loop. */
  def rmat(spark: SparkSession, scale: Int, edgeFactor: Int,
      a: Double = 0.57, b: Double = 0.19, c: Double = 0.19,
      seed: Long = 42): PropertyGraph = {
    val n = 1L << scale
    val m = n * edgeFactor
    var df = spark.range(m).select(col("id").as("e"),
      lit(0L).as("src"), lit(0L).as("dst"))
    for (level <- 0 until scale) {
      val r = u01(seed + level, col("e"))
      df = df.select(
        col("e"),
        (col("src") * 2 + when(r >= a + b, 1L).otherwise(0L)).as("src"),
        (col("dst") * 2 + when((r >= a && r < a + b) || r >= a + b + c, 1L).otherwise(0L)).as("dst"))
    }
    PropertyGraph(
      df.select(col("src"), col("dst"), lit(1.0).as("weight")),
      directed = true, Some(spark.range(n).select(col("id"))))
  }

  /** Watts–Strogatz small world (reference
    * `WattsStrogatzGenerator.hpp:17`): ring lattice with k/2 right
    * neighbors, each endpoint rewired with probability β to a hashed
    * random target. */
  def wattsStrogatz(spark: SparkSession, n: Long, k: Int, beta: Double,
      seed: Long = 42): PropertyGraph = {
    val ring = spark.range(n)
      .select(col("id").as("src"), explode(
        array((1 to k / 2).map(lit(_)): _*)).as("off"))
      .select(col("src"), pmod(col("src") + col("off"), lit(n)).as("dst"), col("off"))
    val rewired = ring.select(
      col("src"),
      when(u01(seed, col("src"), col("off")) < beta,
        pmod(xxhash64(lit(seed + 1), col("src"), col("off")), lit(n)))
        .otherwise(col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    PropertyGraph(
      PropertyGraph.canonicalizeUndirected(
        rewired.withColumn("weight", lit(1.0)))
        .withColumn("weight", lit(1.0)),
      directed = false, Some(spark.range(n).select(col("id"))))
  }

  /** Chung–Lu with power-law expected degrees (reference
    * `ChungLuGenerator.hpp:32`, `PowerlawDegreeSequence.hpp:12`):
    * w_i = (n/(i+1))^(1/(γ-1)), P(i~j) ≈ w_i w_j / Σw capped at 1.
    * Exact pairwise sampling (n² scan) — fine to ~10⁵ nodes; beyond
    * that use degree-bucket blocking (same math, bucketed join). */
  def chungLuPowerlaw(spark: SparkSession, n: Long, gamma: Double = 2.5,
      avgDegreeScale: Double = 1.0, seed: Long = 42): PropertyGraph = {
    val w = spark.range(n).select(col("id"),
      (pow(lit(n.toDouble) / (col("id") + 1), 1.0 / (gamma - 1.0)) * avgDegreeScale).as("w"))
    val totalW = w.agg(sum("w")).head.getDouble(0)
    val pairs = spark.range(n * (n - 1) / 2)
      .withColumn("u", floor((lit(1.0) + sqrt(lit(1.0) + lit(8.0) * col("id"))) / 2.0).cast("long"))
      .withColumn("v", (col("id") - col("u") * (col("u") - 1) / 2).cast("long"))
      .select(col("u"), col("v"))
    val edges = pairs
      .join(w.select(col("id").as("u"), col("w").as("wu")), "u")
      .join(w.select(col("id").as("v"), col("w").as("wv")), "v")
      .filter(u01(seed, col("u"), col("v")) < least(col("wu") * col("wv") / totalW, lit(1.0)))
      .select(col("v").as("src"), col("u").as("dst"), lit(1.0).as("weight"))
    PropertyGraph(edges, directed = false, Some(spark.range(n).select(col("id"))))
  }

  /** Barabási–Albert preferential attachment, EXACT ensemble, via the
    * reference's lazy Batagelj–Brandes resolution
    * (`BarabasiAlbertGenerator.cpp:116` `generateParallel`): node
    * v ∈ [n0, n) draws its i-th endpoint uniformly over the first
    * 2(i + k(v−n0)) + 2n0 cells of the virtual edge-endpoint array —
    * a uniform cell IS a draw ∝ degree. A cell in the seed cycle or at
    * an odd offset (the attaching node of an earlier edge) resolves
    * directly; an even-offset cell holds an earlier TARGET, whose value
    * was itself a uniform draw over the cells before it — so, exactly
    * like the reference, it resolves by REDRAWING uniformly from that
    * strictly smaller prefix. The redraw chain runs as one codegen'd
    * bounded `aggregate` fold (prefix halves per step in expectation;
    * 64 steps ≈ 2⁻⁶⁴ residual, the residual falls back to the cell's
    * attaching node). Self-loops and repeat neighbors redraw with a
    * bumped attempt salt until each node has k DISTINCT earlier
    * neighbors — the reference's `currentEdges` rejection loop, run as
    * a few keyed fixpoint rounds. Hash draws replace the RNG (the
    * deterministic-ensemble deviation every generator here documents).
    * Seed graph: the n0 = k node cycle the reference builds. */
  def barabasiAlbert(spark: SparkSession, n: Long, k: Int, seed: Long = 42): PropertyGraph = {
    require(k >= 1 && n >= k, "need n >= k >= 1")
    val n0 = k.toLong
    val seedLen = 2 * n0
    // draw of row (v, i, attempt): fold over 64 redraw steps; state
    // (b, u) with u = −1 while unresolved, b = current prefix bound
    val resolveExpr = expr(
      s"""aggregate(
         |  sequence(0, 63),
         |  named_struct('b', bound, 'u', CAST(-1 AS BIGINT)),
         |  (acc, r) -> CASE WHEN acc.u >= 0 THEN acc ELSE
         |    named_struct(
         |      'b', pmod(xxhash64($seed, v, i, attempt, r), acc.b),
         |      'u', CASE
         |        WHEN pmod(xxhash64($seed, v, i, attempt, r), acc.b) < $seedLen THEN
         |          CASE
         |            WHEN CAST(pmod(xxhash64($seed, v, i, attempt, r), acc.b) / 2 AS BIGINT) < ${n0 - 1}
         |              THEN CAST(pmod(xxhash64($seed, v, i, attempt, r), acc.b) / 2 AS BIGINT)
         |                   + pmod(pmod(xxhash64($seed, v, i, attempt, r), acc.b), 2)
         |            WHEN pmod(pmod(xxhash64($seed, v, i, attempt, r), acc.b), 2) = 0 THEN 0
         |            ELSE ${n0 - 1}
         |          END
         |        WHEN pmod(pmod(xxhash64($seed, v, i, attempt, r), acc.b) - $seedLen, 2) = 1 THEN
         |          $n0 + CAST((pmod(xxhash64($seed, v, i, attempt, r), acc.b) - $seedLen) / ${2 * k} AS BIGINT)
         |        ELSE CAST(-1 AS BIGINT)
         |      END)
         |    END,
         |  acc -> CASE WHEN acc.u >= 0 THEN acc.u
         |    ELSE $n0 + CAST((acc.b - $seedLen) / ${2 * k} AS BIGINT) END)""".stripMargin)
    var draws = spark.range((n - n0) * k)
      .select((col("id") / k + n0).cast("long").as("v"),
        pmod(col("id"), lit(k.toLong)).as("i"),
        lit(0L).as("attempt"))
      .withColumn("bound", (col("i") + (col("v") - n0) * k) * 2 + seedLen)
      .withColumn("u", resolveExpr)
    // the reference's rejection loop: a draw equal to v or to an
    // earlier draw of the same v redraws with the next attempt salt
    if (n > n0) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("v", "u").orderBy("i", "attempt")
      var round = 0
      var nBad = 1L
      while (nBad > 0 && round < 64) {
        val marked = draws
          .withColumn("dup", row_number().over(w) > 1)
          .withColumn("bad", col("dup") || col("u") === col("v"))
          .localCheckpoint(true)
        nBad = marked.filter(col("bad")).count()
        if (nBad > 0)
          draws = marked
            .withColumn("attempt",
              when(col("bad"), col("attempt") + 1).otherwise(col("attempt")))
            .withColumn("u",
              when(col("bad"), resolveExpr).otherwise(col("u")))
            .drop("dup", "bad")
        else draws = marked.drop("dup", "bad")
        round += 1
      }
    }
    val seedEdges = spark.range(n0).select(
      when(col("id") < n0 - 1, col("id")).otherwise(lit(0L)).as("src"),
      when(col("id") < n0 - 1, col("id") + 1).otherwise(lit(n0 - 1)).as("dst"),
      lit(1.0).as("weight"))
    val baEdges = draws.select(col("u").as("src"), col("v").as("dst"),
      lit(1.0).as("weight")) // u < v always: all cells refer to earlier nodes
    PropertyGraph(seedEdges.unionAll(baEdges), directed = false,
      Some(spark.range(n).select(col("id"))))
  }

  /** Stochastic block model (reference `StochasticBlockmodel.hpp:18`):
    * k blocks, intra-block probability pIn, inter pOut. */
  def stochasticBlockModel(spark: SparkSession, n: Long, k: Int,
      pIn: Double, pOut: Double, seed: Long = 42): PropertyGraph = {
    val pairs = spark.range(n * (n - 1) / 2)
      .withColumn("u", floor((lit(1.0) + sqrt(lit(1.0) + lit(8.0) * col("id"))) / 2.0).cast("long"))
      .withColumn("v", (col("id") - col("u") * (col("u") - 1) / 2).cast("long"))
    val edges = pairs
      .withColumn("p",
        when(pmod(col("u"), lit(k.toLong)) === pmod(col("v"), lit(k.toLong)), pIn)
          .otherwise(pOut))
      .filter(u01(seed, col("u"), col("v")) < col("p"))
      .select(col("v").as("src"), col("u").as("dst"), lit(1.0).as("weight"))
    PropertyGraph(edges, directed = false, Some(spark.range(n).select(col("id"))))
  }

  /** Clustered random graph (reference
    * `generators/ClusteredRandomGraphGenerator.hpp:24`): every node
    * draws a uniform cluster in [0, k); pairs connect with pIntra
    * inside a cluster, pInter across — the SBM with RANDOM (not
    * id-striped) assignment, returning the planted ground truth.
    * `(graph, partition)`; deterministic in seed. */
  def clusteredRandom(spark: SparkSession, n: Long, k: Int,
      pIntra: Double, pInter: Double, seed: Long = 42)
      : (PropertyGraph, DataFrame) = {
    val part = spark.range(n).select(col("id"),
      pmod(xxhash64(lit(seed ^ 0xc175L), col("id")), lit(k.toLong)).as("community"))
    val pairs = spark.range(n * (n - 1) / 2)
      .withColumn("u", floor((lit(1.0) + sqrt(lit(1.0) + lit(8.0) * col("id"))) / 2.0).cast("long"))
      .withColumn("v", (col("id") - col("u") * (col("u") - 1) / 2).cast("long"))
      .select("u", "v")
    val edges = pairs
      .join(part.select(col("id").as("u"), col("community").as("cu")), "u")
      .join(part.select(col("id").as("v"), col("community").as("cv")), "v")
      .withColumn("p", when(col("cu") === col("cv"), pIntra).otherwise(pInter))
      .filter(u01(seed, col("u"), col("v")) < col("p"))
      .select(col("v").as("src"), col("u").as("dst"), lit(1.0).as("weight"))
    (PropertyGraph(edges, directed = false,
      Some(spark.range(n).select(col("id")))), part)
  }

  /** Synthetic clustering generators (reference
    * `ClusteringGenerator.hpp:20`): one-block / singleton / hashed
    * random k-partition of a graph's vertices. */
  def clusteringOne(g: PropertyGraph): DataFrame =
    g.vertices.select(col("id"), lit(0L).as("community"))
  def clusteringSingleton(g: PropertyGraph): DataFrame =
    g.vertices.select(col("id"), col("id").as("community"))
  def clusteringRandom(g: PropertyGraph, k: Int, seed: Long = 42): DataFrame =
    g.vertices.select(col("id"),
      pmod(xxhash64(lit(seed), col("id")), lit(k.toLong)).as("community"))

  /** Local Havel–Hakimi + hash-seeded edge switching for one community's
    * internal degree sequence — runs INSIDE a flatMapGroups task, plain
    * Scala (the reference's EdgeSwitchingMarkovChainGenerator is the
    * same realize-then-randomize shape). Members must be pre-sorted by
    * id; degrees are capped to size−1 and the sum made even (decrement
    * the largest >1, else drop one from the largest ≥1) before HH, like
    * the reference's parity fix in generateIntraClusterGraph
    * (`LFRGenerator.cpp:153`). Returns the realized edge list. */
  private def localDegreeRealize(members: Vector[(Long, Int)],
      seed: Long): Vector[(Long, Long)] = {
    val cap = members.length - 1
    var degs = members.map { case (id, d) => (id, math.min(d, cap)) }
    if (degs.map(_._2.toLong).sum % 2 != 0) {
      val i = degs.zipWithIndex.maxBy { case ((id, d), _) => (d, -id) }._2
      degs = degs.updated(i, (degs(i)._1, degs(i)._2 - 1))
    }
    // Havel–Hakimi (greedy, exact for graphical sequences; unrealizable
    // leftovers dropped like the reference's disabled-check generate())
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var rem = degs.filter(_._2 > 0).sortBy(d => (-d._2, d._1))
    while (rem.nonEmpty) {
      val (id, d) = rem.head
      val take = math.min(d, rem.length - 1)
      val targets = rem.tail.take(take)
      out ++= targets.map(t => (math.min(id, t._1), math.max(id, t._1)))
      rem = (targets.map(t => (t._1, t._2 - 1)) ++ rem.tail.drop(take))
        .filter(_._2 > 0).sortBy(t => (-t._2, t._1))
    }
    // degree-preserving randomization: 10·m hash-seeded switch attempts
    if (out.length >= 2) {
      val present = scala.collection.mutable.HashSet[(Long, Long)](out.toSeq: _*)
      var draw = 0L
      def nextIdx(bound: Int): Int = {
        draw += 1
        java.lang.Long.remainderUnsigned(xxhash64scala(seed, draw), bound.toLong).toInt
      }
      var attempts = 10 * out.length
      while (attempts > 0) {
        val i = nextIdx(out.length); val j = nextIdx(out.length)
        if (i != j) {
          val (a, b) = out(i); val (c, d) = out(j)
          val e1 = (math.min(a, d), math.max(a, d))
          val e2 = (math.min(c, b), math.max(c, b))
          if (a != d && c != b && !present(e1) && !present(e2) && e1 != e2) {
            present -= out(i); present -= out(j)
            present += e1; present += e2
            out(i) = e1; out(j) = e2
          }
        }
        attempts -= 1
      }
    }
    out.toVector
  }

  /** LFR benchmark graph with planted communities (reference
    * `generators/LFRGenerator.hpp:28`), following the reference's own
    * pipeline stage for stage:
    *   1. power-law degrees (exponent τ1, inverse-CDF per node);
    *   2. internal degrees = stochastic rounding of (1−μ)·deg with a
    *      minimum of 1 (`LFRGenerator.cpp:96` setMu);
    *   3. power-law community sizes drawn until they cover n, the
    *      remainder added to the smallest (`generatePowerlawCommunitySizeSequence`);
    *   4. node → community assignment under the reference's constraint
    *      size(c) > internalDegree(u), by rounds of hash-random
    *      node↔slot pairing (rejected nodes re-pair next round; after
    *      the rounds budget the stragglers take any open slot and their
    *      internal degree is capped to size−1 — the same cap the
    *      reference applies inside generateIntraClusterGraph);
    *   5. one configuration-model graph PER community — Havel–Hakimi
    *      realization + hash-seeded edge switching, parity fixed like
    *      the reference — run as a `flatMapGroups` over communities
    *      (each community is ≤ maxComm nodes by construction, so the
    *      parallelism axis is the thousands of communities, not the
    *      nodes of one);
    *   6. the inter-community graph on the residual external degrees
    *      deg − realized_internal: distributed stub matching in rounds —
    *      pair hash-ranked stubs, accept only simple inter-community
    *      edges, recycle rejected stubs with a fresh hash — which IS the
    *      reference's rewiring loop re-expressed without a mutable
    *      residual graph; stubs still unmatched after the rounds budget
    *      are dropped, exactly like the reference's
    *      maxIntraRemovelAttempts bail-out (`LFRGenerator.cpp:263`).
    *
    * Per-node mixing compliance (the property the old Chung–Lu coupling
    * could not guarantee): every node's realized internal degree equals
    * its drawn internal degree exactly whenever the community sequence
    * is graphical — HH + switching preserve degrees — and external
    * degrees are exact up to the dropped-stub tail. `LfrSpec` gates
    * both. Returns the graph and the planted partition `(id, community)`. */
  def lfr(spark: SparkSession, n: Long, mu: Double, tau1: Double = 2.5,
      tau2: Double = 1.5, minDeg: Int = 5, maxDeg: Int = 50,
      minComm: Int = 20, maxComm: Int = 100,
      seed: Long = 42): (PropertyGraph, DataFrame) = Fixpoint.scope { st =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 1. power-law inverse-CDF degree sample
    def plaw(u: org.apache.spark.sql.Column, a: Double, b: Double, tau: Double) = {
      val e = 1.0 - tau
      pow(lit(math.pow(a, e)) + u * lit(math.pow(b, e) - math.pow(a, e)), 1.0 / e)
    }
    // 2. internal degree: stochastic rounding of (1−μ)·deg, min 1
    val nodes = st.cut(spark.range(n)
      .select(col("id"),
        plaw(u01(seed, lit(1L), col("id")), minDeg, maxDeg, tau1)
          .cast("long").as("deg"))
      .withColumn("intT", col("deg") * (1.0 - mu))
      .withColumn("intDeg", greatest(lit(1L),
        (floor(col("intT")) + when(u01(seed + 5, col("id")) <
          col("intT") - floor(col("intT")), 1L).otherwise(0L)).cast("long")))
      .select(col("id"), col("deg"), least(col("intDeg"), col("deg")).as("intDeg")))
    // 3. community sizes: draw until the next one doesn't fit, pad the
    //    smallest with the remainder (reference semantics)
    val sizes = {
      val buf = scala.collection.mutable.ArrayBuffer[Long]()
      var sum = 0L
      var i = 0L
      var done = false
      val e = 1.0 - tau2
      while (!done) {
        val u = ((xxhash64scala(seed + 1, i) % (1L << 40)).abs + 0.5) / (1L << 40).toDouble
        val s = math.pow(math.pow(minComm, e) +
          u * (math.pow(maxComm, e) - math.pow(minComm, e)), 1.0 / e).toLong
        if (sum + s <= n) { buf += s; sum += s; i += 1 }
        else {
          if (buf.isEmpty) { buf += n; sum = n }
          else {
            val j = buf.zipWithIndex.minBy(_._1)._2
            buf(j) += n - sum
          }
          done = true
        }
      }
      buf.toVector
    }
    val commDf = sizes.zipWithIndex
      .map { case (s, c) => (c.toLong, s) }.toDF("community", "size")
    // 4. constrained assignment by rounds of node↔slot hash pairing
    val slots0 = commDf
      .select(col("community"), col("size"),
        explode(sequence(lit(1L), col("size"))).as("slot"))
    var unassigned = st.cut(nodes.select("id", "intDeg"))
    var openSlots = st.cut(slots0)
    var assignedAcc = st.cut(Seq.empty[(Long, Long, Long)].toDF("id", "community", "size"))
    var roundA = 0
    val maxRoundsA = 25
    var nLeft = unassigned.count()
    while (nLeft > 0 && roundA < maxRoundsA) {
      val rSeed = seed + 100 + roundA
      // rank↔rank pairing needs one CONSISTENT global order per side —
      // distributed sort + zipWithIndex (Ranks), not a global window
      val nodeRank = Ranks.zipRank(unassigned,
        Seq(xxhash64(lit(rSeed), col("id")), col("id")), "r", base = 1L)
      val slotRank = Ranks.zipRank(openSlots,
        Seq(xxhash64(lit(rSeed + 1), col("community"), col("slot")),
          col("community"), col("slot")), "r", base = 1L)
      val pairedA = nodeRank.join(slotRank, "r")
      // the reference's constraint: community must be STRICTLY larger
      // than the node's internal degree; in the final round stragglers
      // take any slot (their intDeg is capped by step 5's size−1 cap)
      val ok = if (roundA == maxRoundsA - 1) pairedA
        else pairedA.filter(col("size") > col("intDeg"))
      val newAssign = st.cut(ok.select(col("id"), col("community"), col("size")))
      val acc2 = st.cut(assignedAcc.unionAll(newAssign))
      val un2 = st.cut(unassigned.join(newAssign.select("id"), Seq("id"), "left_anti"))
      val sl2 = st.cut(openSlots.join(
        ok.select(col("community"), col("slot")), Seq("community", "slot"),
        "left_anti"))
      st.retire(assignedAcc, unassigned, openSlots, newAssign)
      assignedAcc = acc2; unassigned = un2; openSlots = sl2
      nLeft = unassigned.count()
      roundA += 1
    }
    val assigned = st.cut(nodes.join(assignedAcc.select("id", "community"), "id"))
    val planted = assigned.select(col("id"), col("community"))
    // 5. per-community configuration model (HH + switching) — the
    //    parallelism axis is the community count
    val intra = st.cut(assigned.select(col("community"), col("id"),
        col("intDeg").cast("int").as("d"))
      .as[(Long, Long, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (c, it) =>
        val members = it.map(t => (t._2, t._3)).toVector.sortBy(_._1)
        localDegreeRealize(members, seed + 7 + c).iterator
      }
      .toDF("src", "dst"))
    // 6. external degrees from what was actually realized internally
    val realizedInt = intra.select(col("src").as("id"))
      .unionAll(intra.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("ri"))
    val ext0 = assigned.join(realizedInt, Seq("id"), "left")
      .select(col("id"), col("community"),
        (col("deg") - coalesce(col("ri"), lit(0L))).as("ext"))
      .filter(col("ext") > 0)
    // global parity: drop one stub from the max-ext node if the sum is odd
    val extSum = ext0.agg(coalesce(sum("ext"), lit(0L))).head.getLong(0)
    val ext = if (extSum % 2 == 0) ext0 else {
      val fixId = ext0.orderBy(col("ext").desc, col("id")).limit(1)
        .head.getLong(0)
      ext0.withColumn("ext",
        when(col("id") === fixId, col("ext") - 1).otherwise(col("ext")))
        .filter(col("ext") > 0)
    }
    // distributed stub matching with rejection-recycling (the rewiring
    // loop re-expressed): pair hash-ranked stubs, keep simple
    // inter-community edges, recycle the rest with a fresh hash
    var stubs = st.cut(ext.select(col("id"), col("community"),
        explode(sequence(lit(1L), col("ext"))).as("k")))
    var interAcc = st.cut(Seq.empty[(Long, Long)].toDF("src", "dst"))
    var roundB = 0
    val maxRoundsB = 30
    var nStubs = stubs.count()
    while (nStubs > 1 && roundB < maxRoundsB) {
      val rSeed = seed + 500 + roundB
      val ranked = Ranks.zipRank(stubs,
        Seq(xxhash64(lit(rSeed), col("id"), col("k")), col("id"), col("k")),
        "r", base = 0L)
      val l = ranked.filter(col("r") % 2 === 0).select(
        expr("r div 2").as("p"), col("id").as("u"),
        col("community").as("cu"), col("k").as("ku"))
      val rr = ranked.filter(col("r") % 2 === 1).select(
        expr("r div 2").as("p"), col("id").as("v"),
        col("community").as("cv"), col("k").as("kv"))
      val cand = l.join(rr, "p")
        .filter(col("u") =!= col("v") && col("cu") =!= col("cv"))
        .select(col("p"), col("u"), col("ku"), col("v"), col("kv"),
          least(col("u"), col("v")).as("src"),
          greatest(col("u"), col("v")).as("dst"))
      // simple graph: one pair per (src,dst) this round, none already kept
      val kept = st.cut(cand.withColumn("rn",
          row_number().over(Window.partitionBy("src", "dst").orderBy("p")))
        .filter(col("rn") === 1)
        .join(interAcc, Seq("src", "dst"), "left_anti"))
      val acc2 = st.cut(interAcc.unionAll(kept.select("src", "dst")))
      val used = kept.select(col("u").as("id"), col("ku").as("k"))
        .unionAll(kept.select(col("v").as("id"), col("kv").as("k")))
      val stubs2 = st.cut(stubs.join(used, Seq("id", "k"), "left_anti"))
      st.retire(interAcc, stubs, kept)
      interAcc = acc2; stubs = stubs2
      nStubs = stubs.count()
      roundB += 1
    }
    // leftover stubs are dropped, like the reference's rewiring bail-out
    val edges = intra.unionAll(interAcc).withColumn("weight", lit(1.0))
    (PropertyGraph(edges, directed = false,
      Some(spark.range(n).select(col("id")))), planted)
  }

  /** Hyperbolic random graph, threshold (T = 0) variant (reference
    * `generators/HyperbolicGenerator.hpp:24`, Krioukov et al.): node i
    * gets polar coordinates (rᵢ, θᵢ) — θ uniform, r from the
    * quasi-uniform hyperbolic radial CDF with dispersion α = (γ−1)/2 —
    * and i~j iff their hyperbolic distance ≤ R. Power-law degrees with
    * exponent γ emerge from the geometry.
    *
    * Scale path (the quadtree-equivalent of the reference's
    * `generators/quadtree/`, in the band formulation of von Looz et
    * al.): radius split into `nBands` annuli; for each ordered band
    * pair the loosest angular window Δθmax is computed from the inner
    * radii (the hyperbolic cosine law is monotone in both radii, so no
    * connecting pair escapes it); each node explodes into only the
    * angular buckets its window covers and candidates meet in an
    * equi-join on (band-pair, bucket). Work is O(candidates), never
    * n²/2 — the same predicate the quadtree prunes. Output is
    * bit-identical to [[hyperbolicPairwise]] (same coordinates, same
    * predicate). */
  def hyperbolic(spark: SparkSession, n: Long, radius: Double,
      gamma: Double = 3.0, seed: Long = 42, nBands: Int = 16): PropertyGraph = {
    val nodes = hyperbolicCoords(spark, n, radius, gamma, seed)
    val edges = hyperbolicEdgesFromCoords(spark, nodes, radius, nBands)
      .select(col("src"), col("dst"), lit(1.0).as("weight"))
    PropertyGraph(edges, directed = false,
      Some(spark.range(n).select(col("id"))))
  }

  /** Banded candidate join over explicit coordinates `(id, theta, r)` →
    * canonical `(src, dst)` edges of the threshold predicate. Shared by
    * [[hyperbolic]] and [[dynamicHyperbolic]] (which re-evaluates it on
    * moved coordinates each step). */
  private[graft] def hyperbolicEdgesFromCoords(spark: SparkSession,
      nodes: DataFrame, radius: Double, nBands: Int): DataFrame =
    hyperbolicCandidates(spark, nodes, radius, nBands)
      .filter(cosh(col("ru")) * cosh(col("rv")) -
        sinh(col("ru")) * sinh(col("rv")) * cos(col("dTheta")) <=
        math.cosh(radius))
      .select(least(col("u"), col("v")).as("src"),
        greatest(col("u"), col("v")).as("dst"))
      .distinct()

  /** All node pairs within hyperbolic distance `cutoff` of each other
    * (plus loose-bound false positives the caller's predicate filters),
    * as `(u, v, ru, rv, dTheta)` — the band/bucket candidate join
    * shared by the T = 0 threshold filter and the T > 0 Fermi–Dirac
    * sampler (which passes an ε-tail cutoff > R). */
  private[graft] def hyperbolicCandidates(spark: SparkSession,
      nodes: DataFrame, cutoff: Double, nBands: Int): DataFrame = {
    val radius = cutoff
    val coshR = math.cosh(radius)
    val bandW = radius / nBands
    val withBand = nodes.withColumn("band",
      least(lit(nBands - 1), floor(col("r") / bandW)).cast("int"))
    // driver-side band-pair windows from the inner radii (loosest bound);
    // f >= 1 → no pair across these bands can connect → pruned entirely
    val bandPairs = for {
      bu <- 0 until nBands; bv <- 0 to bu
      r1 = math.max(bu * bandW, 1e-12); r2 = math.max(bv * bandW, 1e-12)
      f = (math.cosh(r1) * math.cosh(r2) - coshR) / (math.sinh(r1) * math.sinh(r2))
      dmax = if (f <= -1.0) math.Pi else if (f >= 1.0) 0.0 else math.acos(f)
      if dmax > 0.0
    } yield {
      val nb = math.min(4096, math.max(1, math.ceil(2 * math.Pi / dmax).toInt))
      (bu, bv, dmax, 2 * math.Pi / nb, nb.toLong)
    }
    import spark.implicits._
    val pairDf = bandPairs.toDF("bu", "bv", "dmax", "w", "nb")
    val uSide = withBand.select(col("id").as("u"), col("theta").as("tu"),
        col("r").as("ru"), col("band").as("bu"))
      .join(pairDf, "bu")
      .select(col("u"), col("tu"), col("ru"), col("bu"), col("bv"), col("nb"),
        explode(sequence(
          floor((col("tu") - col("dmax")) / col("w")).cast("long"),
          floor((col("tu") + col("dmax")) / col("w")).cast("long"))).as("k"))
      .select(col("u"), col("tu"), col("ru"), col("bu"), col("bv"),
        pmod(col("k"), col("nb")).as("bucket"))
    val vSide = withBand.select(col("id").as("v"), col("theta").as("tv"),
        col("r").as("rv"), col("band").as("bv"))
      .join(pairDf, "bv")
      .select(col("v"), col("tv"), col("rv"), col("bu"), col("bv"),
        floor(col("tv") / col("w")).cast("long").as("bucket"))
    uSide.join(vSide, Seq("bu", "bv", "bucket"))
      .filter(col("u") =!= col("v"))
      .withColumn("dTheta", abs(col("tu") - col("tv")))
      .withColumn("dTheta",
        when(col("dTheta") > math.Pi, lit(2 * math.Pi) - col("dTheta"))
          .otherwise(col("dTheta")))
      .select("u", "v", "ru", "rv", "dTheta")
  }

  /** Hyperbolic random graph at temperature T > 0 (the general RHG of
    * the reference `generators/HyperbolicGenerator.hpp:29`, Krioukov et
    * al.): pair (u, v) at hyperbolic distance d connects with
    * Fermi–Dirac probability 1 / (1 + exp((d − R) / (2T))); T → 0
    * degenerates to the threshold graph [[hyperbolic]]. Scale shape:
    * the same band/bucket candidate join, widened to the ε-tail cutoff
    * R' = R + 2T·ln(1/ε − 1) beyond which p < ε — pairs past R' are
    * pruned deterministically (documented deviation from the quadtree
    * sampler: expected missing edges < ε·n²/2, ≪ 1 at ε = 1e-9), and
    * the Bernoulli draw is the usual deterministic (seed, u, v) hash. */
  def hyperbolicT(spark: SparkSession, n: Long, radius: Double,
      temperature: Double, gamma: Double = 3.0, seed: Long = 42,
      nBands: Int = 16, eps: Double = 1e-9): PropertyGraph = {
    require(temperature > 0, "use hyperbolic() for the T = 0 threshold graph")
    val cutoff = radius + 2 * temperature * math.log(1 / eps - 1)
    val nodes = hyperbolicCoords(spark, n, radius, gamma, seed)
    val cand = hyperbolicCandidates(spark, nodes, cutoff, nBands)
      .select(least(col("u"), col("v")).as("src"),
        greatest(col("u"), col("v")).as("dst"),
        col("ru"), col("rv"), col("dTheta"))
      .dropDuplicates("src", "dst")
    // clamp to the acosh domain: near-coincident points can dip below 1
    val d = acosh(greatest(lit(1.0),
      cosh(col("ru")) * cosh(col("rv")) -
        sinh(col("ru")) * sinh(col("rv")) * cos(col("dTheta"))))
    val p = lit(1.0) / (lit(1.0) + exp((d - radius) / (2 * temperature)))
    val edges = cand
      .filter(u01(seed ^ 0x51ed, col("src"), col("dst")) < p)
      .select(col("src"), col("dst"), lit(1.0).as("weight"))
    PropertyGraph(edges, directed = false,
      Some(spark.range(n).select(col("id"))))
  }

  /** Dynamic hyperbolic generator (reference
    * `generators/DynamicHyperbolicGenerator.hpp:18`): per step a hashed
    * `moveFraction` of the nodes drifts — angular rotation plus a
    * radius perturbation clamped to (0, R], both deterministic in
    * (seed, step, id) — and the threshold graph is re-evaluated on the
    * moved coordinates through the same banded candidate join as the
    * static scale path. Emitted events: step 0 = every initial edge as
    * an addition; step t>0 = the symmetric difference vs step t−1
    * (EDGE_ADDITION / EDGE_REMOVAL). Output `(step, type, u, v)`,
    * u < v canonical. */
  def dynamicHyperbolic(spark: SparkSession, n: Long, radius: Double,
      steps: Int, moveFraction: Double = 0.3, gamma: Double = 3.0,
      seed: Long = 42, nBands: Int = 16): DataFrame = {
    import spark.implicits._
    def coordsAt(t: Int): DataFrame =
      dynamicHyperbolicCoords(spark, n, radius, t, moveFraction, gamma, seed)
    var prev = hyperbolicEdgesFromCoords(spark, coordsAt(0), radius, nBands)
      .localCheckpoint(true)
    var events = prev.select(lit(0L).as("step"), lit("EDGE_ADDITION").as("type"),
      col("src").as("u"), col("dst").as("v"))
    for (t <- 1 to steps) {
      val cur = hyperbolicEdgesFromCoords(spark, coordsAt(t), radius, nBands)
        .localCheckpoint(true)
      val adds = cur.except(prev).select(lit(t.toLong).as("step"),
        lit("EDGE_ADDITION").as("type"), col("src").as("u"), col("dst").as("v"))
      val rems = prev.except(cur).select(lit(t.toLong).as("step"),
        lit("EDGE_REMOVAL").as("type"), col("src").as("u"), col("dst").as("v"))
      events = events.unionAll(adds).unionAll(rems).localCheckpoint(true)
      prev = cur
    }
    events
  }

  /** Coordinates after `t` movement steps — closed-form accumulated
    * drift (theta_t = theta_0 + Σ_{s≤t} dθ_s, r likewise clamped to
    * (0, R]), so any step is one column expression with no lineage
    * growth. Exposed for the replay oracle gate. */
  private[graft] def dynamicHyperbolicCoords(spark: SparkSession, n: Long,
      radius: Double, t: Int, moveFraction: Double, gamma: Double,
      seed: Long): DataFrame = {
    var theta = u01(seed, col("id")) * (2 * math.Pi)
    val alpha = (gamma - 1.0) / 2.0
    val coshAR = math.cosh(alpha * radius)
    var r = acosh(lit(1.0) + u01(seed + 1, col("id")) * (coshAR - 1.0)) / alpha
    for (s <- 1 to t) {
      val moving = u01(seed ^ (0x900 + s), col("id")) < moveFraction
      val dTh = (u01(seed ^ (0xa00 + s), col("id")) - 0.5) * (0.2 * math.Pi)
      val dR = (u01(seed ^ (0xb00 + s), col("id")) - 0.5) * (0.1 * radius)
      theta = theta + when(moving, dTh).otherwise(lit(0.0))
      r = least(lit(radius), greatest(lit(1e-9),
        r + when(moving, dR).otherwise(lit(0.0))))
    }
    spark.range(n).select(col("id"),
      pmod(theta, lit(2 * math.Pi)).as("theta"), r.as("r"))
  }

  /** Threshold edges at movement step `t` — the from-scratch snapshot
    * the event replay must reproduce. */
  private[graft] def dynamicHyperbolicSnapshot(spark: SparkSession, n: Long,
      radius: Double, t: Int, moveFraction: Double = 0.3, gamma: Double = 3.0,
      seed: Long = 42, nBands: Int = 16): DataFrame =
    hyperbolicEdgesFromCoords(spark,
      dynamicHyperbolicCoords(spark, n, radius, t, moveFraction, gamma, seed),
      radius, nBands)

  private def hyperbolicCoords(spark: SparkSession, n: Long, radius: Double,
      gamma: Double, seed: Long): DataFrame = {
    val alpha = (gamma - 1.0) / 2.0
    val coshAR = math.cosh(alpha * radius)
    spark.range(n)
      .withColumn("theta", u01(seed, col("id")) * (2 * math.Pi))
      .withColumn("r",
        acosh(lit(1.0) + u01(seed + 1, col("id")) * (coshAR - 1.0)) / alpha)
  }

  /** Reference kernel for [[hyperbolic]]: the same predicate over all
    * n²/2 pairs. Spec cross-check surface only — quadratic. */
  private[graft] def hyperbolicPairwise(spark: SparkSession, n: Long, radius: Double,
      gamma: Double = 3.0, seed: Long = 42): PropertyGraph = {
    val nodes = hyperbolicCoords(spark, n, radius, gamma, seed)
    val a = nodes.select(col("id").as("u"), col("theta").as("tu"), col("r").as("ru"))
    val b = nodes.select(col("id").as("v"), col("theta").as("tv"), col("r").as("rv"))
    val edges = a.join(b, col("u") < col("v"))
      .withColumn("dTheta", abs(col("tu") - col("tv")))
      .withColumn("dTheta",
        when(col("dTheta") > math.Pi, lit(2 * math.Pi) - col("dTheta"))
          .otherwise(col("dTheta")))
      .withColumn("coshD",
        cosh(col("ru")) * cosh(col("rv")) -
          sinh(col("ru")) * sinh(col("rv")) * cos(col("dTheta")))
      .filter(col("coshD") <= math.cosh(radius))
      .select(col("u").as("src"), col("v").as("dst"), lit(1.0).as("weight"))
    PropertyGraph(edges, directed = false,
      Some(spark.range(n).select(col("id"))))
  }

  /** Erased configuration model (reference
    * `generators/ConfigurationModel.hpp:16`,
    * `EdgeSwitchingMarkovChainGenerator`): realize a degree sequence by
    * hash-shuffling the half-edge multiset and pairing consecutive
    * stubs; self-loops and duplicate edges are erased (the documented
    * "erased" variant — exact stub matching needs the sequential
    * Havel-Hakimi the reference also implements; degrees here are met
    * up to the erased stubs). One explode + one ranked pairing — no
    * sequential stub list. */
  /** Fit a power-law exponent to a degree sequence by matching the
    * average degree (reference `generators/PowerlawDegreeSequence.cpp`:
    * the `setGammaFromAverageDegree` binary search at lines 104-145,
    * invoked by the from-graph constructor at lines 34-49). The degree
    * table is reduced to (min, max, avg) in one distributed aggregate;
    * the 13-step bisection over γ ∈ [−6, −1] with expected average
    * E[d] = Σ k^(γ+1) / Σ k^γ for k ∈ [minDeg, maxDeg] is driver-side
    * scalar math, stopping at the reference's 0.001 precision and
    * picking the closer endpoint. Returns one row
    * `(min_deg, max_deg, avg_deg, gamma)`. */
  def powerlawFit(degrees: DataFrame): DataFrame = {
    val r = degrees.agg(min("degree"), max("degree"), avg("degree")).head
    val (mn, mx, av) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    def expectedAvg(gamma: Double): Double = {
      var num = 0.0; var den = 0.0
      var k = mn
      while (k <= mx) {
        val p = math.pow(k.toDouble, gamma)
        num += k * p; den += p; k += 1
      }
      num / den
    }
    var (gl, gr) = (-6.0, -1.0)
    var (al, ar) = (expectedAvg(gl), expectedAvg(gr))
    val gamma =
      if (av > ar) gr
      else if (av < al) gl
      else {
        while (gl + 0.001 < gr) {
          val mid = (gl + gr) * 0.5
          val m = expectedAvg(mid)
          if (m > av) { ar = m; gr = mid } else { al = m; gl = mid }
        }
        if (av - al < ar - av) gl else gr
      }
    val spark = degrees.sparkSession
    spark.range(1).select(lit(mn).as("min_deg"), lit(mx).as("max_deg"),
      round(lit(av), 6).as("avg_deg"), round(lit(gamma), 3).as("gamma"))
  }

  def configurationModel(spark: SparkSession, degrees: DataFrame,
      seed: Long = 42): PropertyGraph = {
    val stubs = Ranks.zipRank(
      degrees.select(col("id"), col("deg"))
        .filter(col("deg") > 0)
        .select(col("id"), explode(sequence(lit(1L), col("deg"))).as("k")),
      Seq(xxhash64(lit(seed), col("id"), col("k")), col("id"), col("k")),
      "r", base = 0L)
    val evens = stubs.filter(col("r") % 2 === 0)
      .select(expr("r div 2").as("p"), col("id").as("src"))
    val odds = stubs.filter(col("r") % 2 === 1)
      .select(expr("r div 2").as("p"), col("id").as("dst"))
    val paired = evens.join(odds, "p")
      .filter(col("src") =!= col("dst")) // erase self-loops
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct() // erase multi-edges
      .withColumn("weight", lit(1.0))
    PropertyGraph(paired, directed = false,
      Some(degrees.select(col("id"))))
  }

  /** EXACT configuration model (reference
    * `generators/ConfigurationModelGenerator.hpp:19` +
    * `EdgeSwitchingMarkovChainGenerator.hpp:17`): realize the degree
    * sequence exactly with Havel–Hakimi (the reference's own exact
    * path — sequential, driver-bounded by the sequence length like the
    * reference), then randomize with seed-deterministic global
    * Curveball trades, which preserve every degree exactly. Unlike the
    * erased [[configurationModel]] above, the output meets the sequence
    * with zero erased stubs (requires a graphical sequence, as does the
    * reference). */
  def configurationModelExact(spark: SparkSession, degrees: Seq[(Long, Int)],
      trades: Int = 5, seed: Long = 42): PropertyGraph = {
    val realized = havelHakimi(spark, degrees)
    Randomization.globalCurveball(realized, trades, seed)
  }

  /** Regular ring lattice (reference `RegularRingLatticeGenerator.hpp:18`):
    * node i ~ i±1..±k mod n. Fully deterministic — one range scan, no
    * shuffle, no randomness. */
  def regularRingLattice(spark: SparkSession, n: Long, k: Int): PropertyGraph = {
    val edges = spark.range(n)
      .select(col("id").as("src"),
        explode(sequence(lit(1L), lit(k.toLong))).as("o"))
      .select(col("src"), pmod(col("src") + col("o"), lit(n)).as("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct() // n ≤ 2k would duplicate rings
      .withColumn("weight", lit(1.0))
    PropertyGraph(edges, directed = false)
  }

  /** Dorogovtsev–Mendes growth (reference
    * `DorogovtsevMendesGenerator.hpp:18`): start from a triangle; each
    * new node attaches to BOTH endpoints of a uniformly random existing
    * edge. Inherently sequential (each step's edge pool depends on all
    * prior steps — the reference is sequential too), so the growth runs
    * driver-side with splitmix64 draws, O(n) memory, and ships the final
    * edge list as a DataFrame. Returns edges tagged with their creation
    * step for the dynamic-stream variant. */
  def dorogovtsevMendes(spark: SparkSession, n: Long, seed: Long = 42): DataFrame = {
    import spark.implicits._
    require(n >= 3, "DM needs n >= 3")
    val edges = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)](
      (0L, 1L, 0L), (0L, 2L, 0L), (1L, 2L, 0L))
    var t = 3L
    while (t < n) {
      val j = java.lang.Long.remainderUnsigned(xxhash64scala(seed, t), edges.length.toLong).toInt
      val (u, v, _) = edges(j)
      edges += ((u, t, t)); edges += ((v, t, t))
      t += 1
    }
    edges.toSeq.toDF("src", "dst", "step")
  }

  /** Havel–Hakimi realization of a degree sequence (reference
    * `HavelHakimiGenerator.hpp:30`): repeatedly connect the highest-
    * degree node to the next-highest ones. Exact when the sequence is
    * graphical; unrealizable leftovers are dropped (the reference's
    * `ignoreIfRealizable`). Sequential greedy (reference likewise), so
    * driver-side over the collected sequence — O(n+m). */
  def havelHakimi(spark: SparkSession, degrees: Seq[(Long, Int)]): PropertyGraph = {
    havelHakimiSeq(spark, degrees)
  }

  /** DataFrame-input Havel–Hakimi — the scale-correct API shape: callers
    * pass the degree TABLE `(id, degree)` and never collect anything
    * themselves. The greedy realization itself is inherently sequential
    * (the reference's is too), so the sequence — n (id, degree) pairs,
    * never edge data — is brought to the driver internally, the same
    * documented driver bound as [[dorogovtsevMendes]]. */
  def havelHakimi(degrees: DataFrame): PropertyGraph = {
    val spark = degrees.sparkSession
    val seq = degrees.select(col("id").cast("long"), col("degree").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    havelHakimiSeq(spark, seq)
  }

  /** DataFrame-input exact configuration model: [[havelHakimi]]
    * realization + seed-deterministic global Curveball trades (both
    * degree-preserving), from the degree table. */
  def configurationModelExact(degrees: DataFrame, trades: Int,
      seed: Long): PropertyGraph =
    Randomization.globalCurveball(havelHakimi(degrees), trades, seed)

  private def havelHakimiSeq(spark: SparkSession, degrees: Seq[(Long, Int)]): PropertyGraph = {
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var rem = degrees.filter(_._2 > 0).sortBy(d => (-d._2, d._1)).toVector
    while (rem.nonEmpty) {
      val (id, d) = rem.head
      val take = math.min(d, rem.length - 1)
      val targets = rem.tail.take(take)
      out ++= targets.map(t => (math.min(id, t._1), math.max(id, t._1)))
      rem = (rem.tail.take(take).map(t => (t._1, t._2 - 1)) ++ rem.tail.drop(take))
        .filter(_._2 > 0).sortBy(t => (-t._2, t._1))
    }
    val df = out.toSeq.toDF("src", "dst").withColumn("weight", lit(1.0))
    PropertyGraph(df, directed = false,
      Some(degrees.map(_._1).toDF("id")))
  }

  /** Dynamic Dorogovtsev–Mendes event stream (reference
    * `DynamicDorogovtsevMendesGenerator.hpp`): the growth above emitted
    * as timestamped NODE_ADDITION/EDGE_ADDITION events, replayable by
    * the streaming graph updater. */
  def dynamicDorogovtsevMendes(spark: SparkSession, n: Long, seed: Long = 42): DataFrame = {
    val e = dorogovtsevMendes(spark, n, seed)
    val nodeEvents = e.select(col("dst").as("u"), col("step"))
      .unionAll(e.select(col("src").as("u"), col("step")))
      .groupBy("u").agg(min("step").as("step"))
      .select(col("step"), lit("NODE_ADDITION").as("type"), col("u"), lit(null: java.lang.Long).as("v"))
    val edgeEvents = e.select(col("step"), lit("EDGE_ADDITION").as("type"),
      col("src").as("u"), col("dst").as("v"))
    nodeEvents.unionAll(edgeEvents)
  }

  /** Dynamic forest-fire event stream (reference
    * `DynamicForestFireGenerator.hpp:26`): each step a new node picks a
    * random ambassador and "burns" outward — every burned node gets an
    * edge; neighbors catch fire with geometric fan-out ~ p. Sequential
    * process (each step reads the graph so far), driver-side like the
    * reference, emitting timestamped edge events. */
  def dynamicForestFire(spark: SparkSession, nSteps: Int, p: Double,
      seed: Long = 42): DataFrame = {
    import spark.implicits._
    val adj = scala.collection.mutable.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]()
    def link(u: Long, v: Long): Unit = {
      adj.getOrElseUpdate(u, scala.collection.mutable.ArrayBuffer()) += v
      adj.getOrElseUpdate(v, scala.collection.mutable.ArrayBuffer()) += u
    }
    val events = scala.collection.mutable.ArrayBuffer[(Long, String, Long, java.lang.Long)]()
    adj(0L) = scala.collection.mutable.ArrayBuffer()
    events += ((0L, "NODE_ADDITION", 0L, null))
    var draw = 0L
    def u01d(): Double = {
      draw += 1
      (xxhash64scala(seed, draw) >>> 11).toDouble / (1L << 53).toDouble
    }
    for (t <- 1 until nSteps) {
      val tt = t.toLong
      events += ((tt, "NODE_ADDITION", tt, null))
      val ambassador = (u01d() * t).toLong.min(t - 1L)
      val burned = scala.collection.mutable.LinkedHashSet[Long](ambassador)
      val queue = scala.collection.mutable.Queue[Long](ambassador)
      while (queue.nonEmpty) {
        val w = queue.dequeue()
        // geometric number of new neighbors to ignite: mean p/(1-p)
        val fires = math.floor(math.log(math.max(u01d(), 1e-12)) / math.log(1.0 - p)).toInt
        val nbrs = adj.getOrElse(w, scala.collection.mutable.ArrayBuffer())
          .filterNot(burned.contains)
        new scala.util.Random(xxhash64scala(seed ^ tt, w)).shuffle(nbrs.toSeq)
          .take(math.max(fires, 0)).foreach { x =>
            burned += x; queue.enqueue(x)
          }
      }
      burned.foreach { b =>
        link(tt, b)
        events += ((tt, "EDGE_ADDITION", math.min(tt, b), math.max(tt, b)))
      }
      adj.getOrElseUpdate(tt, scala.collection.mutable.ArrayBuffer())
    }
    events.toSeq.toDF("step", "type", "u", "v")
  }

  /** Dynamic path event stream (reference
    * `generators/DynamicPathGenerator.hpp:19`): step 0 adds node 0;
    * step t ∈ 1..nSteps adds node t and edge (t−1, t) — a dynamically
    * growing path, as pure column math over `spark.range`. Output
    * `(step, type, u, v)` in the engine's event schema. */
  def dynamicPath(spark: SparkSession, nSteps: Int): DataFrame = {
    val nodes = spark.range(nSteps + 1L).select(col("id").as("step"),
      lit("NODE_ADDITION").as("type"), col("id").as("u"),
      lit(null: java.lang.Long).as("v"))
    val edges = spark.range(1L, nSteps + 1L).select(col("id").as("step"),
      lit("EDGE_ADDITION").as("type"), (col("id") - 1).as("u"), col("id").as("v"))
    nodes.unionAll(edges)
  }

  /** Dynamic Barabási–Albert event stream (reference
    * `generators/DynamicBarabasiAlbertGenerator.hpp:22`): the graph
    * starts as a k-node path (step 0 events); step t ∈ 1..nSteps adds
    * node k−1+t plus k preferential-attachment edges. The
    * degree-proportional draw uses the same Batagelj–Brandes
    * virtual-endpoint-array decoding as the static [[barabasiAlbert]]
    * (a uniform cell over the first 2j endpoint occurrences is a draw
    * ∝ degree; odd cells resolve one level, except init-path cells
    * which resolve exactly) — so the sequential attachment process is
    * pure column math, no driver loop. Within-step duplicate targets
    * collapse, so a step may emit fewer than k edges (the reference
    * redraws until k distinct targets; documented deviation, same
    * class as the static generator's one-level resolution). Output
    * `(step, type, u, v)`, edges canonical u < v, fully deterministic
    * in (seed, k, nSteps). */
  def dynamicBarabasiAlbert(spark: SparkSession, k: Int, nSteps: Int,
      seed: Long = 42): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val kL = k.toLong
    val initNodes = spark.range(kL).select(lit(0L).as("step"),
      lit("NODE_ADDITION").as("type"), col("id").as("u"),
      lit(null: java.lang.Long).as("v"))
    val initEdges = spark.range(1L, kL).select(lit(0L).as("step"),
      lit("EDGE_ADDITION").as("type"), (col("id") - 1).as("u"), col("id").as("v"))
    val newNodes = spark.range(1L, nSteps + 1L).select(col("id").as("step"),
      lit("NODE_ADDITION").as("type"), (col("id") + kL - 1).as("u"),
      lit(null: java.lang.Long).as("v"))
    // global edge index j: init path edges are 0..k-2; step t's slots
    // are k-1+(t-1)k .. k-2+tk. Source of edge e: init → e+1 (reference
    // addEdge(u, u-1)); BA → its step's new node k-1+t(e).
    def srcOf(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(e < kL - 1, e + 1)
        .otherwise(((e - (kL - 1)) / kL).cast("long") + kL)
    val baEdges = spark.range(nSteps.toLong * kL).select(
        (col("id") + kL - 1).as("j"),
        ((col("id") / kL).cast("long") + 1).as("step"))
      .withColumn("src", col("step") + kL - 1)
      .withColumn("cell",
        pmod(xxhash64(lit(seed), col("j")), greatest(col("j") * 2, lit(1L))))
      .withColumn("e", (col("cell") / 2).cast("long"))
      .withColumn("dst",
        when(col("cell") % 2 === 1 && col("e") < kL - 1, col("e"))
          .otherwise(srcOf(col("e"))))
      .filter(col("dst") =!= col("src"))
      .select(col("step"), lit("EDGE_ADDITION").as("type"),
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    initNodes.unionAll(initEdges).unionAll(newNodes).unionAll(baEdges)
  }

  /** Driver-side xxhash-ish mixer for the few scalar draws the driver
    * makes (community sizes) — splitmix64, seed-stable. */
  private def xxhash64scala(seed: Long, x: Long): Long = {
    var z = seed + x * 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}
