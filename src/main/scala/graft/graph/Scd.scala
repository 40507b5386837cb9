package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Selective-community-detection tail: the remaining expanders of the
  * reference `scd/` module beyond LFM/TCE/CliqueDetect (shipped in
  * [[Community]]), and the one greedy-conductance (GCE) body,
  * [[expandSeedSet]], behind [[Community.expandSeed]].
  *
  *   - LocalTightnessExpansion — structural-similarity tightness greedy
  *     (reference `scd/LocalTightnessExpansion.hpp:21`)
  *   - LocalT — triad-based T-measure greedy (reference `scd/LocalT.hpp:21`)
  *   - TwoPhaseL — add-then-prune L-measure greedy (reference
  *     `scd/TwoPhaseL.hpp:20`)
  *   - RandomBFS — BFS-prefix baseline (reference `scd/RandomBFS.hpp:15`)
  *   - CombinedSCD — seed-with-one, expand-with-another composition
  *     (reference `scd/CombinedSCD.hpp`)
  *   - ground-truth comparison (reference `scd/SCDGroundTruthComparison.hpp`)
  *
  * Shape: like the reference these are sequential greedy loops around a
  * seed; each step is ONE distributed join+aggregate over the candidate
  * shell (never a driver copy of the graph), and the driver holds only
  * the ≤ maxSize member list. The per-edge similarity / triangle tables
  * they score against are computed once, distributedly, and reused.
  */
object Scd {

  private def sym(g: PropertyGraph): DataFrame =
    g.adjacency.filter(col("src") =!= col("dst"))

  /** Structural similarity per symmetric edge (reference
    * `scd/LocalTightnessExpansion.cpp:29-45`): for edge (u,v),
    * s(u,v) = (2·w(u,v) + Σ_y w(u,y)·w(v,y)) / (wd(u)·wd(v)) with
    * wd(u) = sqrt(1 + Σ_y w(u,y)²) — the w(u,u)=1 self-weight of the
    * paper. `(src, dst, sim)`, both directions. */
  def edgeSimilarity(g: PropertyGraph): DataFrame = {
    val e = sym(g).select("src", "dst", "weight")
    val wd = e.groupBy(col("src").as("id"))
      .agg(sqrt(lit(1.0) + sum(col("weight") * col("weight"))).as("wd"))
    // common-neighbor weight products through the wedge (src)-(y)-(dst)
    val viaY = e.select(col("dst").as("u"), col("src").as("y"), col("weight").as("wu"))
      .join(e.select(col("dst").as("v"), col("src").as("y"), col("weight").as("wv")), "y")
      .filter(col("u") =!= col("v"))
      .groupBy("u", "v").agg(sum(col("wu") * col("wv")).as("tri"))
    e.select(col("src"), col("dst"), col("weight"))
      .join(viaY.select(col("u").as("src"), col("v").as("dst"), col("tri")),
        Seq("src", "dst"), "left")
      .withColumn("num", lit(2.0) * col("weight") + coalesce(col("tri"), lit(0.0)))
      .join(wd.select(col("id").as("src"), col("wd").as("wdu")), "src")
      .join(wd.select(col("id").as("dst"), col("wd").as("wdv")), "dst")
      .select(col("src"), col("dst"), (col("num") / (col("wdu") * col("wdv"))).as("sim"))
  }

  /** LocalTightnessExpansion (reference `scd/LocalTightnessExpansion.cpp`,
    * Huang et al. 2011): greedily pop the shell node with the largest
    * similarity into the community; accept iff
    * E/I − (α·ext(v) − int(v)) / (2·int(v)) > 0 where I/E are the
    * community's internal/external similarity sums. A rejected node
    * leaves the shell and only returns when a later-accepted member is
    * adjacent to it (the reference's `shell.update` re-insertion).
    * Ties broken by node id (the reference's heap order is unspecified).
    * Returns `(id)` members. */
  def localTightnessExpansion(g: PropertyGraph, seed: Long, alpha: Double = 1.0,
      maxSize: Int = 50): DataFrame = Fixpoint.scope { st =>
    val spark = g.edges.sparkSession
    import spark.implicits._
    val simEdges = st.persist(edgeSimilarity(g))
    simEdges.count()
    var members = Seq(seed)
    var dead = Set.empty[Long]
    var grow = true
    while (grow && members.size < maxSize) {
      val mDf = members.toDF("id")
      val last = members.last
      // per-shell-candidate: int/ext similarity + adjacency to the last
      // accepted member (which revives a previously rejected candidate)
      val stats = simEdges
        .join(mDf.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .withColumn("inS", col("dst").isin(members: _*))
        .groupBy(col("src").as("id"))
        .agg(
          sum(when(col("inS"), col("sim")).otherwise(lit(0.0))).as("intSim"),
          sum(when(!col("inS"), col("sim")).otherwise(lit(0.0))).as("extSim"),
          max(when(col("dst") === last, lit(1)).otherwise(lit(0))).as("adjLast"))
        .filter(col("intSim") > 0)
        .collect()
      // community totals: I double-counts internal pairs, E counts cut sims
      val totals = simEdges
        .join(mDf.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .withColumn("inS", col("dst").isin(members: _*))
        .agg(
          sum(when(col("inS"), col("sim")).otherwise(lit(0.0))).as("i"),
          sum(when(!col("inS"), col("sim")).otherwise(lit(0.0))).as("e"))
        .head()
      val bigI = totals.getDouble(0)
      val bigE = totals.getDouble(1)
      dead = dead.filterNot(d => stats.exists(r => r.getLong(0) == d && r.getInt(3) == 1))
      val eligible = stats.filterNot(r => dead(r.getLong(0)))
        .sortBy(r => (-r.getDouble(1), r.getLong(0)))
      var accepted = false
      var idx = 0
      while (!accepted && idx < eligible.length) {
        val r = eligible(idx)
        val (v, intS, extS) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
        val improves =
          if (bigI == 0) true // first addition: seed alone has no internal pairs
          else bigE / bigI - (alpha * extS - intS) / (2 * intS) > 0
        if (improves) { members = members :+ v; accepted = true }
        else { dead += v; idx += 1 }
      }
      grow = accepted
    }
    members.toDF("id")
  }

  /** LocalT (reference `scd/LocalT.cpp`, Fagnan et al. 2014): greedy on
    * the triad score T = max(0, intT·(intT − extT)) where intT counts
    * triangles fully inside S and extT triangles with exactly one vertex
    * in S. A candidate is accepted when it strictly improves T, or
    * matches it with strictly fewer external triangles (the reference's
    * tie rule); ties broken by node id. One pass over the triangle list
    * per accepted node. Returns `(id)` members. */
  def localT(g: PropertyGraph, seed: Long,
      maxSize: Int = 50): DataFrame = Fixpoint.scope { st =>
    val spark = g.edges.sparkSession
    import spark.implicits._
    val tri = st.persist(Triangles.triangles(g))
    tri.count()
    val adj = st.persist(sym(g).select("src", "dst"))
    var members = Seq(seed)
    var grow = true
    while (grow && members.size < maxSize) {
      val mDf = members.toDF("id")
      val inS = (c: String) => col(c).isin(members: _*)
      val tagged = tri.withColumn("nIn",
        inS("a").cast("int") + inS("b").cast("int") + inS("c").cast("int"))
      // count, not sum: a triangle-free graph gives 0, not null
      val globals = tagged.agg(
        count(when(col("nIn") === 3, 1L)).as("intT"),
        count(when(col("nIn") === 1, 1L)).as("extT")).head()
      val intT = globals.getLong(0)
      val extT = globals.getLong(1)
      val curScore = math.max(0L, intT * (intT - extT))
      // shell = neighbors of S not in S
      val shell = adj.join(mDf.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .join(mDf.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .select(col("src").as("v")).distinct()
      // per-candidate triangle classification: for v in shell, count its
      // triangles by how many of the OTHER two vertices are in S
      val cand = tri
        .select(col("a").as("v"), col("b").as("x"), col("c").as("y"))
        .unionAll(tri.select(col("b").as("v"), col("a").as("x"), col("c").as("y")))
        .unionAll(tri.select(col("c").as("v"), col("a").as("x"), col("b").as("y")))
        .join(shell, "v")
        .withColumn("others", inS("x").cast("int") + inS("y").cast("int"))
        .groupBy("v").agg(
          sum(when(col("others") === 2, 1L).otherwise(0L)).as("nInt"),
          sum(when(col("others") === 1, 1L).otherwise(0L)).as("nSemi"),
          sum(when(col("others") === 0, 1L).otherwise(0L)).as("nExt"))
        .unionByName( // shell nodes in no triangle still qualify via ties
          shell.select(col("v"), lit(0L).as("nInt"), lit(0L).as("nSemi"), lit(0L).as("nExt")))
        .groupBy("v").agg(max("nInt").as("nInt"), max("nSemi").as("nSemi"), max("nExt").as("nExt"))
        .collect()
      val best = cand.iterator.map { r =>
        val newInt = intT + r.getLong(1)
        val newExt = extT + r.getLong(3) - r.getLong(2)
        (r.getLong(0), math.max(0L, newInt * (newInt - newExt)), newExt)
      }.toSeq.sortBy { case (v, score, ext) => (-score, ext, v) }.headOption
      best match {
        case Some((v, score, ext)) if score > curScore || (score == curScore && ext < extT) =>
          members = members :+ v
        case _ => grow = false
      }
    }
    members.toDF("id")
  }

  /** TwoPhaseL (reference `scd/TwoPhaseL.cpp`, Chen-Zaïane-Goebel 2009):
    * phase 1 greedily adds the shell node maximizing L = Lin/Lex subject
    * to Lin strictly increasing (Lin = 2·intW/|S|,
    * Lex = cut/#boundary-nodes); phase 2 sweeps members in id order and
    * drops any whose removal would not worsen both Lin and Lex. Returns
    * the empty set when the seed itself is pruned, like the reference. */
  def twoPhaseL(g: PropertyGraph, seed: Long,
      maxSize: Int = 50): DataFrame = Fixpoint.scope { st =>
    val spark = g.edges.sparkSession
    import spark.implicits._
    val e = st.persist(sym(g).select("src", "dst", "weight"))
    e.count()
    var members = Seq(seed)
    var grow = true
    while (grow && members.size < maxSize) {
      val mDf = members.toDF("id")
      val inS = (c: String) => col(c).isin(members: _*)
      // member-side totals: internal weight, cut, boundary size, and each
      // member's external weight (for the boundary-change of a candidate)
      val memberEdges = st.persist(
        e.join(mDf.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
          .withColumn("inDst", inS("dst")))
      val tot = memberEdges.agg(
        (sum(when(col("inDst"), col("weight")).otherwise(lit(0.0))) / 2).as("intW"),
        sum(when(!col("inDst"), col("weight")).otherwise(lit(0.0))).as("cut")).head()
      val (intW, cut) = (tot.getDouble(0), tot.getDouble(1))
      val memberExt = memberEdges.groupBy(col("src").as("id"))
        .agg(sum(when(!col("inDst"), col("weight")).otherwise(lit(0.0))).as("ext"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val boundary = memberExt.count(_._2 > 0)
      val curLin = 2.0 * intW / members.size
      val curLex = if (boundary == 0) 0.0 else cut / boundary
      val curL = if (curLex == 0) Double.MaxValue else curLin / curLex
      // candidate stats: intDeg/extDeg into-S weight + the members whose
      // external weight equals their edge to the candidate (they stop
      // being boundary when the candidate joins)
      val cand = e.join(mDf.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .withColumn("inDst", inS("dst"))
        .groupBy(col("src").as("v"))
        .agg(
          sum(when(col("inDst"), col("weight")).otherwise(lit(0.0))).as("intDeg"),
          sum(when(!col("inDst"), col("weight")).otherwise(lit(0.0))).as("extDeg"))
        .filter(col("intDeg") > 0)
        .collect()
      val candAdjToMembers = e
        .join(mDf.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .join(mDf.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .select(col("src").as("v"), col("dst").as("u"), col("weight"))
        .collect().groupBy(_.getLong(0))
      st.retire(memberEdges)
      val scored = cand.iterator.map { r =>
        val (v, intDeg, extDeg) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
        val closedMembers = candAdjToMembers.getOrElse(v, Array.empty)
          .count(row => memberExt.getOrElse(row.getLong(1), 0.0) == row.getDouble(2))
        val vBoundary = if (extDeg > 0) 1 else 0
        val newBoundary = boundary + vBoundary - closedMembers
        val nLin = 2.0 * (intW + intDeg) / (members.size + 1)
        val nLex = if (newBoundary <= 0) 0.0 else (cut - intDeg + extDeg) / newBoundary
        val nL = if (nLex == 0) Double.MaxValue else nLin / nLex
        (v, nLin, nL)
      }.filter { case (_, nLin, _) => nLin > curLin }
        .toSeq.sortBy { case (v, _, nL) => (-nL, v) }.headOption
      scored match {
        case Some((v, _, nL)) if nL > curL => members = members :+ v
        case _ => grow = false
      }
    }
    // phase 2: prune. Collect the small S-induced subgraph + per-member
    // external weight once, then sweep on the driver.
    if (members.size > 1) {
      val mDf = members.toDF("id")
      val inS = (c: String) => col(c).isin(members: _*)
      val sEdges = e.join(mDf.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .select(col("src"), col("dst"), col("weight"))
        .collect()
      var kept = members.toSet
      def lin(): Double = {
        val intW2 = sEdges.iterator
          .filter(r => kept(r.getLong(0)) && kept(r.getLong(1))).map(_.getDouble(2)).sum / 2
        2.0 * intW2 / kept.size
      }
      def lex(): Double = {
        val extPerNode = sEdges.iterator
          .filter(r => kept(r.getLong(0)) && !kept(r.getLong(1)))
          .toSeq.groupBy(_.getLong(0)).view.mapValues(_.map(_.getDouble(2)).sum)
        val cut2 = extPerNode.values.sum
        val b = extPerNode.count(_._2 > 0)
        if (b == 0) 0.0 else cut2 / b
      }
      for (v <- members.sorted if kept.size > 1 && kept(v)) {
        val (curLin, curLex) = (lin(), lex())
        kept -= v
        val (nLin, nLex) = (lin(), lex())
        if (curLin > nLin && curLex < nLex) kept += v // removal worsens both: keep
      }
      if (!kept(seed)) spark.emptyDataFrame.select(lit(0L).as("id")).limit(0)
      else kept.toSeq.sorted.toDF("id")
    } else members.toDF("id")
  }

  /** CombinedSCD (reference `scd/CombinedSCD.hpp`): seed with one
    * detector, expand with another — here CliqueDetect provides the seed
    * clique and greedy-conductance GCE expands it, the pairing the
    * reference tests use. Returns `(id)` members. */
  def combined(g: PropertyGraph, seed: Long, maxSize: Int = 50): DataFrame = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    val seedSet = Community.cliqueDetect(g, seed).collect().map(_.getLong(0)).toSeq
    expandSeedSet(g, if (seedSet.isEmpty) Seq(seed) else seedSet, maxSize)
  }

  /** Greedy conductance expansion (reference `scd/GCE.hpp`) from a
    * seed set; [[Community.expandSeed]] is the one-seed call. Repeatedly
    * absorb the boundary node that minimizes the expanded set's
    * conductance, stop when no candidate improves it or `maxSize` is
    * reached. Per step: one join + aggregate over the boundary and a
    * 1-row argmin to the driver. Returns `(id)` members. */
  def expandSeedSet(g: PropertyGraph, seeds: Seq[Long],
      maxSize: Int = 50): DataFrame = Fixpoint.scope { st =>
    val spark = g.edges.sparkSession
    import spark.implicits._
    val adj = st.persist(sym(g))
    val degs = st.persist(adj.groupBy(col("src").as("id")).agg(sum("weight").as("d")))
    var members = seeds.distinct
    // vol = the seeds' degrees (their aggregation is the steps' too),
    // cut = vol − the weight among the seeds
    val seedDegs = degs.filter(col("id").isin(members: _*)).select("d").collect()
    if (seedDegs.nonEmpty) { // a seed set without edges stays as it is
      var vol = seedDegs.map(_.getDouble(0)).sum
      var cut = vol - adj.filter(col("src").isin(members: _*) && col("dst").isin(members: _*))
        .select("weight").collect().map(_.getDouble(0)).sum
      var grow = true
      while (grow && members.size < maxSize) {
        val sDf = members.toDF("id")
        val wIn = adj.join(sDf.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
          .join(sDf.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
          .groupBy(col("src").as("id")).agg(sum("weight").as("wIn"))
          .join(degs, "id")
          .withColumn("newCut", lit(cut) + col("d") - lit(2.0) * col("wIn"))
          .withColumn("newVol", lit(vol) + col("d"))
          .withColumn("score", col("newCut") / col("newVol"))
        val best = wIn.orderBy(col("score").asc, col("id").asc).limit(1).collect()
        if (best.isEmpty) grow = false
        else {
          val row = best(0)
          val (id, score) = (row.getLong(0), row.getAs[Double]("score"))
          if (vol > 0 && score >= cut / vol - 1e-12) grow = false
          else {
            members = members :+ id
            cut = row.getAs[Double]("newCut")
            vol = row.getAs[Double]("newVol")
          }
        }
      }
    }
    members.toDF("id")
  }

  /** Ground-truth comparison (reference `scd/SCDGroundTruthComparison.hpp`):
    * for each detected community `(seed, id)`, precision/recall/F1/Jaccard
    * against the best-F1 ground-truth community `(id, community)`.
    * One join + two aggregates, fully distributed. */
  def groundTruthComparison(detected: DataFrame, truth: DataFrame): DataFrame = {
    val dSizes = detected.groupBy("seed").agg(count(lit(1)).as("dSize"))
    val tSizes = truth.groupBy("community").agg(count(lit(1)).as("tSize"))
    val inter = detected.join(truth, "id")
      .groupBy("seed", "community").agg(count(lit(1)).as("inter"))
    val scored = inter.join(dSizes, "seed").join(tSizes, "community")
      .withColumn("precision", col("inter") / col("dSize"))
      .withColumn("recall", col("inter") / col("tSize"))
      .withColumn("f1", lit(2.0) * col("precision") * col("recall")
        / (col("precision") + col("recall")))
      .withColumn("jaccard", col("inter") / (col("dSize") + col("tSize") - col("inter")))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("seed")
      .orderBy(col("f1").desc, col("jaccard").desc, col("community").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("seed"), col("community").as("best_community"),
        col("precision"), col("recall"), col("f1"), col("jaccard"))
  }
}
