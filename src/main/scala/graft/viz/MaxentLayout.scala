package graft.viz

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.{Fixpoint, PropertyGraph}
import graft.algebra.Multigrid

/** Maxent-stress graph layout (Gansner, Hu & North 2013; reference
  * `viz/MaxentStress.cpp:80-206`): minimize stress over the known
  * distances S (the k-hop neighborhood, hop depth = target distance,
  * `MaxentStress.cpp:503-613`) with an entropy repulsion term between
  * non-neighbors, by repeatedly solving the S-weighted Laplacian system
  * `L_w x_d = rhs_d(x_old)` per dimension, under alpha cooling
  * (×`alphaReduction` per round until < `finalAlpha`).
  *
  * Spark shape, mirroring the reference's structure one-to-one:
  *  - S = iterated frontier joins (all pairs within k hops), one
  *    DataFrame `(i, j, d)` — the reference's per-node BFS fan-out is
  *    the same O(Σ |N_k(v)|) work, here as keyed joins.
  *  - `L_w` (w = 1/d², `MaxentStress.hpp:297`) is a COO Laplacian whose
  *    [[Multigrid]] hierarchy is built ONCE and reused across every
  *    solve — the reference's `setupConnected` + LAMG pattern
  *    (`MaxentStress.cpp:379-413`); all `dim` right-hand sides ride one
  *    batched solve.
  *  - the rhs Laplacian term (`computeCoordinateLaplacianTerm`,
  *    `MaxentStress.cpp:415-440`) is one S-coords join + aggregate.
  *  - repulsion is the distributed Barnes–Hut field ([[Octree]]): the
  *    reference's octree descent (`approxRepulsiveForces`,
  *    `MaxentStress.cpp:473-500`) as multilevel-grid interaction
  *    lists, O(log n) accepted cells per node, every accepted cell
  *    satisfying the reference's θ = 0.6 criterion. Like the octree
  *    version, known pairs are not excluded from the approximate
  *    field. Deviation: forces refresh every solve (the reference
  *    staleness schedule `floor(5·ln(numSolves))` exists to amortize
  *    octree rebuilds, which the join formulation makes unnecessary).
  *
  * Defaults mirror the reference (alpha 1.0 ×0.3 → 0.008, 50 solves
  * per alpha, convergence at relative change < 1e-6); queries pass
  * cheaper bounds, which `fastComputation = true` honors by exiting an
  * alpha round on convergence as the reference does.
  */
object MaxentLayout {

  final case class MaxentResult(coords: DataFrame, knownPairs: Long,
      ldmeInitial: Double, ldmeFinal: Double, meanDistErr: Double,
      solves: Int)

  /** All ordered pairs within `k` hops: `(i, j, d)` with 1 ≤ d ≤ k,
    * d = hop distance (the reference's unweighted `knownDistances`). */
  def knownDistances(g: PropertyGraph, k: Int): DataFrame = {
    val e = PropertyGraph.canonicalizeUndirected(
      g.adjacency.filter(col("src") =!= col("dst"))).select("src", "dst")
    val adj = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    var known = adj.select(col("src").as("i"), col("dst").as("j"),
      lit(1.0).as("d")).localCheckpoint(true)
    var frontier = known
    for (h <- 2 to k) {
      val next = frontier.join(
          adj.select(col("src").as("j"), col("dst").as("j2")), "j")
        .filter(col("j2") =!= col("i"))
        .select(col("i"), col("j2").as("j"), lit(h.toDouble).as("d"))
        .distinct()
        .join(known.select("i", "j"), Seq("i", "j"), "left_anti")
        .localCheckpoint(true)
      known = known.unionAll(next).localCheckpoint(true)
      frontier = next
    }
    known
  }

  private def widen(x: DataFrame, dim: Int): DataFrame = {
    val cs = (0 until dim).map(dd =>
      sum(when(col("rhs") === dd, col("v"))).as(s"c$dd"))
    x.groupBy(col("i").as("id")).agg(cs.head, cs.tail: _*)
  }

  private def sqDistExpr(dim: Int, a: String, b: String) =
    (0 until dim).map(dd =>
      (col(s"$a$dd") - col(s"$b$dd")) * (col(s"$a$dd") - col(s"$b$dd")))
      .reduce(_ + _)

  /** Run the layout. Returns coordinates `(id, c0..c{dim-1})` plus the
    * layout-quality measures the reference exposes (`ldme`,
    * `meanDistanceError`, `MaxentStress.cpp:338-362`) before/after. */
  def maxentStress(g: PropertyGraph, dim: Int = 2, k: Int = 2,
      q: Double = 0.0, alpha0: Double = 1.0, alphaReduction: Double = 0.3,
      finalAlpha: Double = 0.008, maxSolvesPerAlpha: Int = 50,
      fastComputation: Boolean = true, seed: Long = 42L,
      solveTol: Double = 1e-6, solveMaxCycles: Int = 12,
      coarsestN: Int = 64, repulsionExactBelow: Long = 1024L): MaxentResult = Fixpoint.scope { st =>
    val s = st.cut(knownDistances(g, k))
    val cardinality = s.count()
    val n = g.vertices.count()
    // weighted Laplacian over S, w = 1/d²
    val wf = st.cut(s.select(col("i"), col("j"), (lit(1.0) / (col("d") * col("d"))).as("w")))
    val lap = wf.select(col("i"), col("j"), (-col("w")).as("v"))
      .unionAll(wf.groupBy("i").agg(sum("w").as("v")).select(col("i"), col("i").as("j"), col("v")))
    val levels = Multigrid.setup(lap, coarsestN)
    // deterministic pseudo-random init in [-0.5, 0.5)^dim (the
    // reference's randomSphereCoordinates analog, seeded)
    var coords = st.cut(g.vertices.select(
      col("id") +: (0 until dim).map(dd =>
        ((pmod(xxhash64(col("id"), lit(seed + dd)), lit(100000L))
          .cast("double") / 100000.0) - 0.5).as(s"c$dd")): _*))

    def ldmeOf(c: DataFrame): Double = {
      val joined = s
        .join(c.select(col("id").as("i") +: (0 until dim).map(dd =>
          col(s"c$dd").as(s"a$dd")): _*), "i")
        .join(c.select(col("id").as("j") +: (0 until dim).map(dd =>
          col(s"c$dd").as(s"b$dd")): _*), "j")
      val sse = joined.select(
        ((col("d") - sqrt(sqDistExpr(dim, "a", "b"))) *
          (col("d") - sqrt(sqDistExpr(dim, "a", "b")))).as("e"))
        .agg(sum("e")).first().getDouble(0)
      math.sqrt(sse / cardinality)
    }
    val ldme0 = ldmeOf(coords)

    val qSign = if (q >= 0) 1.0 else -1.0
    val q2 = (q + 2.0) / 2.0
    var alpha = alpha0
    var solves = 0
    var allConverged = false
    while (!allConverged && alpha >= finalAlpha) {
      var converged = false
      var numSolves = 0
      while (!converged && numSolves < maxSolvesPerAlpha) {
        val old = coords
        // rhs Laplacian term: Σ_j wf·d/dist · (x_i − x_j) per dim
        val pair = s
          .join(coords.select(col("id").as("i") +: (0 until dim).map(dd =>
            col(s"c$dd").as(s"a$dd")): _*), "i")
          .join(coords.select(col("id").as("j") +: (0 until dim).map(dd =>
            col(s"c$dd").as(s"b$dd")): _*), "j")
          .withColumn("dist", greatest(sqrt(sqDistExpr(dim, "a", "b")), lit(1e-5)))
          .withColumn("wt", (lit(1.0) / (col("d") * col("d"))) * col("d") / col("dist"))
        val rhsCols = (0 until dim).map(dd =>
          sum(col("wt") * (col(s"a$dd") - col(s"b$dd"))).as(s"r$dd"))
        val rhsCut = st.cut(pair.groupBy(col("i").as("id"))
          .agg(rhsCols.head, rhsCols.tail: _*))
        // normalize rhs for the first fifth of an alpha round
        // (`MaxentStress.cpp:144-147`)
        val rhs = if (numSolves < math.max(maxSolvesPerAlpha / 5, 1)) {
          val nrmCols = (0 until dim).map(dd =>
            sqrt(sum(col(s"r$dd") * col(s"r$dd"))).as(s"n$dd"))
          val nrm = rhsCut.agg(nrmCols.head, nrmCols.tail: _*).first()
          val norms = (0 until dim).map(dd => math.max(nrm.getDouble(dd), 1e-300))
          rhsCut.select(col("id") +: (0 until dim).map(dd =>
            (col(s"r$dd") / norms(dd)).as(s"r$dd")): _*)
        } else rhsCut
        // Barnes–Hut octree repulsion (the reference's
        // approxRepulsiveForces shape), normalized then scaled by alpha.
        // The exact-dispatch cutoff is LOWER here than Octree's one-shot
        // default: this call repeats every solve of every alpha round,
        // so the n² exact field would be paid dozens of times in the
        // mid-size band where the O(n log n) interaction lists already win
        val rep0 = st.cut(Octree.repulsion(coords, dim, qSign, q2,
            exactBelow = repulsionExactBelow)
          .drop("cov"))
        val fnCols = (0 until dim).map(dd =>
          sqrt(sum(col(s"f$dd") * col(s"f$dd"))).as(s"n$dd"))
        val fn = rep0.agg(fnCols.head, fnCols.tail: _*).first()
        val fns = (0 until dim).map(dd => math.max(fn.getDouble(dd), 1e-300))
        val full = rhs.join(rep0, Seq("id"), "left")
          .select(col("id") +: (0 until dim).map(dd =>
            (col(s"r$dd") + lit(alpha) * coalesce(col(s"f$dd"), lit(0.0)) / fns(dd))
              .as(s"r$dd")): _*)
        // zero-sum correction per dim (`MaxentStress.cpp:153-169`)
        val muCols = (0 until dim).map(dd => avg(col(s"r$dd")).as(s"m$dd"))
        val mu = full.agg(muCols.head, muCols.tail: _*).first()
        val rhsVec = full.select(col("id").as("i"), explode(array(
          (0 until dim).map(dd => struct(lit(dd.toLong).as("rhs"),
            (col(s"r$dd") - mu.getDouble(dd)).as("v"))): _*)).as("e"))
          .select(col("e.rhs"), col("i"), col("e.v"))
        // warm start from the previous coordinates — the reference's
        // in/out solution vector (`parallelSolve(rhs, newCoordinates)`)
        val x0 = coords.select(col("id").as("i"), explode(array(
          (0 until dim).map(dd => struct(lit(dd.toLong).as("rhs"),
            col(s"c$dd").as("v"))): _*)).as("e"))
          .select(col("e.rhs"), col("i"), col("e.v"))
        val solved = Multigrid.solvePrepared(levels, rhsVec,
          tol = solveTol, maxCycles = solveMaxCycles, x0 = Some(x0))
        val newWide = widen(solved, dim)
        coords = st.cut(g.vertices.select("id").join(newWide, Seq("id"), "left")
          .select(col("id") +: (0 until dim).map(dd =>
            coalesce(col(s"c$dd"), lit(0.0)).as(s"c$dd")): _*))
        solves += 1
        // convergence: relative coordinate change < 1e-6
        // (`convThreshold = 0.001²`, `MaxentStress.cpp:33`)
        val chg = old.select(col("id") +: (0 until dim).map(dd =>
            col(s"c$dd").as(s"a$dd")): _*)
          .join(coords.select(col("id") +: (0 until dim).map(dd =>
            col(s"c$dd").as(s"b$dd")): _*), "id")
          .agg(sum(sqDistExpr(dim, "a", "b")).as("num"),
            sum((0 until dim).map(dd => col(s"a$dd") * col(s"a$dd"))
              .reduce(_ + _)).as("den")).first()
        converged = chg.getDouble(0) / math.max(chg.getDouble(1), 1e-300) < 1e-6
        st.retire(old, rhsCut, rep0)
        numSolves += 1
        if (converged && !fastComputation) converged = false
      }
      alpha *= alphaReduction
      allConverged = converged
    }
    val ldme1 = ldmeOf(coords)
    val mde = {
      val joined = s
        .join(coords.select(col("id").as("i") +: (0 until dim).map(dd =>
          col(s"c$dd").as(s"a$dd")): _*), "i")
        .join(coords.select(col("id").as("j") +: (0 until dim).map(dd =>
          col(s"c$dd").as(s"b$dd")): _*), "j")
      joined.select((abs(sqrt(sqDistExpr(dim, "a", "b")) - col("d")) / col("d")).as("e"))
        .agg(sum("e")).first().getDouble(0) / cardinality
    }
    MaxentResult(coords, cardinality, ldme0, ldme1, mde, solves)
  }
}
