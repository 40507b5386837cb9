package graft.algebra

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.Fixpoint

/** Multilevel (algebraic-multigrid) solver for graph Laplacian systems
  * `L x = b` — the engine's answer to the reference's LAMG solver
  * (`include/networkit/numerics/LAMG/Lamg.hpp:36`, Livne & Brandt 2012).
  *
  * Documented deviation: LAMG's lean aggregation + elimination stages
  * are replaced by SMOOTHED AGGREGATION (Vaněk/Mandel/Brezina 1996):
  * pairwise strongest-neighbor matching builds a tentative piecewise-
  * constant prolongator, one damped-Jacobi sweep smooths it
  * (`P = (I − ω D⁻¹A) P_tent`, ω = 2/3), and the Galerkin product
  * `Pᵀ L P` — a COO [[Coo.mxm]] — forms each coarse operator. As in
  * LAMG itself, the cycle is KRYLOV-ACCELERATED: `solve` runs the
  * engine's one conjugate gradient, [[Coo.conjugateGradient]], with one
  * V(1,1)-cycle per iteration as its preconditioner. A bare
  * piecewise-constant V-cycle was measured to stall on long rings
  * (error contraction degrades with level count — the known UA-AMG
  * failure mode); the SA + PCG combination is the standard repair and
  * converges in an n-independent handful of iterations, where plain
  * CG's iteration count grows with √cond(L) — Θ(n) rounds on a ring or
  * path of n nodes.
  *
  * Scale design: every level's operator/prolongator is a COO DataFrame
  * built with joins + aggregations ([[Coo.mxm]] Galerkin products) and
  * stored once at setup; vectors ride `(rhs, i, v)` so k right-hand
  * sides advance through one V-cycle together. The only driver work is
  * the O(coarsestN²) dense solve at the coarsest level — a
  * constant-size object by construction, the standard multigrid
  * coarse-grid bound. Setup, each V-cycle and each solve run in a
  * [[Fixpoint.scope]]: a hierarchy keeps only its levels' storage, a
  * solve only its solution's.
  */
object Multigrid {

  /** One level of the hierarchy: operator `a` (COO `(i,j,v)`), inverse
    * diagonal `dinv` (`(i, v)`), prolongator `p` to THIS level from the
    * coarser one (`(i fine, j coarse, v=1)`), nodes. `gsColors` (proper
    * coloring of the level operator + its color ids in sweep order) is
    * present when the hierarchy was set up with
    * `smoother = "gauss-seidel"` — the smoothing sweeps then run
    * multi-color [[GaussSeidel]] instead of damped Jacobi. */
  final case class Level(a: DataFrame, dinv: DataFrame,
      p: Option[DataFrame], n: Long,
      gsColors: Option[(DataFrame, Seq[Int])] = None)

  /** Pairwise aggregation `(i, agg)` for one coarsening step, stored:
    * each node points at its strongest off-diagonal neighbor (|v|,
    * symmetric-hash jitter to break ties deterministically), mutual
    * pairs merge (aggregate id = smaller member), and unmatched nodes
    * attach to their best neighbor's aggregate when it has one. Guard:
    * if the step coarsens by < 10 %, fall back to blind id-halving
    * (⌊i/2⌋ pairing) so setup always terminates. */
  private[graft] def aggregate(a: DataFrame): DataFrame = Fixpoint.scope { st =>
    val off = a.filter(col("i") =!= col("j"))
      .select(col("i"), col("j"),
        (abs(col("v")) * (lit(1.0) + lit(1e-6) *
          (pmod(xxhash64(least(col("i"), col("j")),
            greatest(col("i"), col("j"))), lit(1000L)).cast("double") / 1000.0)))
          .as("s"))
    val best = st.cut(off.groupBy("i")
      .agg(max(struct(col("s"), (-col("j")).as("nj"))).as("m"))
      .select(col("i"), (-col("m.nj")).as("b")))
    val nNodes = a.select(col("i")).distinct().count()
    val mutual = st.cut(best.as("x")
      .join(best.as("y"), col("x.b") === col("y.i") && col("y.b") === col("x.i"))
      .filter(col("x.i") < col("x.b"))
      .select(col("x.i").as("root"), col("x.b").as("mate")))
    val members = mutual.select(col("root").as("i"), col("root").as("agg"))
      .unionAll(mutual.select(col("mate").as("i"), col("root").as("agg")))
    val unmatched = best.join(members.select(col("i")), Seq("i"), "left_anti")
    val attached = unmatched
      .join(members.select(col("i").as("b"), col("agg")), Seq("b"))
      .select(col("i"), col("agg"))
    val leftover = unmatched.select("i")
      .join(attached.select("i"), Seq("i"), "left_anti")
      .select(col("i"), col("i").as("agg"))
    val agg = members.unionAll(attached).unionAll(leftover)
    val nAgg = agg.select("agg").distinct().count()
    st.cut(if (nAgg <= nNodes * 0.9) agg
      else a.select(col("i")).distinct()
        .select(col("i"), (col("i") - pmod(col("i"), lit(2L))).as("agg")))
  }

  /** Build the level hierarchy. `smoother` picks the relaxation used by
    * every V-cycle against this hierarchy: `"jacobi"` (default, one
    * join per sweep) or `"gauss-seidel"` (the reference's
    * `GaussSeidelRelaxation` smoother in its multi-color parallel form —
    * one join per color class per sweep; colorings are computed here,
    * once per level, and reused by every later solve). */
  def setup(a0: DataFrame, coarsestN: Int = 64, maxLevels: Int = 25,
      smoother: String = "jacobi"): Seq[Level] = Fixpoint.scope { st =>
    var a = st.cut(a0.select(col("i"), col("j"), col("v")))
    var n = a.select("i").distinct().count()
    val levels = scala.collection.mutable.ArrayBuffer.empty[Level]
    var p: Option[DataFrame] = None
    var done = false
    while (!done) {
      val dinv = st.cut(a.filter(col("i") === col("j")).filter(col("v") =!= 0.0)
        .select(col("i"), (lit(1.0) / col("v")).as("v")))
      val gs = if (smoother == "gauss-seidel") {
        val cols = GaussSeidel.colorMatrix(a)
        val ids = cols.select("color").distinct()
          .collect().map(_.getInt(0)).sorted.toSeq
        Some((cols, ids))
      } else None
      levels += Level(a, dinv, p, n, gs)
      if (n <= coarsestN || levels.size >= maxLevels) done = true
      else {
        val pTent = aggregate(a).select(col("i"), col("agg").as("j"), lit(1.0).as("v"))
        // smoothed-aggregation prolongator: P = (I − ω D⁻¹A) P_tent,
        // ω = 2/3 (λmax(D⁻¹L) ≤ 2). Row sums stay 1 (A·1 = 0), so the
        // Galerkin coarse operator remains a Laplacian.
        val da = a.join(dinv.select(col("i"), col("v").as("dv")), "i")
          .select(col("i"), col("j"), (col("v") * col("dv")).as("v"))
        val dap = Coo.mxm(da, pTent)
        val pNew = st.cut(pTent
          .unionAll(dap.select(col("i"), col("j"), (col("v") * (-2.0 / 3.0)).as("v")))
          .groupBy("i", "j").agg(sum("v").as("v"))
          .filter(abs(col("v")) > 1e-300))
        // Galerkin: A_c = Pᵀ A P — two COO products
        val ap = Coo.mxm(a, pNew)
        val ac = st.cut(Coo.mxm(Coo.transpose(pNew), ap).filter(col("v") =!= 0.0))
        val nc = ac.select("i").distinct().count()
        if (nc >= n) done = true // safety: no progress, stop here
        else { a = ac; n = nc; p = Some(pNew) }
      }
    }
    levels.toSeq
  }

  /** One damped-Jacobi sweep on A x = b from x0 (ω = 2/3). */
  private def jacobi(st: Fixpoint.Scope, l: Level, b: DataFrame, x0: DataFrame): DataFrame = {
    val corr = Coo.residual(l.a, b, x0).join(l.dinv.select(col("i"), col("v").as("dv")), "i")
      .select(col("rhs"), col("i"), (col("v") * col("dv") * (2.0 / 3.0)).as("v"))
    st.cut(Coo.axpy(x0, lit(1.0), corr))
  }

  /** One smoothing sweep: multi-color Gauss–Seidel when the hierarchy
    * was set up with it, damped Jacobi otherwise. */
  private def smooth(st: Fixpoint.Scope, l: Level, b: DataFrame, x0: DataFrame): DataFrame =
    l.gsColors match {
      case Some((cols, ids)) => GaussSeidel.sweep(st, l.a, b, x0, cols, ids)
      case None => jacobi(st, l, b, x0)
    }

  /** Dense coarsest-level solve on the driver: Laplacian pinned at the
    * smallest node id (row/col identity) per rhs — O(coarsestN³), a
    * constant by construction. */
  private def coarseSolve(l: Level, b: DataFrame): DataFrame = {
    val spark = b.sparkSession
    import spark.implicits._
    val ids = l.a.select(col("i")).distinct().orderBy("i").as[Long].collect()
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    val aRows = l.a.select("i", "j", "v").as[(Long, Long, Double)].collect()
    val bRows = b.select("rhs", "i", "v").as[(Long, Long, Double)].collect()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    bRows.groupBy(_._1).foreach { case (rhs, rows) =>
      val m = Array.ofDim[Double](n, n + 1)
      aRows.foreach { case (i, j, v) =>
        (idx.get(i), idx.get(j)) match {
          case (Some(ii), Some(jj)) => m(ii)(jj) += v
          case _ =>
        }
      }
      rows.foreach { case (_, i, v) => idx.get(i).foreach(ii => m(ii)(n) += v) }
      // pin node 0: identity row/col, zero rhs
      for (k <- 0 until n) { m(0)(k) = 0.0; m(k)(0) = 0.0 }
      m(0)(0) = 1.0; m(0)(n) = 0.0
      // Gaussian elimination with partial pivoting
      for (c <- 0 until n) {
        var piv = c
        for (r2 <- c + 1 until n) if (math.abs(m(r2)(c)) > math.abs(m(piv)(c))) piv = r2
        val t = m(c); m(c) = m(piv); m(piv) = t
        val d = m(c)(c)
        if (math.abs(d) > 1e-300) {
          for (k <- c to n) m(c)(k) /= d
          for (r2 <- 0 until n if r2 != c) {
            val f = m(r2)(c)
            if (f != 0.0) for (k <- c to n) m(r2)(k) -= f * m(c)(k)
          }
        }
      }
      for (k <- 0 until n) out += ((rhs, ids(k), m(k)(n)))
    }
    spark.createDataset(out.toSeq).toDF("rhs", "i", "v")
  }

  /** One V(1,1)-cycle for the error equation A e = r at `levels(d)`:
    * a stored frame, or the coarsest level's driver-built one. */
  private def vcycle(levels: Seq[Level], d: Int, r: DataFrame): DataFrame = Fixpoint.scope { st =>
    val l = levels(d)
    if (d == levels.size - 1) coarseSolve(l, r)
    else {
      val x = smooth(st, l, r, r.select(col("rhs"), col("i"), lit(0.0).as("v")).limit(0))
      val pc = levels(d + 1).p.get // prolongator INTO level d+1's parent = d
      val rc = st.cut(Coo.mxvBatch(Coo.transpose(pc), Coo.residual(l.a, r, x)))
      val xc = vcycle(levels, d + 1, rc)
      smooth(st, l, r, st.cut(Coo.axpy(x, lit(1.0), Coo.mxvBatch(pc, xc))))
    }
  }

  /** Solve `L x = b` for every rhs in `b` (`(rhs, i, v)`, each rhs
    * mean-zero for a singular Laplacian). Returns `(rhs, i, v)` with
    * each solution projected mean-zero over the operator's node set.
    * Conjugate gradient preconditioned by one V(1,1)-cycle per
    * iteration (LAMG's Krylov-accelerated design); stops when every
    * rhs's relative residual ≤ `tol` or after `maxCycles` iterations. */
  def solve(a: DataFrame, b0: DataFrame, tol: Double = 1e-10,
      maxCycles: Int = 40, coarsestN: Int = 64): DataFrame =
    Fixpoint.scope(_ => solvePrepared(setup(a, coarsestN), b0, tol, maxCycles))

  /** [[solve]] against a hierarchy built once with [[setup]] — the
    * reference solver's `setupConnected` + repeated-solve pattern
    * (MaxentStress runs hundreds of solves on one Laplacian). `x0`
    * warm-starts the iteration (the reference's in/out solution vector:
    * MaxentStress passes the previous coordinates, so late solves need
    * only a correction). */
  def solvePrepared(levels: Seq[Level], b0: DataFrame, tol: Double = 1e-10,
      maxCycles: Int = 40, x0: Option[DataFrame] = None): DataFrame = Fixpoint.scope { st =>
    val top = levels.head
    val b = st.cut(b0.select(col("rhs"), col("i"), col("v")))
    // ‖r‖/‖b‖ ≤ tol as a bound on ‖r‖² per rhs
    val bound = Coo.norm2(b).map { case (k, v) =>
      k -> math.pow(tol * math.max(math.sqrt(v), 1e-300), 2) }
    val x = Coo.conjugateGradient(top.a, b, maxCycles, bound,
      x0.map(_.select(col("rhs"), col("i"), col("v"))), Some(vcycle(levels, 0, _)))
    // project each solution mean-zero over the full node set
    val means = x.groupBy("rhs").agg((sum("v") / top.n).as("mean"))
    x.join(means, "rhs")
      .select(col("rhs"), col("i"), (col("v") - col("mean")).as("v"))
  }
}
