package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.algebra.Coo

/** Electrical-network centralities over the graph Laplacian (reference
  * `centrality/SpanningEdgeCentrality.hpp:22`,
  * `ApproxElectricalCloseness.hpp:35`, `ForestCentrality.hpp:24`):
  * effective resistance per edge (= spanning-edge centrality),
  * electrical (current-flow) closeness from the Laplacian pseudoinverse
  * diagonal, and forest closeness from the forest-matrix (I+L)⁻¹
  * diagonal.
  *
  * Where the reference samples uniform spanning trees to estimate the
  * diagonals, this implementation solves the corresponding linear
  * systems with the engine's batched conjugate gradient
  * ([[Coo.conjugateGradient]]): all right-hand sides ride one
  * distributed iteration keyed by `rhs`, so k systems cost the same
  * number of Spark rounds as one (documented deviation: CG in place of
  * UST sampling; same quantities, different estimator). Trace terms use
  * Hutchinson probing with hash-sign Rademacher vectors. Each call runs
  * in a [[Fixpoint.scope]].
  */
object Electrical {

  /** Effective resistance for the queried node pairs: solve
    * L x = e_u − e_v per pair (batched), r(u,v) = x_u − x_v (reference
    * `SpanningEdgeCentrality.hpp:22` — for an edge this IS its
    * spanning-edge centrality, the probability it appears in a uniform
    * spanning tree). `(u, v, resistance)`. */
  def effectiveResistance(g: PropertyGraph, pairs: Seq[(Long, Long)],
      maxIter: Int = 40, solver: String = "cg"): DataFrame = Fixpoint.scope { st =>
    val spark = g.edges.sparkSession
    import spark.implicits._
    val lap = Coo.laplacianMatrix(g)
    val b = pairs.zipWithIndex.flatMap { case ((u, v), k) =>
      Seq((k.toLong, u, 1.0), (k.toLong, v, -1.0))
    }.toDF("rhs", "i", "v")
    // "multigrid" = the LAMG-class [[graft.algebra.Multigrid]] path —
    // the right pick on long-diameter graphs where CG's iteration count
    // grows with the diameter; "cg" remains the small-diameter default
    val x =
      if (solver == "multigrid")
        graft.algebra.Multigrid.solve(lap, b, tol = 1e-12, maxCycles = maxIter)
      else Coo.conjugateGradient(st.cut(lap), b, maxIter)
    val pairDf = pairs.zipWithIndex.map { case ((u, v), k) => (k.toLong, u, v) }
      .toDF("rhs", "u", "v")
    val xu = x.select(col("rhs"), col("i").as("u"), col("v").as("xu"))
    val xv = x.select(col("rhs"), col("i").as("v"), col("v").as("xv"))
    pairDf.join(xu, Seq("rhs", "u"), "left").join(xv, Seq("rhs", "v"), "left")
      .select(col("u"), col("v"),
        (coalesce(col("xu"), lit(0.0)) - coalesce(col("xv"), lit(0.0))).as("resistance"))
  }

  /** Spanning-edge centrality for `sampleEdges` hash-sampled edges
    * (reference `ApproxSpanningEdge.hpp:22` samples too; the estimator
    * differs — see object doc). `(u, v, resistance)`. */
  def spanningEdgeCentrality(g: PropertyGraph, sampleEdges: Int = 10,
      maxIter: Int = 40, seed: Long = 42): DataFrame = {
    val edges = PropertyGraph.canonicalizeUndirected(
        g.adjacency.filter(col("src") =!= col("dst"))).select("src", "dst")
      .orderBy(xxhash64(lit(seed), col("src"), col("dst")).asc, col("src").asc, col("dst").asc)
      .limit(sampleEdges).collect().map(r => (r.getLong(0), r.getLong(1)))
    effectiveResistance(g, edges.toSeq, maxIter)
  }

  /** The targets' diagonal entries of A⁻¹ and a Hutchinson estimate of
    * its trace, from one batched solve of `a` (stored): rhs k is the
    * unit vector of `targets(k)`, rhs 1000 + p the p-th hash-sign
    * Rademacher probe (none when `probes` is 0). With `center` every rhs
    * is shifted ⊥ 1, the solvable subspace of the singular Laplacian.
    * The diagonal is one collect; the trace is mean_p z_pᵀ x_p. */
  private def diagonalAndTrace(st: Fixpoint.Scope, a: DataFrame, g: PropertyGraph,
      n: Long, targets: Seq[Long], probes: Int, seed: Long, maxIter: Int,
      center: Boolean): (Map[Long, Double], Double) = {
    val spark = a.sparkSession
    import spark.implicits._
    val tgt = targets.zipWithIndex.map { case (v, k) => (k.toLong, v) }.toDF("rhs", "tgt")
    val unit =
      if (center) g.vertices.join(tgt).select(col("rhs"), col("id").as("i"),
        (when(col("id") === col("tgt"), 1.0).otherwise(0.0) - lit(1.0 / n)).as("v"))
      else tgt.select(col("rhs"), col("tgt").as("i"), lit(1.0).as("v"))
    val z = g.vertices.select(
      explode(array((0 until probes).map(p => lit(1000L + p)): _*)).as("rhs"),
      col("id").as("i"),
      (lit(1.0) - lit(2.0) * pmod(xxhash64(lit(seed), col("rhs"), col("id")), lit(2L))).as("v"))
    val zc = if (!center) z else z.join(z.groupBy("rhs").agg(avg("v").as("mu")), "rhs")
      .select(col("rhs"), col("i"), (col("v") - col("mu")).as("v"))
    val b = st.cut(if (probes == 0) unit else unit.unionByName(zc))
    val x = Coo.conjugateGradient(a, b, maxIter)
    val diag = x.join(tgt, "rhs").filter(col("i") === col("tgt"))
      .select("tgt", "v").as[(Long, Double)].collect().toMap
    val trace = if (probes == 0) 0.0 else x
      .join(b.filter(col("rhs") >= 1000L).select(col("rhs"), col("i"), col("v").as("zv")),
        Seq("rhs", "i"))
      .agg(coalesce(sum(col("v") * col("zv")), lit(0.0))).head.getDouble(0) / probes
    (diag, trace)
  }

  /** Forest closeness for the candidate nodes (reference
    * `ForestCentrality.hpp:24`, van der Grinten et al. SDM 2021):
    * with Ω = (I+L)⁻¹, forest farness(v) = n·Ω_vv + tr(Ω) − 2 (Ω·1 = 1),
    * closeness = n / farness. Diagonal entries come from batched e_v
    * solves; tr(Ω) from `probes` Hutchinson vectors. `(id, closeness)`. */
  def forestCloseness(g: PropertyGraph, candidates: Seq[Long], probes: Int = 4,
      maxIter: Int = 40, seed: Long = 42): DataFrame = Fixpoint.scope { st =>
    val spark = g.edges.sparkSession
    import spark.implicits._
    val n = g.vertices.count()
    val eye = g.vertices.select(col("id").as("i"), col("id").as("j"), lit(1.0).as("v"))
    val a = st.cut(Coo.eWiseAdd(Coo.laplacianMatrix(g), eye))
    val (diag, trace) = diagonalAndTrace(st, a, g, n, candidates, probes, seed, maxIter,
      center = false)
    candidates.distinct.map { v =>
      val farness = n * diag.getOrElse(v, 0.0) + trace - 2.0
      (v, if (farness <= 0) 0.0 else n / farness)
    }.toDF("id", "closeness")
  }

  /** Electrical (current-flow) closeness for the candidates (reference
    * `ApproxElectricalCloseness.hpp:35`, `ApproxElectricalCloseness.cpp:538`):
    * with L⁺ the pseudoinverse, farness(v) = n·L⁺_vv + tr(L⁺) and
    * closeness = (n−1) / farness — the reference normalizes by n−1, i.e.
    * (n−1)/(n·diag + trace). Solves use
    * the centered rhs e_v − 1/n (⊥ 1, so CG stays in the solvable
    * subspace); probe vectors are centered the same way.
    * `exactTrace = true` replaces the Hutchinson estimate with the sum
    * of ALL n diagonal solves — the analog of the reference test's
    * `computeExactDiagonal` baseline (one rhs per node, so reserve it
    * for exactness gates / small graphs). `(id, closeness)`. */
  def electricalCloseness(g: PropertyGraph, candidates: Seq[Long], probes: Int = 4,
      maxIter: Int = 40, seed: Long = 42,
      exactTrace: Boolean = false): DataFrame = Fixpoint.scope { st =>
    val spark = g.edges.sparkSession
    import spark.implicits._
    val n = g.vertices.count()
    val lap = st.cut(Coo.laplacianMatrix(g))
    val targets =
      if (exactTrace) g.vertices.select(col("id")).as[Long].collect().sorted.toSeq
      else candidates
    val (diag, hutchinson) = diagonalAndTrace(st, lap, g, n, targets,
      if (exactTrace) 0 else probes, seed, maxIter, center = true)
    val trace = if (exactTrace) diag.values.sum else hutchinson
    candidates.distinct.map { v =>
      val farness = n * diag.getOrElse(v, 0.0) + trace
      (v, if (farness <= 0) 0.0 else (n - 1.0) / farness)
    }.toDF("id", "closeness")
  }
}
