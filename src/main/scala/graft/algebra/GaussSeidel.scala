package graft.algebra

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.Fixpoint

/** Gauss–Seidel relaxation for COO systems `A x = b` — the engine's
  * port of the reference smoother
  * (`include/networkit/numerics/GaussSeidelRelaxation.hpp:22`,
  * `relax` at `:60`: sweep every row `x_i ← (b_i − Σ_{j≠i} a_ij x_j)/a_ii`
  * using the LATEST neighbor values, repeat until the relative residual
  * `‖Ax−b‖/‖b‖` drops below `tolerance` or `maxIterations` sweeps ran).
  *
  * Distributed ordering: the reference sweeps rows 0..n−1 sequentially —
  * an order that serializes the whole matrix through one thread. This
  * implementation is MULTI-COLOR Gauss–Seidel, the standard parallel
  * formulation: properly color the off-diagonal pattern (no two
  * adjacent rows share a color), then one sub-step per color class
  * updates all rows of that color simultaneously from the latest x.
  * Within a class no row reads another's value (the coloring is proper),
  * so the simultaneous update IS a sequential Gauss–Seidel sweep in any
  * row order that enumerates the classes in sequence — same fixed
  * point, same smoothing character, c joins per sweep instead of an
  * n-step serial chain. The sweep ordering is the one degree of freedom
  * Gauss–Seidel leaves open; red–black/multi-color is its textbook
  * parallel instantiation (documented deviation from the reference's
  * lexicographic order — iterates differ, the limit does not).
  *
  * Scale shape: a sweep is `c` (join + hash-agg) rounds, `c` = color
  * count of the matrix graph (small for the sparse Laplacians this
  * smooths: ≤ Δ+1, typically ≤ 8 after Jones–Plassmann). Vectors ride
  * `(rhs, i, v)` so batched right-hand sides advance through one sweep
  * together; the residual stop is one `groupBy("rhs")` aggregate per
  * sweep (a k-row collect). State is cut per sweep so lineage stays
  * O(1) across sweeps, and each call runs in a [[Fixpoint.scope]] that
  * frees every sweep but the result.
  */
object GaussSeidel {

  /** Jones–Plassmann greedy coloring of the off-diagonal pattern of COO
    * `a` (`(i, j, v)`), returning `(i, color)` for every row index.
    * Each round the uncolored rows that hold the (hash-jittered)
    * priority maximum among their uncolored neighbors take the smallest
    * color unused by their already-colored neighbors — an expected
    * O(log n)-round fixpoint, every round a join + aggregate. The
    * pattern is symmetrized first: if either `a_ij` or `a_ji` is
    * nonzero, rows i and j may not share a color (one's update reads
    * the other's value). */
  def colorMatrix(a: DataFrame, seed: Long = 42, maxRounds: Int = 64): DataFrame = Fixpoint.scope { st =>
    val nodes = st.cut(a.select(col("i")).distinct())
    val off = a.filter(col("i") =!= col("j")).select("i", "j")
    val adj = st.cut(off.unionAll(off.select(col("j").as("i"), col("i").as("j"))).distinct())
    val prio = st.cut(nodes.select(col("i"), xxhash64(col("i"), lit(seed)).as("p")))
    var colored = nodes.select(col("i"), lit(0).as("color")).limit(0)
    var uncolored = prio
    var round = 0
    while (round < maxRounds && !uncolored.isEmpty) {
      // priority maxima among UNCOLORED neighbors
      val unNbr = adj.join(uncolored.select(col("i")), Seq("i"))
        .join(uncolored.select(col("i").as("j"), col("p").as("pj")), Seq("j"))
        .groupBy("i").agg(max(struct(col("pj"), col("j"))).as("m"))
        .select(col("i"), col("m.pj").as("maxNbrP"), col("m.j").as("maxNbrId"))
      val winners = uncolored.join(unNbr, Seq("i"), "left")
        .filter(col("maxNbrP").isNull || col("p") > col("maxNbrP") ||
          (col("p") === col("maxNbrP") && col("i") > col("maxNbrId")))
        .select("i")
      // smallest color unused by colored neighbors (colors are dense
      // small ints: scan 0..|used|, first gap wins)
      val nbrColors = adj.join(winners, Seq("i"))
        .join(colored.select(col("i").as("j"), col("color")), Seq("j"))
        .groupBy("i").agg(collect_set(col("color")).as("used"))
      val assigned = winners.join(nbrColors, Seq("i"), "left")
        .select(col("i"),
          when(col("used").isNull, lit(0)).otherwise(
            element_at(filter(sequence(lit(0), size(col("used"))),
              c => !array_contains(col("used"), c)), 1)).as("color"))
      val (c0, u0) = (colored, uncolored)
      colored = st.cut(colored.unionAll(assigned))
      uncolored = st.cut(uncolored.join(assigned.select("i"), Seq("i"), "left_anti"))
      st.retire(c0, u0)
      round += 1
    }
    require(uncolored.isEmpty, s"colorMatrix did not finish in $maxRounds rounds")
    colored
  }

  /** One multi-color Gauss–Seidel sweep on `A x = b` from `x0`, cut in
    * `st` — the fixed-iteration smoother form (no residual stop; used as
    * the Multigrid smoother). `colors` is a proper coloring `(i, color)`
    * of the off-diagonal pattern; `colorIds` its distinct values in sweep
    * order. Vectors are sparse multi-rhs `(rhs, i, v)` (absent = 0). */
  private[graft] def sweep(st: Fixpoint.Scope, a: DataFrame, b: DataFrame, x0: DataFrame,
      colors: DataFrame, colorIds: Seq[Int]): DataFrame = {
    val off = a.filter(col("i") =!= col("j"))
    val diag = a.filter(col("i") === col("j"))
      .select(col("i"), col("v").as("d"))
    // rows to update each color step: EVERY matrix row of that color,
    // per rhs (b is sparse — a zero-rhs row still updates, its new
    // value is −sigma/d)
    val rhsSet = b.select("rhs").distinct()
    st.cut(colorIds.foldLeft(x0) { (x, c) =>
      val rows = diag.join(colors.filter(col("color") === c).select("i"), Seq("i"))
        .crossJoin(rhsSet)
        .join(b.select(col("rhs"), col("i"), col("v").as("b0")), Seq("rhs", "i"), "left")
        .select(col("rhs"), col("i"),
          coalesce(col("b0"), lit(0.0)).as("bv"), col("d"))
      // restrict sigma to this color's rows via the (distinct) color
      // node set — NOT rows.select("i"), which repeats each id once
      // per rhs and would multiply every off-diagonal contribution
      val sigma = off.join(colors.filter(col("color") === c).select("i"), Seq("i"))
        .join(x.select(col("rhs"), col("i").as("j"), col("v").as("xv")), Seq("j"))
        .groupBy("rhs", "i").agg(sum(col("v") * col("xv")).as("sigma"))
      val updated = rows.join(sigma, Seq("rhs", "i"), "left")
        .select(col("rhs"), col("i"),
          ((col("bv") - coalesce(col("sigma"), lit(0.0))) / col("d")).as("v"))
      val keep = x.join(colors.filter(col("color") === c).select("i"),
          Seq("i"), "left_anti")
        .select(col("rhs"), col("i"), col("v")) // anti-join reorders: re-fix positions
      keep.unionAll(updated)
    })
  }

  /** Reference-shaped entry point (`GaussSeidelRelaxation::relax`):
    * sweep until `maxIterations` or the per-rhs relative residual
    * `‖Ax−b‖ / ‖b‖ ≤ tolerance` (checked after every sweep, like the
    * reference's do–while). Pass `tolerance = 0` to run exactly
    * `maxIterations` sweeps with no residual actions (the deterministic
    * fixed-sweep form the x95 oracle replays). A caller-supplied proper
    * `colors` frame pins the sweep order (e.g. red–black on a path);
    * otherwise [[colorMatrix]] builds one. */
  def relax(a: DataFrame, b: DataFrame, x0: Option[DataFrame] = None,
      maxIterations: Int = 1000, tolerance: Double = 1e-15,
      colors: Option[DataFrame] = None): DataFrame = Fixpoint.scope { st =>
    val cols = colors.map(st.cut).getOrElse(colorMatrix(a))
    val colorIds = cols.select("color").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    var x = x0.getOrElse(b.select(col("rhs"), col("i"), lit(0.0).as("v")).limit(0))
    val bNorm = Coo.norm2(b)
    var it = 0
    var done = false
    while (it < maxIterations && !done) {
      val prev = x
      x = sweep(st, a, b, x, cols, colorIds)
      st.retire(prev)
      it += 1
      if (tolerance > 0 && it < maxIterations) {
        val res = Coo.norm2(Coo.residual(a, b, x))
        done = bNorm.forall { case (rhs, bn) =>
          math.sqrt(res.getOrElse(rhs, 0.0)) <= tolerance * math.max(math.sqrt(bn), 1e-300)
        }
      }
    }
    x
  }
}
