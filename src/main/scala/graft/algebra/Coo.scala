package graft.algebra

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.graph.Fixpoint

/** GraphBLAS-style algebra on COO DataFrames `(i LONG, j LONG, v DOUBLE)`
  * (reference: `algebraic/GraphBLAS.hpp:202,225,245` MxM/MxV/eWise,
  * `Semirings.hpp:25-157`, `CSRGeneralMatrix.hpp:38`; SURVEY.md §2.11).
  *
  * A semiring is an (add-aggregate, multiply-column) pair of Catalyst
  * expressions — swapping `sum/×` for `min/+` turns matmul into
  * shortest-path relaxation, exactly as in the reference's template
  * parameterization, but here the plan stays declarative so Catalyst
  * still prunes/pushes/broadcasts.
  */
object Coo {

  /** (addAgg, mult): addAgg folds the "products" column. */
  final case class Semiring(
      add: Column => Column,
      mult: (Column, Column) => Column,
      name: String)

  val arithmetic: Semiring = Semiring(sum, _ * _, "arithmetic") // Σ, ×
  val minPlus: Semiring = Semiring(min, _ + _, "min-plus") // shortest path
  val maxPlus: Semiring = Semiring(max, _ + _, "max-plus") // longest path
  val maxMin: Semiring = Semiring(max, least(_, _), "max-min") // widest path
  val boolOr: Semiring = Semiring( // reachability
    c => max(c), (a, b) => when(a =!= 0.0 && b =!= 0.0, 1.0).otherwise(0.0), "bool")

  /** y = A ⊗ x (reference `GraphBLAS::MxV`): join on the inner index,
    * fold per row — one shuffle keyed j, one keyed i. */
  def mxv(a: DataFrame, x: DataFrame, sr: Semiring = arithmetic): DataFrame =
    a.join(x.select(col("i").as("j"), col("v").as("xv")), "j")
      .groupBy(col("i"))
      .agg(sr.add(sr.mult(col("v"), col("xv"))).as("v"))
      .select(col("i"), col("v"))

  /** C = A ⊗ B (reference `GraphBLAS::MxM`): equi-join A.j = B.i then
    * fold per (i, k). At scale: broadcast the small side, or
    * pre-partition both on the contraction index. */
  def mxm(a: DataFrame, b: DataFrame, sr: Semiring = arithmetic): DataFrame =
    a.select(col("i"), col("j"), col("v").as("av"))
      .join(b.select(col("i").as("j"), col("j").as("k"), col("v").as("bv")), "j")
      .groupBy(col("i"), col("k"))
      .agg(sr.add(sr.mult(col("av"), col("bv"))).as("v"))
      .select(col("i"), col("k").as("j"), col("v"))

  /** Element-wise combine with union semantics (reference
    * `GraphBLAS::eWiseAdd`): missing cells treated as add-identity. */
  def eWiseAdd(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("i"), col("j"), col("v"))
      .unionAll(b.select(col("i"), col("j"), col("v")))
      .groupBy("i", "j").agg(sum("v").as("v"))

  /** Element-wise multiply with intersection semantics
    * (reference `GraphBLAS::eWiseMult`). */
  def eWiseMult(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("i"), col("j"), col("v").as("av"))
      .join(b.select(col("i"), col("j"), col("v").as("bv")), Seq("i", "j"))
      .select(col("i"), col("j"), (col("av") * col("bv")).as("v"))

  /** Transpose. */
  def transpose(a: DataFrame): DataFrame =
    a.select(col("j").as("i"), col("i").as("j"), col("v"))

  /** Adjacency matrix of a graph (reference `networkit/algebraic.py:35`). */
  def adjacencyMatrix(g: graft.graph.PropertyGraph): DataFrame =
    g.adjacency.select(col("src").as("i"), col("dst").as("j"),
      col("weight").as("v"))

  /** Graph Laplacian L = D − A (reference `networkit/algebraic.py:82`). */
  def laplacianMatrix(g: graft.graph.PropertyGraph): DataFrame = {
    val a = adjacencyMatrix(g)
    val d = a.groupBy("i").agg(sum("v").as("v"))
      .select(col("i"), col("i").as("j"), col("v"))
    eWiseAdd(d, a.select(col("i"), col("j"), (-col("v")).as("v")))
  }

  // ---- batched vectors `(rhs, i, v)`: k right-hand sides ride one
  // frame, and a missing row is 0 ----

  /** y = A x per rhs (A is rhs-agnostic). */
  private[graft] def mxvBatch(a: DataFrame, x: DataFrame): DataFrame =
    a.join(x.select(col("rhs"), col("i").as("j"), col("v").as("xv")), "j")
      .groupBy(col("rhs"), col("i")).agg(sum(col("v") * col("xv")).as("v"))

  /** x + c·y, with `c` a column over `rhs` (a literal or [[perRhs]]). */
  private[graft] def axpy(x: DataFrame, c: Column, y: DataFrame): DataFrame =
    x.select(col("rhs"), col("i"), col("v"))
      .unionAll(y.select(col("rhs"), col("i"), (col("v") * c).as("v")))
      .groupBy("rhs", "i").agg(sum("v").as("v"))

  /** b − A x per rhs. */
  private[graft] def residual(a: DataFrame, b: DataFrame, x: DataFrame): DataFrame =
    axpy(b, lit(-1.0), mxvBatch(a, x))

  /** Per-rhs squared norm `Σ v²`: one k-row collect. */
  private[graft] def norm2(x: DataFrame): Map[Long, Double] =
    x.groupBy("rhs").agg(sum(col("v") * col("v")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Per-rhs dot product of two distinct frames (a missing row is 0, so
    * the inner join is exact). */
  private def dot(x: DataFrame, y: DataFrame): Map[Long, Double] =
    x.select(col("rhs"), col("i"), col("v").as("xv"))
      .join(y.select(col("rhs"), col("i"), col("v").as("yv")), Seq("rhs", "i"))
      .groupBy("rhs").agg(sum(col("xv") * col("yv")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** The k per-rhs scalars as a map-literal lookup on `rhs`. */
  private def perRhs(c: Map[Long, Double]): Column =
    coalesce(element_at(typedLit(c), col("rhs")), lit(0.0))

  /** n / d per rhs, 0 where d vanishes. */
  private def ratio(n: Map[Long, Double], d: Map[Long, Double]): Map[Long, Double] =
    n.map { case (k, v) =>
      val dk = d.getOrElse(k, 0.0)
      k -> (if (math.abs(dk) > 1e-300) v / dk else 0.0)
    }

  /** Conjugate gradient for s.p.d. systems `A x_k = b_k`, the engine's
    * one CG (reference `numerics/ConjugateGradient.hpp:25`). `b` is
    * batched `(rhs, i, v)`: all systems advance in the same distributed
    * rounds, each round one MxV plus per-rhs aggregates that collect k
    * scalars; every vector op is distributed. System k is done when
    * ‖r_k‖² ≤ `tol(k)`, and the loop stops when all are or after
    * `maxIter` rounds. `x0` warm-starts it (default 0). `precondition`
    * applies M⁻¹ to a residual — [[Multigrid]]'s V-cycle, the
    * reference's LAMG-preconditioned solve; it must return a stored
    * frame or a plan that reads none of the residual's storage, since
    * the kernel retires each residual once no variable holds it. `a` and
    * `b` are read every round: pass them stored or local. Runs in a
    * [[Fixpoint.scope]]; the result's storage passes to the caller. */
  def conjugateGradient(a: DataFrame, b: DataFrame, maxIter: Int = 50,
      tol: Long => Double = _ => 1e-10, x0: Option[DataFrame] = None,
      precondition: Option[DataFrame => DataFrame] = None): DataFrame = Fixpoint.scope { st =>
    var x = x0.getOrElse(b.select(col("rhs"), col("i"), lit(0.0).as("v")))
    var r = x0.fold(b)(x => st.cut(residual(a, b, x)))
    var rr = norm2(r)
    def done = rr.forall { case (k, v) => v <= tol(k) }
    // without a preconditioner z is r, and p starts as z: a frame is
    // retired only once no variable holds it
    var z, p = r
    var rz = Map.empty[Long, Double]
    def drop(dfs: DataFrame*): Unit =
      st.retire(dfs.filterNot(d => Seq(x, r, z, p).exists(_ eq d)): _*)
    def direction(first: Boolean): Unit = {
      val (zOld, pOld) = (z, p)
      z = precondition.fold(r)(_(r))
      val rzNew = if (precondition.isEmpty) rr else dot(r, z)
      p = if (first) z else st.cut(axpy(z, perRhs(ratio(rzNew, rz)), pOld))
      rz = rzNew
      drop(zOld, pOld)
    }
    if (!done) direction(first = true)
    var it = 0
    while (!done && it < maxIter) {
      val ap = st.cut(mxvBatch(a, p))
      val alpha = ratio(rz, dot(p, ap))
      val (xOld, rOld) = (x, r)
      x = st.cut(axpy(x, perRhs(alpha), p))
      r = st.cut(axpy(r, perRhs(alpha.map { case (k, v) => k -> -v }), ap))
      drop(ap, xOld, rOld)
      rr = norm2(r)
      // convergence is checked before the next direction: the last
      // round computes no direction it would not use
      if (!done) direction(first = false)
      it += 1
    }
    x
  }
}
