package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.algebra.{Coo, Multigrid}
import graft.graph.{Generators, PropertyGraph}

/** Multigrid Laplacian solver: closed-form effective resistance on
  * rings (series–parallel), agreement with CG where CG converges, and
  * the flat-cycle-count property on a long-diameter system where
  * 40-iteration CG is nowhere near convergence.
  */
class MultigridSpec extends SparkSpec {

  /** COO Laplacian of a weighted ring 0–1–…–(n−1)–0. */
  private def ringLaplacian(n: Int, w: Int => Double): DataFrame = {
    import spark.implicits._
    val entries = (0 until n).flatMap { i =>
      val j = (i + 1) % n
      Seq((i.toLong, j.toLong, -w(i)), (j.toLong, i.toLong, -w(i)),
        (i.toLong, i.toLong, w(i)), (j.toLong, j.toLong, w(i)))
    }
    entries.toDF("i", "j", "v").groupBy("i", "j").agg(sum("v").as("v"))
  }

  private def pairRhs(s: Long, t: Long, rhs: Long = 0L): DataFrame = {
    import spark.implicits._
    Seq((rhs, s, 1.0), (rhs, t, -1.0)).toDF("rhs", "i", "v")
  }

  /** A seeded connected graph of karate's size: nodes 0..33, each
    * attached to two earlier ones. */
  private def generated: PropertyGraph = Generators.barabasiAlbert(spark, 34, 2, seed = 7)

  private def diff(x: DataFrame, s: Long, t: Long): Double = {
    val m = x.filter(col("i").isin(s, t)).collect()
      .map(r => r.getLong(1) -> r.getDouble(2)).toMap
    m.getOrElse(s, 0.0) - m.getOrElse(t, 0.0)
  }

  test("unit ring: effective resistance matches d(n-d)/n exactly") {
    val n = 256
    val a = ringLaplacian(n, _ => 1.0)
    val x = Multigrid.solve(a, pairRhs(0, 128), tol = 1e-11)
    val r = diff(x, 0, 128)
    assert(math.abs(r - 128.0 * 128.0 / 256.0) < 1e-6, s"R=$r, want 64")
  }

  test("weighted ring: series-parallel closed form") {
    val n = 200
    def w(i: Int): Double = 1.0 + (i % 7)
    val a = ringLaplacian(n, w)
    val (s, t) = (0L, 71L)
    val arc1 = (0 until 71).map(i => 1.0 / w(i)).sum    // s→t clockwise
    val arc2 = (71 until n).map(i => 1.0 / w(i)).sum    // t→s the long way
    val want = arc1 * arc2 / (arc1 + arc2)
    val x = Multigrid.solve(a, pairRhs(s, t), tol = 1e-11)
    val r = diff(x, s, t)
    assert(math.abs(r - want) < 1e-6, s"R=$r, want $want")
  }

  test("batched rhs: three pairs solved in one hierarchy match singles") {
    import spark.implicits._
    val n = 128
    val a = ringLaplacian(n, _ => 1.0)
    val b = Seq((0L, 0L, 1.0), (0L, 64L, -1.0),
      (1L, 3L, 1.0), (1L, 40L, -1.0),
      (2L, 10L, 1.0), (2L, 11L, -1.0)).toDF("rhs", "i", "v")
    val x = Multigrid.solve(a, b, tol = 1e-11).persist()
    def d(rhs: Long, s: Long, t: Long): Double = {
      val m = x.filter(col("rhs") === rhs).filter(col("i").isin(s, t))
        .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
      m(s) - m(t)
    }
    assert(math.abs(d(0, 0, 64) - 64.0 * 64 / 128) < 1e-6)
    assert(math.abs(d(1, 3, 40) - 37.0 * (128 - 37) / 128) < 1e-6)
    assert(math.abs(d(2, 10, 11) - 1.0 * 127 / 128) < 1e-6)
  }

  test("generated Laplacian: multigrid agrees with converged CG") {
    val a = Coo.laplacianMatrix(generated)
    val x = Multigrid.solve(a, pairRhs(0, 33), tol = 1e-11)
    val cg = Coo.conjugateGradient(a, pairRhs(0, 33), maxIter = 200, tol = _ => 1e-22)
    val cgM = cg.collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val rMg = diff(x, 0, 33)
    val rCg = cgM(0L) - cgM(33L)
    assert(math.abs(rMg - rCg) < 1e-6, s"mg=$rMg cg=$rCg")
  }

  test("Electrical.effectiveResistance multigrid path matches CG") {
    val g = generated
    val pairs = Seq((0L, 33L), (5L, 16L), (2L, 8L))
    val cg = graft.graph.Electrical.effectiveResistance(g, pairs, maxIter = 200)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val mg = graft.graph.Electrical.effectiveResistance(g, pairs, solver = "multigrid")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    pairs.foreach { p =>
      assert(math.abs(cg(p) - mg(p)) < 1e-5, s"pair $p: cg=${cg(p)} mg=${mg(p)}")
    }
  }

  test("long ring: V-cycles converge where 40-iteration CG is far off") {
    val n = 4096
    val a = ringLaplacian(n, _ => 1.0).localCheckpoint(true)
    val b = pairRhs(0, n / 2)
    val x = Multigrid.solve(a, b, tol = 1e-9, maxCycles = 30)
    val r = diff(x, 0, n / 2)
    val want = (n / 2.0) * (n / 2.0) / n // 1024
    assert(math.abs(r - want) < 1e-4, s"mg R=$r, want $want")
    // CG on the same system, the engine's previous only solver: after 40
    // rounds (= 40 shuffles) its answer is nowhere near — the iteration
    // count scales with the diameter, which is the scale argument for
    // keeping a multilevel solver
    val cg = Coo.conjugateGradient(a, b, maxIter = 40, tol = _ => 1e-22)
    val cgM = cg.collect().map(r2 => r2.getLong(1) -> r2.getDouble(2)).toMap
    val rCg = cgM.getOrElse(0L, 0.0) - cgM.getOrElse(n / 2.toLong, 0.0)
    assert(math.abs(rCg - want) > 100.0,
      s"CG(40) unexpectedly converged ($rCg) — the multigrid rationale spec is stale")
  }
}
