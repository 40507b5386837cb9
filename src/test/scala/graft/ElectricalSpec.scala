package graft

import org.apache.spark.sql.functions._
import graft.graph._
import graft.io.GraphReaders

/** Electrical kernels: effective resistance / spanning-edge centrality,
  * forest + electrical closeness via batched CG. */
class ElectricalSpec extends SparkSpec {
  import spark.implicits._

  test("effectiveResistance: triangle edge = 2/3, bridge = 1 (exact)") {
    // triangle 0-1-2 plus bridge 2-3
    val g = PropertyGraph.fromEdges(
      Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L)).toDF("src", "dst"),
      directed = false)
    val r = Electrical.effectiveResistance(g, Seq((0L, 1L), (2L, 3L)), maxIter = 60)
      .collect().map(row => (row.getLong(0), row.getLong(1)) -> row.getDouble(2)).toMap
    assert(math.abs(r((0L, 1L)) - 2.0 / 3.0) < 1e-6, s"triangle ${r((0L, 1L))}")
    assert(math.abs(r((2L, 3L)) - 1.0) < 1e-6, s"bridge ${r((2L, 3L))}")
  }

  test("electricalCloseness exactTrace: cycle closed form 6/(n+1) to 1e-6") {
    // C_24 is vertex-transitive with Σ_u r(v,u) = (n²−1)/6 exactly, so
    // closeness = (n−1)/((n²−1)/6) = 6/(n+1) — the x87 gate's cycle leg
    val n = 24
    val cyc = Generators.regularRingLattice(spark, n, 1)
    val cc = Electrical.electricalCloseness(cyc, Seq(0L, 3L, 17L),
      maxIter = 60, exactTrace = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = 6.0 / (n + 1)
    cc.foreach { case (id, c) =>
      assert(math.abs(c - want) < 1e-6, s"node $id closeness $c vs $want")
    }
    assert(cc.keySet == Set(0L, 3L, 17L))
  }

  test("batched CG solves k systems together and matches a dense solve") {
    val g = PropertyGraph.fromEdges(
      Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst"),
      directed = false)
    import graft.algebra.Coo
    val lap = Coo.laplacianMatrix(g)
    val eye = g.vertices.select(col("id").as("i"), col("id").as("j"), lit(1.0).as("v"))
    val a = Coo.eWiseAdd(lap, eye)
    val b = Seq((0L, 0L, 1.0), (1L, 3L, 1.0)).toDF("rhs", "i", "v")
    val batch = Coo.conjugateGradient(a, b, maxIter = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // Gauss–Jordan elimination on the dense 5×5 system, one column per rhs
    val n = 5
    val m = Array.ofDim[Double](n, n + 2)
    a.collect().foreach(r => m(r.getLong(0).toInt)(r.getLong(1).toInt) += r.getDouble(2))
    m(0)(n) = 1.0; m(3)(n + 1) = 1.0
    for (c <- 0 until n) {
      val piv = (c until n).maxBy(r => math.abs(m(r)(c)))
      val t = m(c); m(c) = m(piv); m(piv) = t
      val d = m(c)(c)
      for (k <- c until n + 2) m(c)(k) /= d
      for (r <- 0 until n if r != c) {
        val f = m(r)(c)
        for (k <- c until n + 2) m(r)(k) -= f * m(c)(k)
      }
    }
    for (rhs <- 0 to 1; i <- 0 until n)
      assert(math.abs(batch.getOrElse((rhs.toLong, i.toLong), 0.0) - m(i)(n + rhs)) < 1e-8,
        s"rhs $rhs row $i: cg ${batch.get((rhs.toLong, i.toLong))} dense ${m(i)(n + rhs)}")
  }

  test("forest closeness ranks the karate hub above the periphery") {
    val karate = GraphReaders.readMetis(spark, "/root/reference/input/karate.graph")
    val fc = Electrical.forestCloseness(karate, Seq(33L, 11L), probes = 6, maxIter = 60)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fc(33L) > 0 && fc(11L) > 0)
    assert(fc(33L) > fc(11L), s"hub ${fc(33L)} vs leaf ${fc(11L)}")
  }

  test("electrical closeness positive and hub-ranked on karate") {
    val karate = GraphReaders.readMetis(spark, "/root/reference/input/karate.graph")
    val ec = Electrical.electricalCloseness(karate, Seq(33L, 11L), probes = 6, maxIter = 60)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ec(33L) > 0 && ec(11L) > 0)
    assert(ec(33L) > ec(11L), s"hub ${ec(33L)} vs leaf ${ec(11L)}")
  }
}
