package graft

import org.apache.spark.sql.functions._
import graft.graph._
import graft.algebra.Coo
import graft.io.GraphReaders
import graft.functions.FMSketch

/** Generators, algebra, sketches, matching/MSF/MIS, betweenness,
  * sparsification — invariants + golden-graph values. */
class ExtendedSpec extends SparkSpec {
  lazy val karate: PropertyGraph =
    GraphReaders.readMetis(spark, "/root/reference/input/karate.graph")

  test("erdos-renyi: deterministic per seed, edge count near expectation") {
    val g1 = Generators.erdosRenyi(spark, 400, 0.05, seed = 7)
    val g2 = Generators.erdosRenyi(spark, 400, 0.05, seed = 7)
    assert(g1.edges.except(g2.edges).isEmpty)
    val m = g1.numberOfEdges.toDouble
    val expected = 400.0 * 399 / 2 * 0.05
    assert(math.abs(m - expected) < 4 * math.sqrt(expected), s"m=$m exp=$expected")
  }

  test("rmat: node ids within 2^scale, deterministic") {
    val g = Generators.rmat(spark, 8, 4, seed = 3)
    assert(g.edges.filter(col("src") >= 256 || col("dst") >= 256).isEmpty)
    assert(g.edges.count() == 256 * 4)
    val g2 = Generators.rmat(spark, 8, 4, seed = 3)
    assert(g.edges.except(g2.edges).isEmpty)
  }

  test("watts-strogatz: beta=0 is the pure ring lattice") {
    val g = Generators.wattsStrogatz(spark, 100, 4, 0.0)
    assert(g.numberOfEdges == 200) // n*k/2
    val deg = g.degrees
    assert(deg.filter(col("degree") =!= 4).isEmpty)
  }

  test("sbm: intra-block denser than inter-block") {
    val g = Generators.stochasticBlockModel(spark, 300, 3, 0.2, 0.01, seed = 5)
    val intra = g.edges.filter(pmod(col("src"), lit(3L)) === pmod(col("dst"), lit(3L))).count()
    val inter = g.edges.count() - intra
    assert(intra > inter)
  }

  test("coo algebra: MxV on karate = weighted degree-neighbor sum; laplacian rows sum to 0") {
    val a = Coo.adjacencyMatrix(karate)
    val ones = karate.vertices.select(col("id").as("i"), lit(1.0).as("v"))
    val mv = Coo.mxv(a, ones) // = degree vector
    val deg = karate.degrees.select(col("id").as("i"), col("degree").cast("double").as("d"))
    assert(mv.join(deg, "i").filter(col("v") =!= col("d")).isEmpty)
    val lap = Coo.laplacianMatrix(karate).groupBy("i").agg(sum("v").as("s"))
    assert(lap.filter(abs(col("s")) > 1e-9).isEmpty)
  }

  test("coo mxm: A² diagonal = degree (unweighted)") {
    val a = Coo.adjacencyMatrix(GraphOps.toUnweighted(karate))
    val a2 = Coo.mxm(a, a)
    val diag = a2.filter(col("i") === col("j"))
      .select(col("i"), col("v"))
    val deg = karate.degrees.select(col("id").as("i"), col("degree").cast("double").as("d"))
    assert(diag.join(deg, "i").filter(col("v") =!= col("d")).isEmpty)
  }

  test("conjugate gradient solves a small s.p.d. system") {
    import spark.implicits._
    // A = [[4,1],[1,3]], b = [1,2] → x = [1/11, 7/11]
    val a = Seq((0L, 0L, 4.0), (0L, 1L, 1.0), (1L, 0L, 1.0), (1L, 1L, 3.0)).toDF("i", "j", "v")
    val b = Seq((0L, 0L, 1.0), (0L, 1L, 2.0)).toDF("rhs", "i", "v")
    val x = Coo.conjugateGradient(a, b).collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(math.abs(x(0L) - 1.0 / 11) < 1e-6)
    assert(math.abs(x(1L) - 7.0 / 11) < 1e-6)
  }

  test("FM sketch: estimate within 40% on 1000 distinct ids; merge = union") {
    import spark.implicits._
    val est = spark.range(1000)
      .select(FMSketch.fmInit(col("id")).as("sk"))
      .agg(FMSketch.fmMerge(col("sk")).as("sk"))
      .select(FMSketch.fmEstimate(col("sk"))).head.getDouble(0)
    assert(est > 600 && est < 1400, s"FM estimate $est for 1000")
  }

  test("ANF effective diameter of karate ≈ 3..5 (true eff. diam ~4)") {
    val ed = NeighborhoodFunction.effectiveDiameter(karate, 0.9)
    assert(ed >= 2 && ed <= 5, s"eff diameter $ed")
  }

  test("betweenness: karate top node is 0 or 33; zero for leaves") {
    val b = Betweenness.run(karate)
    val top = b.orderBy(desc("score")).select("id").head.getLong(0)
    assert(top == 0L || top == 33L)
    // node 11 connects only to node 0 → betweenness 0
    val leaf = b.filter(col("id") === 11).head.getDouble(1)
    assert(leaf == 0.0)
  }

  test("betweenness: distributed kernel matches broadcast kernel on karate") {
    val bc = Betweenness.runBroadcast(karate, sampleSources = None)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val di = Betweenness.runDistributed(karate, sampleSources = None)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bc.keySet == di.keySet)
    bc.foreach { case (id, s) =>
      assert(math.abs(s - di(id)) < 1e-6, s"node $id broadcast=$s distributed=${di(id)}")
    }
  }

  test("betweenness: sampled variant correlates with exact top-5") {
    val exact = Betweenness.run(karate).orderBy(desc("score"), asc("id"))
      .limit(5).select("id").collect().map(_.getLong(0)).toSet
    val approx = Betweenness.run(karate, sampleSources = Some(17))
      .orderBy(desc("score"), asc("id")).limit(5).select("id")
      .collect().map(_.getLong(0)).toSet
    assert((exact intersect approx).size >= 3)
  }

  test("suitor matching on karate: valid (disjoint endpoints), non-empty") {
    val m = Matching.suitor(karate)
    assert(m.count() > 0)
    val ends = m.select(col("u").as("id")).unionAll(m.select(col("v").as("id")))
    assert(ends.count() == ends.distinct().count()) // node in ≤ 1 pair
  }

  test("boruvka MSF on karate: n-1 edges for connected graph, weight = n-1 (unit)") {
    val f = SpanningForest.boruvka(karate)
    assert(f.count() == 33) // 34 nodes, connected
    assert(f.agg(sum("weight")).head.getDouble(0) == 33.0)
  }

  test("luby MIS on karate: independent and maximal") {
    val mis = IndependentSet.luby(karate)
    val v = IndependentSet.validate(karate, mis).head
    assert(v.getLong(1) == 0, "MIS has adjacent members")
    assert(v.getBoolean(2), "MIS not maximal")
  }

  test("hub labeling: exact with all-node hubs, upper bound with few hubs") {
    import spark.implicits._
    val pairs = Seq((0L, 26L), (11L, 33L), (16L, 25L), (4L, 9L)).toDF("u", "v")
    val exact = graph.HubLabeling.query(graph.HubLabeling.build(karate, 34), pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // ground truth via BFS from the pair sources
    val bfs = graph.ShortestPaths.bfs(karate,
        graph.ShortestPaths.sourcesOf(karate, Seq(0L, 11L, 16L, 4L)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(exact((0L, 26L)) == bfs((0L, 26L)))
    assert(exact((11L, 33L)) == bfs((11L, 33L)))
    assert(exact((16L, 25L)) == bfs((16L, 25L)))
    val approx = graph.HubLabeling.query(graph.HubLabeling.build(karate, 5), pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    approx.foreach { case (p, d) => assert(d >= bfs(p), s"$p: $d < ${bfs(p)}") }
  }

  test("dyn hub labeling: incremental insert equals rebuild from the same hubs") {
    import spark.implicits._
    val held = karate.edges.filter(col("src") < col("dst"))
      .orderBy(xxhash64(lit(4L), col("src"), col("dst"))).limit(4)
      .select("src", "dst").localCheckpoint(true)
    val base = karate.edges.join(held, Seq("src", "dst"), "left_anti")
      .join(held.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_anti")
    val g1 = PropertyGraph(base, directed = false, Some(karate.vertices))
    val hubs = karate.vertices.select(col("id").as("source")) // k = n → exact
    val inc = HubLabeling.insert(karate, HubLabeling.buildFrom(g1, hubs), held)
    val rebuilt = HubLabeling.buildFrom(karate, hubs)
    assert(inc.count() == rebuilt.count())
    assert(inc.except(rebuilt).isEmpty && rebuilt.except(inc).isEmpty)
  }

  test("sparsification: triangle score of karate edge (32,33) is high; threshold filters") {
    val scored = Sparsification.triangleScore(karate)
    val strong = scored.filter(col("src") === 32 && col("dst") === 33)
      .head.getLong(3)
    assert(strong >= 8) // hub pair shares many neighbors
    val sparse = Sparsification.globalThresholdFilter(scored, 3.0)
    assert(sparse.edges.count() < karate.numberOfEdges)
  }
}
