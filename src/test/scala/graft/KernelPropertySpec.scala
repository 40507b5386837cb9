package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.graph._

/** Connected components, PageRank, label propagation, greedy
  * conductance expansion and triangles against tiny sequential references
  * (union-find, power iteration, synchronous relabelling, greedy
  * absorption, adjacency sets) on a generated graph, at several shuffle
  * widths. The graph carries the cases the distributed kernels
  * special-case or could get wrong: self-loops, duplicate and
  * anti-parallel edges, isolated vertices (only in the vertex table), a
  * 100-node path (many star rounds), a random component, and scattered
  * negative and positive ids so the component minimum is not an endpoint
  * of the path.
  */
class KernelPropertySpec extends SparkSpec {

  private case class Graph(edges: Seq[(Long, Long)], vertices: Seq[Long])

  private def generate(seed: Long): Graph = {
    val rnd = new scala.util.Random(seed)
    val nPath = 100
    val nRandom = 40
    val nIsolated = 5
    val total = nPath + nRandom + nIsolated
    // distinct ids in random order, both signs
    val ids = Iterator.continually(rnd.nextLong() % 1000000L).distinct.take(total).toIndexedSeq
    val pathIds = ids.take(nPath)
    val randomIds = ids.slice(nPath, nPath + nRandom)
    val path = pathIds.zip(pathIds.tail)
    val random = Seq.fill(60)((randomIds(rnd.nextInt(nRandom)), randomIds(rnd.nextInt(nRandom))))
    val loops = Seq(pathIds(7), randomIds(3), randomIds(11)).map(v => (v, v))
    val dups = rnd.shuffle(path ++ random).take(12)
    val antiParallel = rnd.shuffle(path ++ random).take(12).map(_.swap)
    Graph(rnd.shuffle(path ++ random ++ loops ++ dups ++ antiParallel), ids)
  }

  private def propertyGraph(gr: Graph, directed: Boolean, withVertices: Boolean): PropertyGraph = {
    import spark.implicits._
    val e = gr.edges.map { case (u, v) => (u, v, 1.0) }.toDF("src", "dst", "weight")
    val v = if (withVertices) Some(gr.vertices.toDF("id")) else None
    PropertyGraph(e, directed, v)
  }

  /** component = min id of its set; vertices without edges are their own */
  private def unionFind(gr: Graph, withVertices: Boolean): Map[Long, Long] = {
    val nodes = (if (withVertices) gr.vertices else Nil) ++ gr.edges.flatMap(e => Seq(e._1, e._2))
    val parent = scala.collection.mutable.Map(nodes.map(v => v -> v): _*)
    def find(v: Long): Long =
      if (parent(v) == v) v else { val r = find(parent(v)); parent(v) = r; r }
    gr.edges.foreach { case (u, v) =>
      val (a, b) = (find(u), find(v))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** The engine's PageRank semantics, sequentially: rank flows along
    * adjacency rows (an undirected edge both ways, so a self-loop counts
    * twice), sinks spread their rank uniformly. With `tol > 0` it stops
    * after the first span whose L1 change is under `tol`, a span being 4
    * steps when no sink has an in-edge and 1 otherwise. */
  private def powerIteration(gr: Graph, directed: Boolean, withVertices: Boolean,
      damping: Double, iters: Int, tol: Double = 0.0): Map[Long, Double] = {
    val adj = if (directed) gr.edges else gr.edges ++ gr.edges.map(_.swap)
    val nodes = ((if (withVertices) gr.vertices else Nil) ++ adj.map(_._1)).distinct
    val n = nodes.size.toDouble
    val out = adj.groupBy(_._1).map { case (u, rows) => u -> rows.size.toDouble }
    val sinks = nodes.filterNot(out.contains)
    val span = if (sinks.exists(s => adj.exists(_._2 == s))) 1 else 4
    var rank = nodes.map(_ -> 1.0 / n).toMap
    var spanStart = rank
    var done = false
    for (i <- 0 until iters if !done) {
      val sinkMass = sinks.map(rank).sum
      val contrib = adj.groupBy(_._2).map { case (v, rows) =>
        v -> rows.map { case (u, _) => rank(u) / out(u) }.sum }
      rank = nodes.map(v => v ->
        ((1.0 - damping) / n + damping * (contrib.getOrElse(v, 0.0) + sinkMass / n))).toMap
      if (tol > 0 && ((i + 1) % span == 0 || i + 1 == iters)) {
        done = nodes.map(v => math.abs(rank(v) - spanStart(v))).sum < tol
        spanStart = rank
      }
    }
    rank
  }

  /** Synchronous label propagation over adjacency rows `(src, dst)`:
    * each node takes the label most frequent among the rows into it,
    * ties → the lowest `rank` of a sender carrying it, then the smallest
    * label; a node with no rows into it keeps its own. Stops after a
    * round that changes no label, or after `maxIter` rounds. */
  private def labelPropagation(adj: Seq[(Long, Long)], nodes: Seq[Long],
      rank: Long => Long, maxIter: Int): Map[Long, Long] = {
    val into = adj.groupBy(_._2)
    var label = nodes.map(v => v -> v).toMap
    var round = 0
    var changed = true
    while (round < maxIter && changed) {
      val next = label.map { case (v, own) =>
        val senders = into.getOrElse(v, Nil).map(_._1).filter(label.contains)
        v -> (if (senders.isEmpty) own
          else senders.groupBy(label).toSeq.minBy { case (l, us) =>
            (-us.size, us.map(rank).min, l) }._1)
      }
      changed = next != label
      label = next
      round += 1
    }
    label
  }

  /** Greedy conductance expansion over adjacency rows `(src, dst,
    * weight)` without self-loops: from `seeds`, absorb the boundary node
    * whose absorption gives the lowest cut/volume (ties → smallest id)
    * while that beats the current set's, up to `maxSize` members. A seed
    * set without edges is returned as it is. */
  private def greedyConductance(adj: Seq[(Long, Long, Double)], seeds: Seq[Long],
      maxSize: Int): Seq[Long] = {
    import Ordering.Double.TotalOrdering
    val deg = adj.groupBy(_._1).map { case (u, rows) => u -> rows.map(_._3).sum }
    var members = seeds.distinct
    val out = adj.filter(r => members.contains(r._1))
    if (out.nonEmpty) {
      var vol = out.map(_._3).sum
      var cut = out.filterNot(r => members.contains(r._2)).map(_._3).sum
      var grow = true
      while (grow && members.size < maxSize) {
        val cands = adj.filter(r => members.contains(r._2) && !members.contains(r._1))
          .groupBy(_._1).toSeq.map { case (v, rows) =>
            val newCut = cut + deg(v) - 2.0 * rows.map(_._3).sum
            val newVol = vol + deg(v)
            (newCut / newVol, v, newCut, newVol)
          }
        if (cands.isEmpty) grow = false
        else {
          val (score, v, newCut, newVol) = cands.minBy(c => (c._1, c._2))
          if (vol > 0 && score >= cut / vol - 1e-12) grow = false
          else { members :+= v; cut = newCut; vol = newVol }
        }
      }
    }
    members
  }

  /** Run `body` with every shuffle of the session `p` partitions wide
    * (AQE plans ENSURE_REQUIREMENTS exchanges at its own initial width
    * otherwise, so that is pinned too). */
  private def withPartitions[T](p: Int)(body: => T): T = {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, p.toString))
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` with the size switch at `bytes` (`None`: the default). */
  private def withThreshold[T](bytes: Option[Long])(body: => T): T =
    bytes.fold(body)(Fixpoint.localFinishBytes.withValue(_)(body))

  /** Every width runs the distributed kernels (threshold 0); the widest
    * also runs them at the default threshold and at `Long.MaxValue`,
    * where this graph finishes on the driver. */
  private def thresholds(p: Int): Seq[Option[Long]] =
    if (p == partitionCounts.last) Seq(Some(0L), None, Some(Long.MaxValue)) else Seq(Some(0L))

  private def collectLongs(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val partitionCounts = Seq(1, 3, 17)
  private val graph = generate(seed = 20260517L)

  test("generated graph has the cases it is meant to cover") {
    val comps = unionFind(graph, withVertices = true)
    assert(comps.values.toSet.size >= 2 + 5) // path, random part(s), isolated
    assert(graph.edges.exists { case (u, v) => u == v })
    assert(graph.edges.size > graph.edges.distinct.size)
    assert(graph.edges.exists(e => graph.edges.contains(e.swap) && e._1 != e._2))
  }

  for (p <- partitionCounts) test(s"ConnectedComponents.run matches union-find (partitions = $p)") {
    for (withVertices <- Seq(true, false)) {
      val g = propertyGraph(graph, directed = false, withVertices)
      val runs = thresholds(p).map(t => t -> withThreshold(t)(withPartitions(p)(ConnectedComponents.run(g))))
      for ((t, out) <- runs) {
        assert(collectLongs(out) == unionFind(graph, withVertices), s"withVertices = $withVertices, threshold $t")
        assert(out.schema == runs.head._2.schema, s"threshold $t")
      }
    }
  }

  test("ConnectedComponents.run finishes a shrunken tail on the driver after distributed rounds") {
    val g = propertyGraph(graph, directed = false, withVertices = true)
    // the initial state (every edge, 16 bytes a row) just misses the
    // threshold, a later, contracted one fits
    val between = Some(graph.edges.size * 16L)
    val jobs = Seq(Some(0L), between, Some(Long.MaxValue)).map { t =>
      val (out, n, _) = events(withThreshold(t)(ConnectedComponents.run(g)))
      assert(collectLongs(out) == unionFind(graph, withVertices = true), s"threshold $t")
      n
    }
    // a round (4 jobs) ran before the tail, and the tail saved rounds
    assert(jobs(1) >= jobs(2) + 4 && jobs(1) < jobs(0), s"jobs at 0, between, max: $jobs")
  }

  for (p <- partitionCounts) test(s"PageRank.run(tol = 0) matches power iteration (partitions = $p)") {
    val iters = 12
    for ((directed, withVertices) <- Seq((false, false), (false, true), (true, true))) {
      val g = propertyGraph(graph, directed, withVertices)
      val want = powerIteration(graph, directed, withVertices, 0.85, iters)
      val runs = thresholds(p).map(t => t -> withThreshold(t)(withPartitions(p)(
        PageRank.run(g, damping = 0.85, tol = 0.0, maxIter = iters))))
      for ((t, out) <- runs) {
        val what = s"directed = $directed, vertices = $withVertices, threshold $t"
        assertRanks(out, want, what)
        assert(out.schema == runs.head._2.schema, what)
      }
    }
  }

  // the isolated vertices are sinks without in-edges: 4-step spans, and
  // the stop is judged once per span
  test("PageRank.run(tol = 1e-6) stops after the reference's span on both paths") {
    val g = propertyGraph(graph, directed = false, withVertices = true)
    val want = powerIteration(graph, directed = false, withVertices = true, 0.85, 100, tol = 1e-6)
    for (t <- Seq(0L, Long.MaxValue)) withThreshold(Some(t)) {
      assertRanks(PageRank.run(g, damping = 0.85, tol = 1e-6, maxIter = 100), want, s"threshold $t")
    }
  }

  /** `out` is a relation built on the driver, not a distributed state. */
  private def builtOnDriver(out: DataFrame): Boolean =
    out.queryExecution.logical.collectFirst { case _: LocalRelation => () }.nonEmpty

  // an adjacency far under the switch, but a node table that alone comes
  // to the default bound, and a nullable id column at any bound: neither
  // is collected
  test("PageRank.run stays distributed for a large node table or nullable ids") {
    import spark.implicits._
    val isolated = (0L until Fixpoint.DefaultLocalFinishBytes / 8).map(_ + 2000000L)
    val big = graph.copy(vertices = graph.vertices ++ isolated)
    val e = propertyGraph(graph, directed = false, withVertices = false).edges
    val out = PageRank.run(PropertyGraph(e, directed = false, Some(big.vertices.toDF("id"))),
      damping = 0.85, tol = 0.0, maxIter = 4)
    assert(!builtOnDriver(out))
    assertRanks(out, powerIteration(big, directed = false, withVertices = true, 0.85, 4), "large node table")

    val nullable = spark.createDataFrame(spark.sparkContext.parallelize(graph.vertices.map(Row(_))),
      StructType(Seq(StructField("id", LongType, nullable = true))))
    val out2 = Fixpoint.localFinishBytes.withValue(Long.MaxValue)(PageRank.run(
      PropertyGraph(e, directed = false, Some(nullable)), damping = 0.85, tol = 0.0, maxIter = 4))
    assert(!builtOnDriver(out2))
    assertRanks(out2, powerIteration(graph, directed = false, withVertices = true, 0.85, 4), "nullable ids")
  }

  private def assertRanks(out: DataFrame, want: Map[Long, Double], what: String): Unit = {
    val got = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == want.keySet, what)
    val worst = want.map { case (v, r) => math.abs(got(v) - r) }.max
    assert(worst <= 1e-9, s"$what: max |Δ| = $worst")
  }

  private lazy val undirected = propertyGraph(graph, directed = false, withVertices = true)
  private lazy val adjacency =
    undirected.adjacency.collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSeq
  // round 4 is plp's first lazy cut, so 5 rounds run across one
  private val plpRounds = 5

  for (p <- partitionCounts) test(s"plp matches sequential label propagation (partitions = $p)") {
    val plp = withPartitions(p)(collectLongs(Community.plp(undirected, maxIter = plpRounds)))
    assert(plp == labelPropagation(adjacency, graph.vertices, _ => 0L, plpRounds))
  }

  // the same loop as plp, so one width checks the degree tie-break
  test("plpDegreeOrdered matches sequential label propagation by sender degree") {
    val degree = undirected.degrees.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Number]("degree").longValue).toMap
    val byDegree = withPartitions(partitionCounts.last)(
      collectLongs(Community.plpDegreeOrdered(undirected, maxIter = plpRounds)))
    assert(byDegree == labelPropagation(adjacency, graph.vertices, degree, plpRounds))
  }

  /** The triangles of the simple undirected graph under `edges` (loops
    * and repeats in either direction dropped), each as its sorted
    * nodes, and its neighbour sets. */
  private def triangleSets(edges: Seq[(Long, Long)]): (Set[Seq[Long]], Map[Long, Set[Long]]) = {
    val nbrs = edges.filter { case (u, v) => u != v }.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).toSet }
    val tris = for ((u, nu) <- nbrs.toSeq; v <- nu if u < v; w <- nu
      if v < w && nbrs(v).contains(w)) yield Seq(u, v, w)
    (tris.toSet, nbrs)
  }

  /** `triangleCount`, `triangles`, `perNode` and
    * `localClusteringCoefficient` of `g` against [[triangleSets]]. */
  private def assertTriangles(g: PropertyGraph, edges: Seq[(Long, Long)], what: String): Int = {
    val (want, nbrs) = triangleSets(edges)
    val count = Triangles.triangleCount(g)
    assert(count.schema == StructType(Seq(StructField("triangles", LongType, nullable = false))), what)
    assert(count.collect().map(_.getLong(0)).toSeq == Seq(want.size.toLong), what)
    // each triangle once, its nodes in the (degree, id) orientation order
    val rank = (v: Long) => (nbrs(v).size, v)
    val listed = Triangles.triangles(g).collect().map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(listed.map(_.sorted).toSet == want && listed.length == want.size, what)
    assert(listed.forall { case Seq(a, b, c) =>
      Ordering[(Int, Long)].lt(rank(a), rank(b)) && Ordering[(Int, Long)].lt(rank(b), rank(c)) }, what)
    val perNode = want.toSeq.flatten.groupBy(identity).map { case (v, ts) => v -> ts.size.toLong }
    assert(collectLongs(Triangles.perNode(g)) == perNode, what)
    val lcc = Triangles.localClusteringCoefficient(g).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(lcc.keySet == nbrs.keySet, what)
    for ((v, ns) <- nbrs) {
      val d = ns.size
      val ref = if (d < 2) 0.0 else 2.0 * perNode.getOrElse(v, 0L) / (d * (d - 1.0))
      assert(math.abs(lcc(v) - ref) <= 1e-12, s"$what: lcc of $v ${lcc(v)}, reference $ref")
    }
    want.size
  }

  for (p <- partitionCounts) test(s"triangle kernels match adjacency sets (partitions = $p)") {
    val g = propertyGraph(graph, directed = false, withVertices = true)
    val found = withPartitions(p)(assertTriangles(g, graph.edges, s"partitions = $p"))
    assert(found > 0)
  }

  test("triangle kernels on a directed multigraph with loops and an isolated vertex") {
    import spark.implicits._
    // triangle 1-2-3 given twice over and a loop, K4 on 4..7 with
    // reversed edges, a pendant 3-8, the isolated vertex 9
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 3L), (3L, 8L),
      (4L, 5L), (6L, 4L), (4L, 7L), (5L, 6L), (7L, 5L), (6L, 7L), (7L, 6L))
    val e = edges.map { case (u, v) => (u, v, 1.0) }.toDF("src", "dst", "weight")
    val g = PropertyGraph(e, directed = true, Some((1L to 9L).toDF("id")))
    assert(assertTriangles(g, edges, "directed") == 5)
  }

  test("global and average clustering coefficients in closed form") {
    import spark.implicits._
    def simpleGraph(edges: (Long, Long)*) = PropertyGraph(
      edges.map { case (u, v) => (u, v, 1.0) }.toDF("src", "dst", "weight"), directed = false)
    def scalar(df: DataFrame) = df.collect().map(_.getDouble(0)).toSeq
    val k4 = simpleGraph((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))
    val diamond = simpleGraph((1, 2), (1, 3), (2, 3), (2, 4), (3, 4)) // K4 without 1-4
    val star = simpleGraph((0, 1), (0, 2), (0, 3), (0, 4))
    def near(got: Seq[Double], want: Double) = got.size == 1 && math.abs(got.head - want) <= 1e-12
    assert(Triangles.triangleCount(k4).head.getLong(0) == 4)
    assert(near(scalar(Triangles.globalClusteringCoefficient(k4)), 1.0))
    assert(near(scalar(Triangles.averageClusteringCoefficient(k4)), 1.0))
    assert(Triangles.triangleCount(diamond).head.getLong(0) == 2)
    assert(near(scalar(Triangles.globalClusteringCoefficient(diamond)), 0.75)) // 3·2 / 8 wedges
    assert(near(scalar(Triangles.averageClusteringCoefficient(diamond)), 5.0 / 6)) // 2/3, 2/3, 1, 1
    assert(Triangles.triangleCount(star).head.getLong(0) == 0)
    assert(near(scalar(Triangles.globalClusteringCoefficient(star)), 0.0))
    assert(near(scalar(Triangles.averageClusteringCoefficient(star)), 0.0))
  }

  for (p <- partitionCounts) test(s"expandSeed and expandSeedSet match greedy conductance (partitions = $p)") {
    val g = propertyGraph(graph, directed = false, withVertices = true)
    val adj = g.adjacency.collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"), r.getAs[Double]("weight")))
      .filter(r => r._1 != r._2).toSeq
    val ids = graph.vertices // 100 path nodes (the 8th has a self-loop), 40 random, 5 isolated
    def members(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq
    val maxSize = 4
    withPartitions(p) {
      for (seed <- Seq(ids(7), ids(144)))
        assert(members(Community.expandSeed(g, seed, maxSize)) ==
          greedyConductance(adj, Seq(seed), maxSize), s"seed $seed")
      val seeds = Seq(ids(50), ids(110), ids(50))
      assert(members(Scd.expandSeedSet(g, seeds, maxSize)) ==
        greedyConductance(adj, seeds, maxSize))
    }
  }
}
