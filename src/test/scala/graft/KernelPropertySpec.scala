package graft

import org.apache.spark.sql.DataFrame
import graft.graph._

/** Connected components and PageRank against tiny sequential references
  * (union-find, power iteration) on a generated graph, at several
  * shuffle widths. The graph carries the cases the distributed kernels
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
    * twice), sinks spread their rank uniformly. */
  private def powerIteration(gr: Graph, directed: Boolean, withVertices: Boolean,
      damping: Double, iters: Int): Map[Long, Double] = {
    val adj = if (directed) gr.edges else gr.edges ++ gr.edges.map(_.swap)
    val nodes = ((if (withVertices) gr.vertices else Nil) ++ adj.map(_._1)).distinct
    val n = nodes.size.toDouble
    val out = adj.groupBy(_._1).map { case (u, rows) => u -> rows.size.toDouble }
    val sinks = nodes.filterNot(out.contains)
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until iters) {
      val sinkMass = sinks.map(rank).sum
      val contrib = adj.groupBy(_._2).map { case (v, rows) =>
        v -> rows.map { case (u, _) => rank(u) / out(u) }.sum }
      rank = nodes.map(v => v ->
        ((1.0 - damping) / n + damping * (contrib.getOrElse(v, 0.0) + sinkMass / n))).toMap
    }
    rank
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
      val got = withPartitions(p)(collectLongs(ConnectedComponents.run(g)))
      assert(got == unionFind(graph, withVertices), s"withVertices = $withVertices")
    }
  }

  for (p <- partitionCounts) test(s"PageRank.run(tol = 0) matches power iteration (partitions = $p)") {
    val iters = 12
    for ((directed, withVertices) <- Seq((false, false), (false, true), (true, true))) {
      val g = propertyGraph(graph, directed, withVertices)
      val got = withPartitions(p) {
        PageRank.run(g, damping = 0.85, tol = 0.0, maxIter = iters)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      }
      val want = powerIteration(graph, directed, withVertices, 0.85, iters)
      assert(got.keySet == want.keySet, s"directed = $directed, vertices = $withVertices")
      val worst = want.map { case (v, r) => math.abs(got(v) - r) }.max
      assert(worst <= 1e-9, s"directed = $directed, vertices = $withVertices: max |Δ| = $worst")
    }
  }
}
