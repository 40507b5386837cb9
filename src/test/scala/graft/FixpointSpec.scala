package graft

import org.apache.spark.sql.functions._
import graft.graph._

/** Round-state storage hygiene: `Dataset.unpersist` is a silent no-op on
  * `localCheckpoint`ed states (their blocks live in RDD storage, not the
  * CacheManager), so per-round states used to pile up until the periodic
  * GC — eviction churn at 10⁸-row scale. These specs pin the fix:
  * `Fixpoint.free` drops the checkpointed RDD itself, and
  * `Fixpoint.scope` — the one owner of what an iterative kernel stores —
  * holds a retired state while an uncomputed lazy cut still reads it,
  * frees everything on exit or on a throw except what the result reads,
  * and so every kernel built on it leaves no per-round blocks behind.
  * Counting is by the ids added to the session-wide persistent-RDD set
  * since a snapshot (the shared session memoizes fixture graphs across
  * suites — never unpersist those — and loses unreferenced RDDs of
  * earlier suites at any GC). The CC and PageRank cases also pin their per-round job and
  * broadcast budgets, counted with a listener: on the distributed path
  * (size switch at 0) per round and span, and on the driver path (the
  * default switch) per call.
  */
class FixpointSpec extends SparkSpec {

  /** Ids of the RDDs persisted now. The context holds them weakly, so an
    * RDD nothing references leaves the set at any GC: specs count the ids
    * added since a snapshot, never the set's size. */
  private def persistedIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def added(since: Set[Int]): Int = (persistedIds() -- since).size

  /** Undirected path 0 – 1 – … – (n−1): star contraction needs several
    * rounds on it, and PageRank's adjacency is small enough to broadcast. */
  private def path(n: Int): PropertyGraph = {
    import spark.implicits._
    val e = (0 until n - 1).map(i => (i.toLong, i + 1L, 1.0)).toDF("src", "dst", "weight")
      .localCheckpoint(true)
    PropertyGraph(e, directed = false)
  }

  test("free releases a localCheckpoint'd state; Dataset.unpersist does not") {
    import spark.implicits._
    val base = persistedIds()
    val ck = (1 to 1000).toDF("x").localCheckpoint(true)
    assert(added(base) == 1)
    ck.unpersist(true) // the trap: no-op for checkpoint blocks
    assert(added(base) == 1)
    Fixpoint.free(ck)
    assert(added(base) == 0)
  }

  test("loopFusedFingerprint retains only the final state") {
    import spark.implicits._
    val base = persistedIds()
    val init = (1 to 64).map(_.toLong).toDF("x")
    var rounds = 0
    val out = Fixpoint.loopFusedFingerprint(init, maxIter = 20) { (df, _) =>
      rounds += 1
      df.select((col("x") / 2).cast("long").as("x"))
    } { df => df.agg(sum("x")).head.getLong(0) }
    assert(rounds >= 6) // genuinely iterated
    assert(out.agg(sum("x")).head.getLong(0) == 0L)
    // every intermediate round's checkpoint was freed; only the final
    // state may remain beyond what was already persisted
    assert(added(base) <= 1)
    Fixpoint.free(out)
    assert(added(base) == 0)
  }

  test("scope holds a retired state until the lazy cut reading it is computed") {
    import spark.implicits._
    val base = persistedIds()
    Fixpoint.scope { st =>
      val a = st.cut((1 to 100).toDF("x"))
      val b = st.cutLazy(a.select((col("x") + 1).as("x")))
      st.retire(a)
      assert(added(base) == 2) // b still reads a
      Fixpoint.materialize(b)
      st.retire(b)
      assert(added(base) == 0)
    }
  }

  test("scope frees what it stored on a throw; an inner result goes to the outer scope") {
    import spark.implicits._
    val base = persistedIds()
    val entries = org.apache.spark.sql.CacheEntries(spark)
    intercept[IllegalStateException](Fixpoint.scope { st =>
      val c = st.cut((1 to 100).toDF("x"))
      Fixpoint.materialize(st.persist(c.select((col("x") * 2).as("y"))))
      assert(added(base) == 2)
      throw new IllegalStateException("boom")
    })
    assert(added(base) == 0)
    assert(org.apache.spark.sql.CacheEntries(spark) == entries)
    val rows = Fixpoint.scope { _ =>
      val inner = Fixpoint.scope(st => st.cut((1 to 10).toDF("x")).select("x"))
      assert(added(base) == 1) // kept: the result reads it
      inner.count()
    }
    assert(rows == 10)
    assert(added(base) == 0) // freed when the outer call ended
  }

  test("readGml of a missing path throws and leaves no cache entry behind") {
    import spark.implicits._
    val entries = org.apache.spark.sql.CacheEntries(spark)
    intercept[Exception](graft.io.GraphReaders.readGml(spark, "/nonexistent/missing.gml"))
    assert(org.apache.spark.sql.CacheEntries(spark) == entries)
    // an entry over the unreadable input would make this unpersist throw
    val other = (1 to 10).toDF("x").persist()
    assert(other.count() == 10)
    other.unpersist(true)
  }

  test("every migrated kernel leaves at most its result behind") {
    val g = path(300)
    assert(g.edges.count() == 299) // fixture materialized before the baselines
    val src = spark.range(1).select(lit(0L).as("source"))
    // a frame may keep the storage it reads (`keeps`), a scalar nothing
    def retained[T](name: String, keeps: Int = 1)(call: => T): T = {
      val base = persistedIds()
      val out = call
      val allowed = out match {
        case df: org.apache.spark.sql.Dataset[_] => df.count(); keeps
        case pg: PropertyGraph => pg.edges.count(); keeps
        case _ => 0
      }
      assert(added(base) <= allowed,
        s"$name retained ${added(base)} RDDs")
      out
    }
    // round caps keep each call near 2 s
    retained("bfs")(ShortestPaths.bfs(g, src, maxIter = 3))
    retained("dijkstra")(ShortestPaths.dijkstra(g, src, maxIter = 3))
    retained("coreDecomposition")(GraphOps.coreDecomposition(g, maxIter = 2))
    retained("kCore")(GraphOps.kCore(g, 2, maxIter = 5))
    retained("floydWarshall")(Apsp.floydWarshall(g, maxSquarings = 3))
    retained("louvainLocalMove")(Community.louvainLocalMove(g, maxRounds = 2))
    retained("lfmLocal")(Community.lfmLocal(g, seed = 150L, maxSize = 4))
    retained("eigenvectors")(Coloring.smallestAdjacencyEigenvectors(g, k = 2, iters = 1))
    val m = retained("suitor")(Matching.suitor(g, maxIter = 3))
    retained("bSuitor")(Matching.bSuitor(g, b = 2, maxIter = 3))
    retained("bSuitorInsert")(Matching.bSuitorInsert(g, m, b = 1, maxIter = 3))
    // maxIter 5 puts plp's first lazy cut (round 4) before its last round;
    // the result keeps that cut, which a re-run of its persisted round
    // reads. plpDegreeOrdered runs the same loop
    retained("plp", keeps = 2)(Community.plp(g, maxIter = 5))
    retained("louvainMapEquation")(Community.louvainMapEquation(g, maxRounds = 2))
    // on the 300-node path the suitor matching inside agglomerative ran
    // 18 s; a 12-node path runs the same levels and rounds. minMovesFrac
    // 0.5 ends each local move after two rounds
    val short = path(12)
    assert(short.edges.count() == 11)
    retained("louvain")(Community.louvain(short, maxLevels = 1, minMovesFrac = 0.5))
    // the result joins the best partition with its connected components
    retained("leiden", keeps = 2)(Community.leiden(short, maxLevels = 1, minMovesFrac = 0.5))
    retained("agglomerative")(Community.agglomerative(short, maxLevels = 1))
    retained("expandSeed")(Community.expandSeed(g, seed = 150L, maxSize = 3))
    retained("twoPhaseL")(Scd.twoPhaseL(g, seed = 150L, maxSize = 3))
    retained("localT")(Scd.localT(g, seed = 150L, maxSize = 3))
    // the triangle kernels store nothing
    retained("triangleCount", keeps = 0)(Triangles.triangleCount(g))
    retained("perNode", keeps = 0)(Triangles.perNode(g))
    retained("localClusteringCoefficient", keeps = 0)(Triangles.localClusteringCoefficient(g))
    val p8 = g.vertices.select(col("id"), pmod(col("id"), lit(8L)).as("community"))
    val p12 = g.vertices.select(col("id"), pmod(col("id"), lit(12L)).as("community"))
    retained("nmi")(Community.nmi(p8, p12))
    retained("randIndex")(Community.randIndex(p8, p12))
    retained("overlappingNmi")(Community.overlappingNmi(p8, p12, 300L))
    // the Laplacian solvers on the 12-node path; coarsestN 4 gives
    // multigrid three levels
    import spark.implicits._
    import graft.algebra.{Coo, GaussSeidel, Multigrid}
    val lap = Coo.laplacianMatrix(short)
    val sdd = Coo.eWiseAdd(lap,
      short.vertices.select(col("id").as("i"), col("id").as("j"), lit(1.0).as("v")))
    val b = Seq((0L, 0L, 1.0), (0L, 11L, -1.0)).toDF("rhs", "i", "v")
    retained("conjugateGradient")(Coo.conjugateGradient(sdd, b, maxIter = 4))
    retained("conjugateGradient x0")(Coo.conjugateGradient(sdd, b, maxIter = 4,
      x0 = Some(b.select(col("rhs"), col("i"), lit(0.5).as("v")))))
    retained("multigrid")(Multigrid.solve(lap, b, maxCycles = 2, coarsestN = 4))
    retained("gaussSeidel")(GaussSeidel.relax(sdd, b, maxIterations = 3))
    retained("effectiveResistance")(Electrical.effectiveResistance(short, Seq((0L, 11L)), maxIter = 4))
    retained("forestCloseness")(Electrical.forestCloseness(short, Seq(0L, 5L), probes = 2, maxIter = 4))
    retained("electricalCloseness")(
      Electrical.electricalCloseness(short, Seq(0L, 5L), probes = 2, maxIter = 4))
    // a hierarchy keeps its levels' storage and nothing else; a solve
    // reads it after setup's scope has closed
    val base = persistedIds()
    val levels = Multigrid.setup(lap, coarsestN = 4)
    val stored = levels.flatMap(l => Seq(l.a, l.dinv) ++ l.p).size
    assert(levels.size == 3 && added(base) <= stored,
      s"setup retained ${added(base)} RDDs for $stored level frames")
    retained("solvePrepared")(Multigrid.solvePrepared(levels, b, maxCycles = 2))
  }

  test("a persist / lazy-cut loop runs when a plan misses a cached state (AQE off)") {
    // with AQE off the round after a persisted state swaps only one of
    // that state's two self-joined occurrences for its cache; the other
    // re-runs the state's plan, which reads the lazy cut before it. plp's
    // sixth round does that inside the call; modularity's self-join does
    // it over the result, whose plan reaches back to the round-4 lazy cut
    val g = path(12)
    assert(g.edges.count() == 11)
    withConf("spark.sql.adaptive.enabled", "false")(
      assert(!Community.modularity(g, Community.plp(g, maxIter = 6)).isNaN))
  }

  test("bfs and coreDecomposition leave no per-round blocks behind") {
    val g = graft.io.GraphReaders.readMetis(spark, "/root/reference/input/karate.graph")
    assert(g.numberOfNodes == 34) // materialize the fixture first
    val base = persistedIds()
    val src = spark.range(1).select(lit(1L).as("source"))
    val d = ShortestPaths.bfs(g, src)
    assert(d.count() == 34)
    val cores = GraphOps.coreDecomposition(g)
    assert(cores.agg(max("core")).head.getInt(0) == 4) // karate's degeneracy
    // retained: the two returned results (bfs dist + kcore out), nothing
    // per-round
    val leaked = added(base)
    assert(leaked <= 2, s"leaked round states: $leaked")
    Fixpoint.free(d); Fixpoint.free(cores)
    assert(added(base) == 0)
  }

  /** The distributed kernels: no state finishes on the driver. */
  private def distributed[T](body: => T): T = Fixpoint.localFinishBytes.withValue(0L)(body)

  test("ConnectedComponents.run: at most 4 jobs per star round") (distributed {
    val g = path(300)
    // the loop runs eagerly inside run(); the result's final aggregate is
    // lazy, so each call's jobs are its setup plus its rounds. Capping
    // the rounds below convergence makes the difference of two calls
    // exactly two rounds' jobs.
    val (_, jobs2, _) = events(ConnectedComponents.run(g, maxIter = 2))
    val (four, jobs4, _) = events(ConnectedComponents.run(g, maxIter = 4))
    // still unconverged after 4 rounds, so all 4 ran
    assert(four.select("component").distinct().count() > 1)
    val perTwoRounds = jobs4 - jobs2
    assert(perTwoRounds > 0 && perTwoRounds <= 8,
      s"jobs: 2 rounds $jobs2, 4 rounds $jobs4")
  })

  test("PageRank.run: adjacency broadcast at most once per span") (distributed {
    val g = path(300)
    // tol = 0 runs maxIter steps in spans of 4, so maxIter 8 adds one
    // span to maxIter 4; its steps re-read one broadcast of adj
    val (_, _, bc1) = events(PageRank.run(g, tol = 0.0, maxIter = 4))
    val (_, _, bc2) = events(PageRank.run(g, tol = 0.0, maxIter = 8))
    assert(bc2 - bc1 <= 1, s"broadcast stages: 1 span $bc1, 2 spans $bc2")
    assert(bc1 >= 1) // the adjacency is broadcast at all
  })

  test("CC and PageRank leave no registered RDD behind but their result") (distributed {
    val g = path(300)
    assert(g.edges.count() == 299) // fixture materialized before the baseline
    Seq[PropertyGraph => org.apache.spark.sql.DataFrame](
      ConnectedComponents.run(_),
      PageRank.run(_, tol = 0.0, maxIter = 6),
      PageRank.run(_, maxIter = 6)
    ).foreach { kernel =>
      val base = persistedIds()
      val out = kernel(g)
      assert(out.count() == 300)
      assert(added(base) <= 1,
        s"retained ${added(base)} RDDs")
    }
  })

  test("small CC and PageRank finish on the driver: at most 4 jobs, no RDD left") {
    val g = path(300)
    assert(g.edges.count() == 299) // fixture materialized before the baseline
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "cc" -> (() => ConnectedComponents.run(g)),
      "pagerank" -> (() => PageRank.run(g, tol = 0.0, maxIter = 10))
    ).foreach { case (name, kernel) =>
      val base = persistedIds()
      // the call and one action over its result, as a caller pays them
      val (_, jobs, _) = events(Fixpoint.hashFingerprint(kernel(), "id"))
      assert(jobs <= 4, s"$name ran $jobs jobs")
      assert(added(base) == 0, s"$name retained ${added(base)} RDDs")
    }
  }
}
