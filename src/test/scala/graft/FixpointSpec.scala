package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.functions._
import graft.graph._

/** Round-state storage hygiene: `Dataset.unpersist` is a silent no-op on
  * `localCheckpoint`ed states (their blocks live in RDD storage, not the
  * CacheManager), so per-round states used to pile up until the periodic
  * GC — eviction churn at 10⁸-row scale. These specs pin the fix:
  * `Fixpoint.free` drops the checkpointed RDD itself, and the iterative
  * kernels leave no per-round blocks behind. Counting is by DELTA against
  * the session-wide persistent-RDD set (the shared session memoizes
  * fixture graphs across suites — never unpersist those). The CC and
  * PageRank cases also pin their per-round job and broadcast budgets,
  * counted with a listener.
  */
class FixpointSpec extends SparkSpec {

  private def persistedRddCount(): Int =
    spark.sparkContext.getPersistentRDDs.size

  /** Spark jobs started, and stages submitted that build a broadcast,
    * while `body` runs. */
  private def events[T](body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val broadcasts = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (s.stageInfo.rddInfos.exists(_.scope.exists(_.name == "BroadcastExchange")))
          broadcasts.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, jobs.get, broadcasts.get)
    } finally sc.removeSparkListener(listener)
  }

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
    val base = persistedRddCount()
    val ck = (1 to 1000).toDF("x").localCheckpoint(true)
    assert(persistedRddCount() == base + 1)
    ck.unpersist(true) // the trap: no-op for checkpoint blocks
    assert(persistedRddCount() == base + 1)
    Fixpoint.free(ck)
    assert(persistedRddCount() == base)
  }

  test("loopFusedFingerprint retains only the final state") {
    import spark.implicits._
    val base = persistedRddCount()
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
    assert(persistedRddCount() <= base + 1)
    Fixpoint.free(out)
    assert(persistedRddCount() <= base)
  }

  test("bfs and coreDecomposition leave no per-round blocks behind") {
    val g = graft.io.GraphReaders.readMetis(spark, "/root/reference/input/karate.graph")
    assert(g.numberOfNodes == 34) // materialize the fixture first
    val base = persistedRddCount()
    val src = spark.range(1).select(lit(1L).as("source"))
    val d = ShortestPaths.bfs(g, src)
    assert(d.count() == 34)
    val cores = GraphOps.coreDecomposition(g)
    assert(cores.agg(max("core")).head.getInt(0) == 4) // karate's degeneracy
    // retained: the two returned results (bfs dist + kcore out), nothing
    // per-round
    val leaked = persistedRddCount() - base
    assert(leaked <= 2, s"leaked round states: $leaked")
    Fixpoint.free(d); Fixpoint.free(cores)
    assert(persistedRddCount() <= base)
  }

  test("ConnectedComponents.run: at most 4 jobs per star round") {
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
  }

  test("PageRank.run: adjacency broadcast at most once per span") {
    val g = path(300)
    // tol = 0 runs maxIter steps in spans of 4, so maxIter 8 adds one
    // span to maxIter 4; its steps re-read one broadcast of adj
    val (_, _, bc1) = events(PageRank.run(g, tol = 0.0, maxIter = 4))
    val (_, _, bc2) = events(PageRank.run(g, tol = 0.0, maxIter = 8))
    assert(bc2 - bc1 <= 1, s"broadcast stages: 1 span $bc1, 2 spans $bc2")
    assert(bc1 >= 1) // the adjacency is broadcast at all
  }

  test("CC and PageRank leave no registered RDD behind but their result") {
    val g = path(300)
    assert(g.edges.count() == 299) // fixture materialized before the baseline
    Seq[PropertyGraph => org.apache.spark.sql.DataFrame](
      ConnectedComponents.run(_),
      PageRank.run(_, tol = 0.0, maxIter = 6),
      PageRank.run(_, maxIter = 6)
    ).foreach { kernel =>
      val base = persistedRddCount()
      val out = kernel(g)
      assert(out.count() == 300)
      assert(persistedRddCount() <= base + 1,
        s"retained ${persistedRddCount() - base} RDDs")
    }
  }
}
