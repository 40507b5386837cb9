package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.storage.StorageLevel

/** Iterative fixpoint driver — the engine's real "execution engine"
  * (SURVEY.md §7.1). BFS/SSSP/PageRank/label-propagation/Louvain all loop
  * through here.
  *
  * Each iteration of a graph fixpoint is one action with at least one
  * shuffle (join on src + groupBy dst); under AQE every shuffle stage is
  * its own Spark job, so a round costs its stage count plus one. Two
  * things make this survive at scale (SURVEY.md §4.2.1):
  *   - persist each state and materialize it before dropping the parent,
  *     so a state is computed exactly once;
  *   - cut lineage with `localCheckpoint` every `checkpointEvery` rounds,
  *     otherwise the logical plan (and task closures) grow per iteration
  *     and stage submission eventually dominates.
  */
object Fixpoint {

  /** Loop-body plan evidence: `explain` on the OUTPUT of a checkpointing
    * loop shows only the final projection over a LogicalRDD — the real
    * per-iteration plan (exchange count, join strategy) is invisible.
    * When `GRAFT_LOOP_PLAN_DIR` is set, the first call per label writes
    * the formatted plan of one loop-body iteration (the pre-checkpoint
    * DataFrame) to `<dir>/<label>_loop.txt`, so per-iteration claims are
    * checkable against a committed artifact. No-op (and zero cost beyond
    * an env probe) in normal runs. */
  private val dumpedLabels = scala.collection.concurrent.TrieMap.empty[String, Boolean]
  def dumpLoopPlan(label: String, df: DataFrame): Unit =
    sys.env.get("GRAFT_LOOP_PLAN_DIR").foreach { dir =>
      if (dumpedLabels.putIfAbsent(label, true).isEmpty) {
        val d = new java.io.File(dir); d.mkdirs()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$dir/${label}_loop.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      }
    }

  /** Release the storage behind a per-round state. `Dataset.unpersist`
    * only drops CacheManager entries, so for a `localCheckpoint`ed state
    * (plan = `LogicalRDD`) it is a silent no-op and every round's blocks
    * pile up in the block manager — at 10⁸-row states the memory store
    * fills after a few rounds and each subsequent round pays eviction
    * churn. Unpersist the checkpointed RDD itself instead. A DataFrame
    * that was never stored (a lazy projection of a stored one) is left
    * alone: `Dataset.unpersist` on it still makes the CacheManager probe
    * every cached entry of the session, and that probe throws when any
    * entry's input has become unreadable. */
  def free(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
    case _ if df.storageLevel != StorageLevel.NONE => df.unpersist(false)
    case _ =>
  }

  /** Materialize `df` and return its row count, with one job over the
    * final stage of its executed plan. `Dataset.count()` plans a global
    * aggregate on top, which AQE runs as two jobs (the partial-count
    * shuffle stage, then the final stage). On a persisted DataFrame the
    * scan builds every cached column, so the cache is fully populated. */
  def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Order-independent `(row count, bit_xor(xxhash64(cols)))` of `df`
    * with one job over its final stage: each partition folds its own
    * rows and the driver combines the per-partition pairs. The same pair as
    * `df.agg(count(lit(1)), bit_xor(xxhash64(cols)))` (xor of no rows =
    * 0), without that global aggregate's second job. Doubles as the
    * materializing action of a lazily checkpointed state. */
  def hashFingerprint(df: DataFrame, cols: String*): (Long, Long) =
    df.select(xxhash64(cols.map(col): _*)).queryExecution.toRdd
      .map(_.getLong(0))
      .aggregate((0L, 0L))(
        (acc, h) => (acc._1 + 1, acc._2 ^ h),
        (a, b) => (a._1 + b._1, a._2 ^ b._2))

  /** Run `step` until `stop(prev, next, i)` is true or `maxIter` reached.
    * Returns the final (persisted) state. Every state is materialized
    * before `stop` judges it and before its parent is freed: a
    * checkpointed state by its eager `localCheckpoint`, a persisted one
    * by [[materialize]] — no second count of either. */
  def loop(init: DataFrame, maxIter: Int, checkpointEvery: Int = 1)(
      step: (DataFrame, Int) => DataFrame)(
      stop: (DataFrame, DataFrame, Int) => Boolean): DataFrame = {
    val debug = sys.env.contains("GRAFT_FIXPOINT_DEBUG")
    def persisted(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      materialize(p)
      p
    }
    var cur = persisted(init)
    var i = 0
    var done = false
    while (i < maxIter && !done) {
      val t0 = System.nanoTime()
      val stepped = step(cur, i)
      val next =
        if ((i + 1) % checkpointEvery == 0) stepped.localCheckpoint(true)
        else persisted(stepped)
      val t1 = System.nanoTime()
      done = stop(cur, next, i)
      if (debug) System.err.println(
        f"[fixpoint] iter $i step=${(t1 - t0) / 1e9}%.2fs stop=${(System.nanoTime() - t1) / 1e9}%.2fs")
      free(cur)
      cur = next
      i += 1
    }
    cur
  }

  /** Convergence via a monotone scalar: stop when `metric` (e.g. sum of
    * labels, sum of distances) stops changing between iterations. */
  def loopUntilStableScalar(init: DataFrame, maxIter: Int,
      metric: DataFrame => Double, checkpointEvery: Int = 1)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    var prevMetric = Double.NaN
    loop(init, maxIter, checkpointEvery)(step) { (_, next, _) =>
      val m = metric(next)
      val stable = !prevMetric.isNaN && m == prevMetric
      prevMetric = m
      stable
    }
  }

  /** The state is lineage-cut lazily and the fingerprint action doubles
    * as the materializing action, so a round costs no separate count
    * job: one job per shuffle stage of the step plus the fingerprint's
    * own. That is one job when the fingerprint folds partitions
    * ([[hashFingerprint]]); a global `agg` fingerprint is two under AQE.
    * `fingerprint` may return any equality-comparable value (a Long, a
    * tuple…).
    *
    * `span` > 1 chains that many lazy steps between fingerprints — one
    * job per span instead of per round. Only safe when `step` references
    * its input ONCE (a chained re-reference would recompute the whole
    * span per reference); the fixpoint is unchanged (extra rounds past
    * it are idempotent), at most span−1 idempotent rounds run extra. */
  def loopFusedFingerprint(init: DataFrame, maxIter: Int, span: Int = 1)(
      step: (DataFrame, Int) => DataFrame)(
      fingerprint: DataFrame => Any): DataFrame = {
    val debug = sys.env.contains("GRAFT_FIXPOINT_DEBUG")
    var cur = init.localCheckpoint(true)
    var prev = Option.empty[Any]
    var i = 0
    var done = false
    while (i < maxIter && !done) {
      val t0 = System.nanoTime()
      val w = math.min(span, maxIter - i)
      var stepped = cur
      for (k <- 0 until w) stepped = step(stepped, i + k)
      val next = stepped.localCheckpoint(false) // lazy cut
      val f = fingerprint(next) // materializes the checkpoint + aggregates
      if (debug) System.err.println(
        f"[fixpoint-fused] iter $i span=$w ${(System.nanoTime() - t0) / 1e9}%.2fs")
      done = prev.contains(f)
      prev = Some(f)
      free(cur) // next is fully materialized by the fingerprint action
      cur = next
      i += w
    }
    cur
  }

  /** Convergence via an exact 64-bit fingerprint (e.g. an
    * order-independent `bit_xor(xxhash64(...))` of the state): stop when
    * the fingerprint repeats. Unlike [[loopUntilStableScalar]] this keeps
    * all 64 bits (a Double comparison would only keep 53). */
  def loopUntilStableFingerprint(init: DataFrame, maxIter: Int,
      fingerprint: DataFrame => Long, checkpointEvery: Int = 1)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    var prev = Option.empty[Long]
    loop(init, maxIter, checkpointEvery)(step) { (_, next, _) =>
      val m = fingerprint(next)
      val stable = prev.contains(m)
      prev = Some(m)
      stable
    }
  }
}
