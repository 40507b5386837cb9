package graft.graph

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._
import scala.util.DynamicVariable
import scala.util.control.NonFatal

/** Iterative fixpoint driver — the engine's real "execution engine"
  * (SURVEY.md §7.1). BFS/SSSP/PageRank/label-propagation/Louvain all loop
  * through here.
  *
  * Each iteration of a graph fixpoint is one action with at least one
  * shuffle (join on src + groupBy dst); under AQE every shuffle stage is
  * its own Spark job, so a round costs its stage count plus one. Two
  * things make this survive at scale (SURVEY.md §4.2.1):
  *   - cut lineage with `localCheckpoint` every round, otherwise the
  *     logical plan (and task closures) grow per iteration and stage
  *     submission eventually dominates;
  *   - materialize each state before dropping its parent, so a state is
  *     computed exactly once. [[scope]] owns that release: a kernel
  *     registers what it stores and retires what it stops reading, and
  *     the scope frees each block once nothing pending reads it.
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
    case lr: LogicalRDD => lr.rdd.unpersist(false)
    case _ if df.storageLevel != StorageLevel.NONE => df.unpersist(false)
    case _ =>
  }

  /** The storage one call creates, and its release. Every `cut`,
    * `cutLazy` and `persist` of the body registers here; `retire` marks a
    * registered state the body no longer reads. Release rules:
    *   - a retired state is freed once no registered state that is not
    *     yet computed (a lazy cut before its materializing action, a
    *     persist before its first scan) still reads it — the caller
    *     retires a state as soon as it moves on, the scope holds the
    *     blocks until the next round's action has consumed them;
    *   - a retired cut is also held while a re-run of an unretired
    *     persist's plan would read it: a later plan may miss a cache and
    *     re-run the plan behind it (with AQE off, a self-join over a
    *     state persisted after a lazy cut swaps only one side for the
    *     cache), and a freed persist re-runs its plan too. A cut never
    *     re-runs its plan, so it holds nothing once computed;
    *   - on exit, normal or by a throw, everything registered is freed,
    *     except the storage the returned value's plan still reads (a
    *     `cur.select(…)`, a single leg) and the cuts a re-run of that
    *     would read. That storage passes to the enclosing scope, if
    *     any, so it is freed when that call ends.
    * A registered state counts as computed once its own blocks are all
    * stored, or once a computed state has read it. */
  final class Scope private[Fixpoint] () {
    private var entries = Vector.empty[Entry]

    /** Eager `localCheckpoint`: stored when this returns. */
    def cut(df: DataFrame): DataFrame = checkpoint(df, eager = true)

    /** Lazy `localCheckpoint`: stored by the first action that reads it. */
    def cutLazy(df: DataFrame): DataFrame = checkpoint(df, eager = false)

    /** `MEMORY_AND_DISK` cache: stored by the first action that scans it. */
    def persist(df: DataFrame): DataFrame = {
      val reads = storageRead(df)
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      withCache(p).collectFirst { case im: InMemoryRelation =>
        register(new Entry(p, im.cacheBuilder, reads,
          () => im.cacheBuilder.isCachedColumnBuffersLoaded, cached = true))
      }
      p
    }

    /** Marks registered states the body no longer reads. */
    def retire(dfs: DataFrame*): Unit = {
      entries.foreach(e => if (dfs.exists(_ eq e.df)) e.retired = true)
      sweep()
    }

    private def checkpoint(df: DataFrame, eager: Boolean): DataFrame = {
      val c = df.localCheckpoint(eager)
      val rdd = c.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
      // the cut ran df's own plan, so its cache substitution is at hand
      register(new Entry(c, rdd, storageIn(df.queryExecution.withCachedData),
        () => rdd.isCheckpointed, cached = false))
      c
    }

    private def register(e: Entry): Unit = {
      e.reach = e.reads ++ entries.filter(q => q.cached && e.reads.exists(_ eq q.key))
        .flatMap(_.reach)
      entries :+= e
      sweep()
    }

    /** A state reads only states registered before it, so one pass
      * from the newest settles whether each is computed. */
    private def settle(): Unit = entries.reverseIterator.foreach { e =>
      e.computed ||= e.stored() ||
        entries.exists(r => r.computed && r.reads.exists(_ eq e.key))
    }

    private def sweep(): Unit = {
      settle()
      val pending = entries.filterNot(_.computed)
      val rerun = entries.filter(e => e.cached && !e.retired).flatMap(_.reach)
      val (dead, live) = entries.partition(e => e.retired &&
        !pending.exists(_.reads.exists(_ eq e.key)) &&
        (e.cached || !rerun.exists(_ eq e.key)))
      entries = live
      dead.foreach(e => free(e.df))
    }

    /** Frees all but what `result` reads; returns the kept entries. */
    private[Fixpoint] def close(result: Any): Vector[Entry] = {
      settle()
      var keep = framesIn(result).flatMap(storageRead).toSeq
      var grown = true
      while (grown) {
        val more = entries.filter(e => keep.exists(_ eq e.key)).flatMap(e =>
            if (!e.computed) e.reads
            else if (e.cached) e.reach.filter(_.isInstanceOf[RDD[_]])
            else Nil)
          .filterNot(k => keep.exists(_ eq k))
        grown = more.nonEmpty
        keep ++= more
      }
      val (kept, dead) = entries.partition(e => keep.exists(_ eq e.key))
      entries = Vector.empty
      dead.foreach(e => free(e.df))
      kept.foreach(_.retired = false)
      kept
    }

    private[Fixpoint] def adopt(kept: Vector[Entry]): Unit = entries ++= kept

    /** Frees everything; cleanup failures ride on `cause`. */
    private[Fixpoint] def abort(cause: Throwable): Unit = {
      entries.foreach(e => try free(e.df) catch { case NonFatal(t) => cause.addSuppressed(t) })
      entries = Vector.empty
    }
  }

  /** One registered state: `key` is its storage (checkpointed RDD or,
    * when `cached`, cache builder), `reads` the storage its plan scans,
    * `reach` that plus what a re-run of each cached state it reads
    * would scan. */
  private final class Entry(val df: DataFrame, val key: AnyRef,
      val reads: Seq[AnyRef], val stored: () => Boolean, val cached: Boolean) {
    var reach = Seq.empty[AnyRef]
    var retired = false
    var computed = false
  }

  private val current = new ThreadLocal[Scope]

  /** Runs `body` with a fresh [[Scope]] and releases its storage on
    * exit by the scope's rules. Nested calls (a kernel inside a kernel)
    * hand what their result reads to the enclosing scope. */
  def scope[T](body: Scope => T): T = {
    val outer = current.get
    val st = new Scope
    current.set(st)
    val result =
      try body(st)
      catch { case t: Throwable => st.abort(t); throw t }
      finally current.set(outer)
    val kept = st.close(result)
    if (outer != null) outer.adopt(kept)
    result
  }

  /** `df`'s plan after the session's cache substitution, on a fresh
    * alias so `df`'s own query execution is left as it is. */
  private def withCache(df: Dataset[_]): LogicalPlan =
    df.alias("scope").queryExecution.withCachedData

  /** The storage a plan scans: checkpointed RDDs and cache builders. */
  private def storageIn(plan: LogicalPlan): Seq[AnyRef] =
    plan.collectWithSubqueries {
      case lr: LogicalRDD => lr.rdd
      case im: InMemoryRelation => im.cacheBuilder
    }

  private def storageRead(df: Dataset[_]): Seq[AnyRef] = storageIn(withCache(df))

  /** The frames in a returned value: the value itself, the elements of a
    * collection (a multigrid hierarchy's levels), or the fields of a
    * tuple or case class (`(flow, cut)`, a `PropertyGraph`). */
  private def framesIn(x: Any): Iterator[Dataset[_]] = x match {
    case d: Dataset[_] => Iterator(d)
    case it: Iterable[_] => it.iterator.flatMap(framesIn)
    case p: Product => p.productIterator.flatMap(framesIn)
    case _ => Iterator.empty
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

  /** Sum of `df`'s one double column with one job over its final stage,
    * folded per partition like [[hashFingerprint]]; `df.agg(sum(…))` is
    * two jobs under AQE. */
  def sumOf(df: DataFrame): Double =
    df.queryExecution.toRdd.map(_.getDouble(0)).fold(0.0)(_ + _)

  /** [[sumOf]] for a long column; an overflow throws, as ANSI `sum` does. */
  def sumOfLongs(df: DataFrame): Long =
    df.queryExecution.toRdd.map(_.getLong(0)).fold(0L)(Math.addExact)

  /** The size switch's bound: a state that comes to fewer bytes than
    * this (rows × its schema's default row size, see [[bytes]]) finishes
    * on the driver ([[LocalGraph]]). 1 MiB holds the sf0.01 part graph's
    * adjacency (about 165 KB) and not RMAT 13's (about 4.9 MB). */
  val DefaultLocalFinishBytes: Long = 1L << 20

  /** Pins the bound for specs that drive one path: `0` keeps every
    * state distributed, `Long.MaxValue` finishes every sized state on
    * the driver. */
  private[graft] val localFinishBytes = new DynamicVariable[Long](DefaultLocalFinishBytes)

  /** The driver size of `rows` rows of `df`'s schema. */
  def bytes(df: DataFrame, rows: Long): Long = rows * df.schema.defaultSize

  /** The size switch: `bytes` of state come to under the bound. The rows
    * behind them are a count the caller's distributed path already took,
    * so sizing costs no job. */
  def fitsDriver(bytes: Long): Boolean = bytes < localFinishBytes.value

  /** Driver-built `rows` as a local relation of `schema`. One partition:
    * the rows are on the driver, and a consumer's aggregate then needs no
    * exchange. */
  def localRelation(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)

  /** Run `step` until `stop(prev, next, i)` is true or `maxIter` reached.
    * Returns the final state. The initial state is persisted and
    * materialized; every later one is an eager checkpoint, stored before
    * `stop` judges it and before its parent is freed. */
  def loop(init: DataFrame, maxIter: Int)(
      step: (DataFrame, Int) => DataFrame)(
      stop: (DataFrame, DataFrame, Int) => Boolean): DataFrame = scope { st =>
    val debug = sys.env.contains("GRAFT_FIXPOINT_DEBUG")
    var cur = st.persist(init)
    materialize(cur)
    var i = 0
    var done = false
    while (i < maxIter && !done) {
      val t0 = System.nanoTime()
      val next = st.cut(step(cur, i))
      val t1 = System.nanoTime()
      done = stop(cur, next, i)
      if (debug) System.err.println(
        f"[fixpoint] iter $i step=${(t1 - t0) / 1e9}%.2fs stop=${(System.nanoTime() - t1) / 1e9}%.2fs")
      st.retire(cur)
      cur = next
      i += 1
    }
    cur
  }

  /** Every state, the initial one included, is lineage-cut lazily and
    * the fingerprint action doubles as its materializing action, so a
    * round costs no separate count job: one job per shuffle stage of the
    * step plus the fingerprint's own. That is one job when the
    * fingerprint folds partitions ([[hashFingerprint]], [[materialize]]);
    * a global `agg` fingerprint is two under AQE. `fingerprint` may
    * return any equality-comparable value (a Long, a tuple…); the loop
    * stops when it repeats.
    *
    * `span` > 1 chains that many lazy steps between fingerprints — one
    * job per span instead of per round. Only safe when `step` references
    * its input ONCE (a chained re-reference would recompute the whole
    * span per reference); the fixpoint is unchanged (extra rounds past
    * it are idempotent), at most span−1 idempotent rounds run extra. */
  def loopFusedFingerprint(init: DataFrame, maxIter: Int, span: Int = 1)(
      step: (DataFrame, Int) => DataFrame)(
      fingerprint: DataFrame => Any): DataFrame = scope { st =>
    fused(st, init, maxIter, span, step, fingerprint, (_: Any) => false)._1
  }

  /** [[loopFusedFingerprint]] (span 1) with the size switch. The
    * fingerprint is [[hashFingerprint]] over all columns, and its count
    * half sizes each state: the first state, the initial one included,
    * that [[fitsDriver]] while rounds remain is collected, and
    * `local(rows, rounds)` finishes on the driver in place of those
    * rounds (the driver finish runs to the fixpoint; `maxIter` caps the
    * distributed rounds). A loop that reaches its fixpoint or `maxIter`
    * first ends in `distributed(state)`. */
  def loopOrFinishLocally(init: DataFrame, maxIter: Int)(
      step: (DataFrame, Int) => DataFrame)(
      distributed: DataFrame => DataFrame,
      local: (Array[Row], Int) => DataFrame): DataFrame = scope { st =>
    val cols = init.columns.toSeq
    val (state, rounds, small) = fused[(Long, Long)](st, init, maxIter, 1, step,
      hashFingerprint(_, cols: _*), f => fitsDriver(bytes(init, f._1)))
    if (small) local(state.collect(), rounds) else distributed(state)
  }

  /** The fused loop: returns the last state, the rounds run, and whether
    * it stopped because `small` held with rounds left. */
  private def fused[F](st: Scope, init: DataFrame, maxIter: Int, span: Int,
      step: (DataFrame, Int) => DataFrame, fingerprint: DataFrame => F,
      small: F => Boolean): (DataFrame, Int, Boolean) = {
    val debug = sys.env.contains("GRAFT_FIXPOINT_DEBUG")
    var cur = st.cutLazy(init)
    var f = fingerprint(cur)
    var prev = Option.empty[F]
    var i = 0
    def settled = i >= maxIter || prev.contains(f)
    while (!settled && !small(f)) {
      val t0 = System.nanoTime()
      val w = math.min(span, maxIter - i)
      var stepped = cur
      for (k <- 0 until w) stepped = step(stepped, i + k)
      val next = st.cutLazy(stepped)
      prev = Some(f)
      f = fingerprint(next) // materializes the checkpoint + aggregates
      if (debug) System.err.println(
        f"[fixpoint-fused] iter $i span=$w ${(System.nanoTime() - t0) / 1e9}%.2fs")
      st.retire(cur)
      cur = next
      i += w
    }
    (cur, i, !settled)
  }
}
