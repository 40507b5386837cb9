package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the generated parquet tables (TESTDATA.md), and the one
  * factory for the SparkSession they are read with. */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Sessions must set `spark.sql.legacy.parquet.nanosAsLong=true` (see
    * [[sessionConfigs]]): the `events` table stores TIMESTAMP(NANOS),
    * which the vectorized reader otherwise rejects. The nano-long is
    * converted back to a (microsecond) timestamp here. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  /** Required session configs for the testdata + the engine's session
    * extensions (checkpoint-stats clamp; see [[GraftExtensions]]).
    *
    * Escape hatch: setting env `GRAFT_DISABLE_CLAMP` (debug-only,
    * evaluated once at object load) omits the extensions entry and thus
    * re-enables the exponential checkpoint-stats planning blowup that
    * [[org.apache.spark.sql.GraftStatsClampRule]] exists to fix —
    * iterative algorithms (agglomerative clustering, PageRank) will
    * appear to hang while planning. Never set it in normal runs. */
  val sessionConfigs: Map[String, String] = {
    val base = Map(
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      // with AQE on, plan wide shuffles at 8× the session parallelism and
      // let coalescing shrink small ones back — big intermediates (the
      // part-graph pair explosion at high SF) stop funneling through
      // `shuffle.partitions`-sized reducers, while small queries still
      // end up with few partitions after coalesce
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256",
      // cached (persisted) plans run WITHOUT AQE unless this is on, so a
      // persist under the 256-partition initialPartitionNum above would
      // be stored as 256 tiny partitions and every consumer scan pays
      // 256 tasks — with it on, AQE coalesces the cached plan like any
      // other (the persisted oriented-edge table in Triangles went
      // 1566 → ~40 tasks at sf0.1)
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      // let the planner pick shuffled-hash join when its build side fits
      // (guide §3.1): skips both sort passes of sort-merge. Caveat: the
      // SHJ size check uses PLAN-TIME statistics — misestimated stats on
      // a large non-broadcast join can pick SHJ with a build side that
      // does not fit (the build side cannot spill for every join type),
      // so this is a measured bet, not a guaranteed fallback; it was
      // A/B'd against the default in r10 (q2_join floor 0.81→0.46 s,
      // g8 SMJ→SHJ) and re-A/B'd in r11 (g7_pagerank floors equal
      // within noise; its loop join is broadcast at bench scale, so the
      // r10-suspected regression was box noise, not this flag)
      "spark.sql.join.preferSortMergeJoin" -> "false")
    if (sys.env.contains("GRAFT_DISABLE_CLAMP")) base
    else base + ("spark.sql.extensions" -> "graft.GraftExtensions")
  }

  /** The only place a SparkSession is built: `local[cpus]` with
    * `cpus` shuffle partitions, no UI, [[sessionConfigs]], then
    * `overrides` (applied last, so they win over [[sessionConfigs]]).
    * Adaptive execution is on by Spark's default. */
  def session(cpus: Int, overrides: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
    (sessionConfigs.toSeq ++ overrides).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
