package graft

/** Per-round benchmark main (driver contract): runs the headline
  * queries on `SPARK_GRAFT_SF_DIR` and prints one JSON line
  * `{"metric":…,"value":…,"unit":"sec","queries":{…},"sf":…}`.
  *
  * Headline = one representative per operator family (scan+agg, join,
  * window, distinct, graph derive/traverse/iterate/triangle, text
  * tokenize/minhash/simhash, embedding norm/knn, event window/session)
  * — the queries whose shape dominates at 100 TB, not the long tail of
  * variants that exercise the same physical plan.
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q1_agg", "q2_join", "q5_window", "q9_distinct",
    "g1_degree", "g4_cc", "g6_bfs", "g7_pagerank", "g8_triangles",
    "t1_tokens", "t5_minhash", "t8_simhash",
    "e1_norm", "e3_knn",
    "ev1_tumbling", "ev2_sessions")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val selected = headline.filter(Tool.selected)
    val spark = Tables.session(Tool.cpus)

    // one tiny warmup action so JVM/codegen startup isn't billed to q1
    spark.range(1000).count()

    /** Wall seconds of `runs` runs of `name`, None for a failed run. */
    def times(name: String, runs: Int): Seq[Option[Double]] = {
      val fn = SparkEntry.queries(name)
      (1 to runs).map(_ => Tool.attempt(spark, "bench", name)(Tool.timed(fn(spark, sfDir).count())._2))
    }

    // medians of `runs` (default 3) so single-run noise (JIT, GC, page
    // cache) doesn't masquerade as a regression; min is reported too so
    // best-case cost stays visible
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val headRuns = selected.map(name => name -> times(name, runs))
    val results = headRuns.map { case (name, ts) =>
      val sorted = ts.flatten.sorted
      (name, sorted.lift(sorted.length / 2).getOrElse(-1.0), sorted.headOption.getOrElse(-1.0))
    }
    def fmt(sel: ((String, Double, Double)) => Double) = results
      .map { r => "\"" + r._1 + "\":" + f"${sel(r)}%.3f" }.mkString("{", ",", "}")
    val qs = fmt(_._2)
    val qsMin = fmt(_._3)
    val total = results.filter(_._2 >= 0).map(_._2).sum

    // isolated per-query FLOORS for the variance-prone queries: re-run
    // each alone AFTER the whole suite (JIT + page cache fully warm, no
    // cold-start or neighbor effects), min of floorRuns — the number a
    // box-noise shift should be judged against, carried in the artifact
    // so the comparison no longer needs a separate profiling session
    val floorNames = sys.env.get("SPARK_GRAFT_FLOORS")
      .map(_.split(",").toSeq)
      .getOrElse(Seq("q2_join", "q5_window", "g4_cc", "g6_bfs",
        "g7_pagerank", "ev2_sessions"))
      .filter(selected.contains)
    val floorRuns = sys.env.getOrElse("SPARK_GRAFT_FLOOR_RUNS", "5").toInt
    val fl = floorNames
      .map { n => "\"" + n + "\":" + f"${times(n, floorRuns).flatten.minOption.getOrElse(-1.0)}%.3f" }
      .mkString("{", ",", "}")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":$runs,"queries":$qs,"queries_min":$qsMin,"floors":$fl,"floor_runs":$floorRuns,"sf":"$sfDir"}""")
    spark.stop()
    // a failed headline run fails the benchmark; a failed floor run only
    // drops out of its minimum
    if (headRuns.exists(_._2.contains(None))) sys.exit(1)
  }
}
