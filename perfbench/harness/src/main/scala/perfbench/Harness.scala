package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{SparkEntry, Tables}
import graft.graph._
import graft.queries.DerivedGraphs

/** One timed call into a layer's public function. `family` groups calls
  * into the time-to-result metrics, `layer` names the per-layer counters. */
final case class Call(name: String, family: String, layer: String,
    run: SparkSession => DataFrame)

/** Calls a workload runs on the inputs it prepared in setup. The RMAT
  * graph is kept for the sequential reference checks. */
final case class Inputs(calls: Seq[Call], rmat: Option[PropertyGraph])

/** Benchmark process: sets up one workload several times, runs an
  * untimed warm-up pass and then timed passes for `--seconds`, and
  * writes every measurement to `<out>/raw.json`. The output checks that
  * need DuckDB run afterwards in `perfbench/run.py`. */
object Harness {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: String, rmatScale: Int,
      setups: Int, corrupt: Option[String], localDir: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("out"), m("rmat-scale").toInt,
      m("setups").toInt, m.get("corrupt").filter(_.nonEmpty), m("local-dir"))
  }

  val graphQueries: Seq[(String, String, String)] = Seq(
    ("g4_cc", "cc", "graph.ConnectedComponents.run"),
    ("g7_pagerank", "pagerank", "graph.PageRank.run"))

  val tableQueries: Seq[(String, String, String)] = Seq(
    ("q1_agg", "relational", "queries.Relational"),
    ("q2_join", "relational", "queries.Relational"),
    ("q5_window", "relational", "queries.Relational"),
    ("t5_minhash", "text", "ml.TextQueries"),
    ("e3_knn", "embedding", "ml.EmbeddingQueries"),
    ("ev2_sessions", "events", "queries.EventQueries"))

  /** Layer whose setup call makes each workload's inputs. */
  def setupLayer(workload: String): String = workload match {
    case "partgraph-iter" => "queries.DerivedGraphs.partGraph"
    case "rmat-iter" => "graph.Generators.rmat"
    case "tables-oneshot" => "Tables.load"
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use; right after a full collection this is the live set. */
  def liveHeapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Order-independent fingerprint of a result: row count, xor and sum of
    * per-row hashes. Doubles are rounded to 9 places so that summation
    * order inside a kernel does not change the fingerprint. */
  def fingerprint(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 9)
        case ArrayType(DoubleType | FloatType, _) =>
          transform(c, x => round(x.cast(DoubleType), 9))
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.select(h.as("h")).agg(count(lit(1)), expr("bit_xor(h)"),
      sum(pmod(col("h"), lit(1000003L)))).head.toSeq.mkString(":")
  }

  /** A deliberately wrong copy of a result: one row removed. */
  def corrupted(df: DataFrame): DataFrame = df.exceptAll(df.limit(1))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    val cpus = Runtime.getRuntime.availableProcessors
    val spans = new Spans(java.util.UUID.randomUUID().toString)
    spans.on = a.trace
    val recorder = new Recorder

    def newSession(): SparkSession = {
      val b = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"perfbench-${a.workload}")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", a.localDir)
        .config("spark.sql.warehouse.dir", s"${a.localDir}/warehouse")
      Tables.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    def prepare(spark: SparkSession): Inputs = a.workload match {
      case "partgraph-iter" =>
        DerivedGraphs.partGraph(spark, a.data, 2)
        val calls = graphQueries.map { case (q, fam, layer) =>
          Call(q, fam, layer, s => SparkEntry.queries(q)(s, a.data)) }
        Inputs(calls, None)
      case "rmat-iter" =>
        val raw = Generators.rmat(spark, a.rmatScale, 16, seed = a.seed)
        val edges = raw.edges.filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("src"),
            greatest(col("src"), col("dst")).as("dst"))
          .distinct()
          .select(col("src"), col("dst"), lit(1.0).as("weight"))
          .localCheckpoint(true)
        val g = PropertyGraph(edges, directed = false)
        val calls = Seq(
          Call("pagerank", "pagerank", "graph.PageRank.run",
            _ => PageRank.run(g, tol = 0.0, maxIter = 10)),
          Call("triangles", "triangles", "graph.Triangles.triangleCount",
            _ => Triangles.triangleCount(g)))
        Inputs(calls, Some(g))
      case "tables-oneshot" =>
        Tables.names.foreach(t => Tables.load(spark, a.data, t))
        val calls = tableQueries.map { case (q, fam, layer) =>
          Call(q, fam, layer, s => SparkEntry.queries(q)(s, a.data)) }
        Inputs(calls, None)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- setup, repeated; the last session is kept ----
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    val inputS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var inputs: Inputs = null
    var setupCounters: Map[String, Any] = Map.empty
    val layer = setupLayer(a.workload)
    for (r <- 0 until a.setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = spans("session.start")(newSession())
      val t1 = System.nanoTime()
      if (a.trace) spark.sparkContext.addSparkListener(recorder)
      val group = s"setup$r"
      val w0 = System.currentTimeMillis()
      spark.sparkContext.setJobGroup(group, layer)
      spans(layer) {
        spark.range(1000).count()
        inputs = prepare(spark)
      }
      spark.sparkContext.clearJobGroup()
      val t2 = System.nanoTime()
      val w1 = System.currentTimeMillis()
      setupS += (t2 - t0) / 1e9; sessionS += (t1 - t0) / 1e9; inputS += (t2 - t1) / 1e9
      if (a.trace) {
        recorder.drain(spark.sparkContext)
        val c = recorder.counters(group)
        setupCounters = Map("layer" -> layer, "wall_s" -> (t2 - t1) / 1e9,
          "jobs" -> c.jobs, "tasks" -> c.tasks, "shuffle_bytes" -> c.shuffleBytes,
          "input_bytes" -> c.inputBytes, "cpu_s" -> c.cpuNs / 1e9,
          "idle_s" -> c.idleMs(w0, w1) / 1e3)
      }
      System.err.println(f"[perfbench] setup $r ${(t2 - t0) / 1e9}%.2fs")
    }
    val sc = spark.sparkContext

    // graph sizes, outside every timed section
    val graphs: Map[String, Map[String, Long]] = a.workload match {
      case "partgraph-iter" =>
        val g = DerivedGraphs.partGraph(spark, a.data, 2)
        Map("partgraph" -> Map("n" -> g.vertices.count(), "m" -> g.edges.count()))
      case "rmat-iter" =>
        val g = inputs.rmat.get
        Map("rmat" -> Map("n" -> g.vertices.count(), "m" -> g.edges.count(),
          "scale" -> a.rmatScale.toLong, "edge_factor" -> 16L))
      case _ => Map.empty
    }

    // ---- passes ----
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    val fingerprints = mutable.Map.empty[String, String]
    val outputs = mutable.Map.empty[String, Array[Row]]
    var attempted = 0L
    val outDir = s"${a.out}/outputs"

    def runPass(idx: Int, warm: Boolean, traced: Boolean): Map[String, Any] = {
      val order = new scala.util.Random(a.seed * 1000003L + idx).shuffle(inputs.calls)
      if (traced) sc.addSparkListener(recorder)
      spans.on = traced
      val p0 = System.nanoTime()
      val records = spans("pass") {
        order.map { c =>
          attempted += 1
          val group = s"pass$idx:${c.name}"
          val before = sc.getPersistentRDDs.keySet
          sc.setJobGroup(group, c.name)
          val gc0 = gcMs()
          val w0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          // the timed action hashes every output column: unlike count(),
          // it cannot let the optimizer drop the columns a query computes
          val res = try {
            spans(c.layer) {
              val df = c.run(spark)
              Right((df, fingerprint(df)))
            }
          } catch { case t: Throwable => Left(t) }
          val t1 = System.nanoTime()
          val w1 = System.currentTimeMillis()
          val gc1 = gcMs()
          sc.clearJobGroup()
          val blocksLeft = (sc.getPersistentRDDs.keySet -- before).size
          var rec = Map[String, Any]("name" -> c.name, "family" -> c.family,
            "layer" -> c.layer, "wall_s" -> (t1 - t0) / 1e9, "gc_s" -> (gc1 - gc0) / 1e3,
            "blocks_left" -> blocksLeft, "epoch_ms" -> Seq(w0, w1))
          res match {
            case Left(t) =>
              failures += Map("call" -> c.name, "pass" -> idx, "kind" -> "exception",
                "detail" -> s"${t.getClass.getSimpleName}: ${t.getMessage}".take(500))
              System.err.println(s"[perfbench] ${c.name} failed: $t")
            case Right((df, fp)) =>
              rec += ("fingerprint" -> fp)
              if (warm) {
                fingerprints(c.name) = fp
                sc.setJobGroup("check", "check")
                val checked = if (a.corrupt.contains(c.name)) corrupted(df) else df
                if (inputs.rmat.isDefined) outputs(c.name) = checked.collect()
                else checked.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${c.name}")
                sc.clearJobGroup()
              } else if (!fingerprints.get(c.name).contains(fp)) {
                failures += Map("call" -> c.name, "pass" -> idx, "kind" -> "fingerprint",
                  "detail" -> s"pass fingerprint $fp differs from the warm-up pass")
              }
          }
          spark.catalog.clearCache()
          System.gc()
          rec + ("live_heap_mb" -> liveHeapMb())
        }
      }
      val wall = (System.nanoTime() - p0) / 1e9
      val withCounters = if (!traced) records else {
        recorder.drain(sc)
        sc.removeSparkListener(recorder)
        records.map { r =>
          val c = recorder.counters(s"pass$idx:${r("name")}")
          val Seq(w0: Long, w1: Long) = r("epoch_ms").asInstanceOf[Seq[Long]]
          r ++ Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
            "empty_tasks" -> c.emptyTasks, "shuffle_bytes" -> c.shuffleBytes,
            "spill_bytes" -> c.spillBytes, "input_bytes" -> c.inputBytes,
            "cpu_s" -> c.cpuNs / 1e9, "idle_s" -> c.idleMs(w0, w1) / 1e3)
        }
      }
      spans.on = a.trace
      System.err.println(f"[perfbench] pass $idx${if (warm) " (warm-up)" else ""}" +
        f"${if (traced) " traced" else ""} ${wall}%.2fs")
      Map("index" -> idx, "warmup" -> warm, "traced" -> traced,
        "harness_wall_s" -> wall, "calls" -> withCounters)
    }

    if (a.trace) sc.removeSparkListener(recorder)
    val passes = mutable.ArrayBuffer(runPass(0, warm = true, traced = false))
    val loop0 = System.nanoTime()
    var idx = 1
    // an untraced run times at least two passes: the first timed pass is
    // still 10-15% slower than the second while the JIT warms, so every
    // run's median covers the same two passes. A traced run alternates
    // untraced and traced passes, starting and ending untraced, so that the
    // tracing overhead is not confounded with the remaining warm-up
    val minPasses = if (a.trace) 3 else 2
    while (idx <= minPasses || (System.nanoTime() - loop0) / 1e9 < a.seconds ||
        (a.trace && (idx - 1) % 2 == 0)) {
      passes += runPass(idx, warm = false, traced = a.trace && idx % 2 == 0)
      idx += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9

    // ---- sequential references (RMAT) ----
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    inputs.rmat.foreach { g =>
      val edges = g.edges.select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val ref = new Reference(edges)
      def check(call: String)(ok: Array[Row] => Option[String]): Unit =
        outputs.get(call).foreach { rows =>
          val err = ok(rows)
          checks += Map("call" -> call, "kind" -> "reference", "ok" -> err.isEmpty,
            "detail" -> err.getOrElse(""))
          err.foreach(e => failures += Map("call" -> call, "pass" -> 0,
            "kind" -> "reference", "detail" -> e))
        }
      check("pagerank") { rows =>
        val got = rows.map(r => r.getAs[Number]("id").longValue -> r.getAs[Number]("rank").doubleValue).toMap
        val exp = ref.pagerank(10)
        if (got.size != exp.size) Some(s"pagerank: ${got.size} rows, reference ${exp.size}")
        else exp.collectFirst {
          case (k, v) if !got.get(k).exists(x => math.abs(x - v) <= 1e-12 + 1e-9 * math.abs(v)) =>
            s"pagerank: id $k got ${got.get(k)} expected $v"
        }
      }
      check("triangles") { rows =>
        val got = rows.headOption.map(_.getAs[Any]("triangles").asInstanceOf[Number].longValue)
        if (rows.length == 1 && got.contains(ref.triangles)) None
        else Some(s"triangles: got ${rows.map(_.toString).mkString(",")} expected ${ref.triangles}")
      }
    }

    // ---- oracle SQL beside the outputs, in the layout of tools/check.py,
    // which run.py calls; a call without an oracle fails that check ----
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    if (inputs.rmat.isEmpty && Files.isDirectory(Paths.get(outDir))) {
      val oracle = inputs.calls.flatMap(c => SparkEntry.oracleSql.get(c.name).map(c.name -> _)).toMap
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json.writeValueAsString(oracle))
    }

    val result = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "run_id" -> spans.runId, "spark_version" -> spark.version,
      "nproc" -> cpus,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "graphs" -> graphs, "calls" -> inputs.calls.map(c => Map(
        "name" -> c.name, "family" -> c.family, "layer" -> c.layer)),
      "setup_s" -> setupS, "session_start_s" -> sessionS, "input_s" -> inputS,
      "setup_layer" -> layer, "setup_counters" -> setupCounters,
      "passes" -> passes, "loop_s" -> loopS, "attempted" -> attempted,
      "failures" -> failures, "checks" -> checks, "outputs_dir" -> outDir,
      "spans" -> spans.all.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "peak_rss_mb" -> peakRssMb())
    Files.writeString(Paths.get(s"${a.out}/raw.json"), json.writeValueAsString(result))
    spark.stop()
  }
}
