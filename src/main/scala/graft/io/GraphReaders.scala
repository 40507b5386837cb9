package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{Fixpoint, PropertyGraph}

/** Graph file-format readers (SURVEY.md §2.1; reference:
  * `include/networkit/io/EdgeListReader.hpp:24`,
  * `METISGraphReader.hpp:21`, dispatcher `networkit/graphio.pyx:1310`).
  * Parquet is this engine's native binary format; the text formats below
  * cover the reference's fixture corpus.
  */
object GraphReaders {

  /** METIS adjacency format (reference `METISGraphReader.hpp:21`,
    * `METISParser.hpp:24`): header `n m [fmt]`, then line i lists the
    * 1-based neighbors of node i-1 (0-based out). Line order is
    * semantic, so parsing rides `textFile.zipWithIndex` — one of the few
    * legitimate RDD uses (per-partition imperative parse).
    * Node-weight (fmt 10/11) and edge-weight (fmt 1/11) variants are
    * handled; comment lines (%) skipped. */
  def readMetis(spark: SparkSession, path: String): PropertyGraph = {
    import spark.implicits._
    // keep EMPTY lines: line order is semantic and an isolated vertex's
    // adjacency line is legitimately blank — dropping it would shift
    // every later node id by one
    val lines = spark.sparkContext.textFile(path)
      .zipWithIndex()
      .filter { case (l, _) => !l.trim.startsWith("%") }
      .map { case (l, i) => (i, l.trim) }
      .sortByKey()
      .zipWithIndex()
      .map { case ((_, l), rank) => (rank, l) }

    val headerRank = lines.filter(_._2.nonEmpty).map(_._1).min()
    val header = lines.filter(_._1 == headerRank).map(_._2).collect().head
    val headerParts = header.split("\\s+").map(_.toLong)
    val fmt = if (headerParts.length > 2) headerParts(2) else 0L
    val hasEdgeWeights = fmt % 10 == 1
    val hasNodeWeights = (fmt / 10) % 10 == 1
    val n = headerParts(0)

    val edges = lines
      .filter(r => r._1 > headerRank && r._1 <= headerRank + n && r._2.nonEmpty)
      .flatMap { case (rank, l) =>
        val u = rank - headerRank - 1 // 0-based node id
        val nums = l.split("\\s+").filter(_.nonEmpty).map(_.toDouble)
        val adj = if (hasNodeWeights) nums.drop(1) else nums
        if (hasEdgeWeights)
          adj.grouped(2).collect { case Array(v, w) => (u, v.toLong - 1, w) }.toSeq
        else
          adj.map(v => (u, v.toLong - 1, 1.0)).toSeq
      }.toDF("src", "dst", "weight")
    val vertices = spark.range(n).select(col("id"))
    PropertyGraph(
      PropertyGraph.canonicalizeUndirected(edges)
        .select(col("src"), col("dst"),
          (col("weight") / 2.0).as("weight")), // each edge listed twice
      directed = false, Some(vertices))
  }

  /** Delimited edge list (reference `EdgeListReader.hpp:24`): src dst
    * [weight], configurable separator / comment prefix / first id. */
  def readEdgeList(spark: SparkSession, path: String, separator: String = "\\s+",
      commentPrefix: String = "#", firstNode: Long = 0L,
      directed: Boolean = false): PropertyGraph = {
    import spark.implicits._
    val rows = spark.read.text(path).as[String]
      .filter(l => !l.startsWith(commentPrefix) && l.trim.nonEmpty)
      .map { l =>
        val p = l.trim.split(separator)
        (p(0).toLong - firstNode, p(1).toLong - firstNode,
          if (p.length > 2) p(2).toDouble else 1.0)
      }.toDF("src", "dst", "weight")
    PropertyGraph(rows, directed)
  }

  /** MatrixMarket coordinate reader (reference
    * `io/MatrixMarketReader.cpp:37`): header
    * `%%MatrixMarket matrix coordinate [real|pattern] [general|symmetric]`,
    * `%` comments, one dims line `nrows ncols nnz`, then 1-based
    * `i j [value]` entries. Returns a COO table `(i, j, v)` 0-based
    * with symmetric off-diagonal entries mirrored (the CSRMatrix the
    * reference builds) — feed `algebra.Coo` directly, or
    * `PropertyGraph(df.toDF("src","dst","weight"), …)` for graph use.
    * Header is a bounded driver read; the body parses distributed via
    * `textFile.zipWithIndex` (line order is semantic, like METIS). */
  def readMatrixMarket(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val s = scala.io.Source.fromFile(path)
    val firstLine = try s.getLines().next() finally s.close()
    val toks = firstLine.trim.toLowerCase.split("\\s+")
    require(toks.length >= 4 &&
      (toks(0) == "%%matrixmarket" || toks(0) == "%matrixmarket") &&
      toks(2) == "coordinate", s"unsupported MatrixMarket header: $firstLine")
    val weighted = !toks.contains("pattern")
    val symmetric = toks.contains("symmetric")
    val lines = spark.sparkContext.textFile(path).zipWithIndex()
      .filter { case (l, _) => l.trim.nonEmpty && !l.trim.startsWith("%") }
    val dimsIdx = lines.map(_._2).min()
    val entries = lines.filter(_._2 != dimsIdx).map { case (l, _) =>
      val p = l.trim.split("\\s+")
      (p(0).toLong - 1, p(1).toLong - 1,
        if (weighted && p.length > 2) p(2).toDouble else 1.0)
    }.toDF("i", "j", "v")
    if (symmetric)
      entries.unionAll(entries.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("v")))
    else entries
  }

  /** Rutherford–Boeing compressed-column reader (reference
    * `io/RBMatrixReader.hpp:24`, `RBGraphReader.hpp:21`): header =
    * title line, a counts line `total nPtr nIdx nVal`, a type line
    * `fmt ncols nrows nnz` (`r`eal/`i`nteger/`p`attern,
    * `s`ymmetric flag, `a`ssembled only — the reference's support
    * envelope), a Fortran-format line (ignored), then the 1-based CSC
    * pointer / row-index / value blocks. Returns COO `(i, j, v)`
    * 0-based with symmetric off-diagonals mirrored — the same contract
    * as [[readMatrixMarket]] (the reference pins RB == MatrixMarket on
    * the tiny_05 twin fixtures; `IOGTest.cpp:1283`). The multi-line
    * fixed layout is inherently sequential, so each file parses in one
    * executor task via `wholeTextFiles`, like [[readGml]]. */
  def readRutherfordBoeing(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.wholeTextFiles(path).flatMap { case (_, content) =>
      val lines = content.split("\n")
      val counts = lines(1).trim.split("\\s+")
      val (nPtr, nIdx, nVal) = (counts(1).toInt, counts(2).toInt, counts(3).toInt)
      val tl = lines(2).trim.split("\\s+")
      val fmt = tl(0).toLowerCase
      require("rip".contains(fmt(0)),
        s"unsupported RB value type '${fmt(0)}' (real/integer/pattern only)")
      require(fmt(2) == 'a', "only assembled (compressed-column) RB supported")
      val pattern = fmt(0) == 'p'
      val symmetric = fmt(1) == 's'
      val nCols = tl(1).toInt // the reference reads the col count first
      def nums(ls: Array[String]): Array[String] =
        ls.flatMap(_.trim.split("\\s+").filter(_.nonEmpty))
      val data = lines.drop(4)
      val ptr = nums(data.take(nPtr)).map(_.toLong - 1)
      val ri = nums(data.slice(nPtr, nPtr + nIdx)).map(_.toLong - 1)
      val vs = nums(data.slice(nPtr + nIdx, nPtr + nIdx + nVal))
        .map(s => s.replace('D', 'E').replace('d', 'e').toDouble)
      val coo = (0 until nCols).iterator.flatMap { c =>
        (ptr(c) until ptr(c + 1)).map { idx =>
          (ri(idx.toInt), c.toLong, if (pattern) 1.0 else vs(idx.toInt))
        }
      }
      if (symmetric)
        coo.flatMap { case e @ (i, j, v) =>
          if (i != j) Seq(e, (j, i, v)) else Seq(e)
        }
      else coo
    }.toDF("i", "j", "v")
  }

  /** DGS dynamic-graph event stream (reference
    * `dynamics/DGSStreamParser.hpp:23`, event model
    * `GraphEvent.hpp:18-35`): `an/dn/rn` node events, `ae/ce/de` edge
    * events, `st` time steps. Returns GraphEvent rows
    * `(seq, type, u, v, w)` — type ∈ NODE_ADDITION, NODE_REMOVAL,
    * NODE_RESTORATION, EDGE_ADDITION, EDGE_WEIGHT_UPDATE, EDGE_REMOVAL,
    * TIME_STEP — ready to feed Structured Streaming replay
    * (`streaming.EventStreams.graphUpdater`). */
  def readDgs(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.textFile(path).zipWithIndex()
      .flatMap { case (line, seq) =>
        val t = line.trim.split("\\s+")
        def weight: Double = t.collectFirst {
          case s if s.startsWith("weight=") => s.stripPrefix("weight=").toDouble
        }.getOrElse(1.0)
        def edgeEnds: (Long, Long) =
          if (t.length > 3) (t(2).toLong, t(3).toLong)
          else { val p = t(1).split("-"); (p(0).toLong, p(1).toLong) }
        t.headOption match {
          case Some("an") => Seq((seq, "NODE_ADDITION", t(1).toLong, -1L, 0.0))
          case Some("dn") => Seq((seq, "NODE_REMOVAL", t(1).toLong, -1L, 0.0))
          case Some("rn") => Seq((seq, "NODE_RESTORATION", t(1).toLong, -1L, 0.0))
          case Some("ae") =>
            val (u, v) = edgeEnds; Seq((seq, "EDGE_ADDITION", u, v, weight))
          case Some("ce") =>
            val p = t(1).split("-")
            Seq((seq, "EDGE_WEIGHT_UPDATE", p(0).toLong, p(1).toLong, weight))
          case Some("de") =>
            val p = t(1).split("-")
            Seq((seq, "EDGE_REMOVAL", p(0).toLong, p(1).toLong, 0.0))
          case Some("st") => Seq((seq, "TIME_STEP", -1L, -1L, 0.0))
          case _ => Seq.empty // header / comments
        }
      }.toDF("seq", "type", "u", "v", "w")
  }

  /** Replay a GraphEvent table in sequence order into the resulting
    * edge set (reference `dynamics/GraphUpdater.hpp:19` batch apply).
    * Last event per edge wins — a groupBy max(seq), no driver loop. */
  def applyGraphEvents(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val edgeEvents = events.filter(
      col("type").isin("EDGE_ADDITION", "EDGE_WEIGHT_UPDATE", "EDGE_REMOVAL"))
    val w = Window.partitionBy("u", "v").orderBy(col("seq").desc)
    val lastEdge = edgeEvents.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("type") =!= "EDGE_REMOVAL")
    val removedNodes = events
      .filter(col("type").isin("NODE_ADDITION", "NODE_REMOVAL", "NODE_RESTORATION"))
      .groupBy(col("u").as("id"))
      .agg(max(struct(col("seq"), col("type"))).as("last"))
      .filter(col("last.type") === "NODE_REMOVAL")
      .select("id")
    lastEdge
      .join(removedNodes.withColumnRenamed("id", "u"), Seq("u"), "left_anti")
      .join(removedNodes.withColumnRenamed("id", "v"), Seq("v"), "left_anti")
      .select(col("u").as("src"), col("v").as("dst"), col("w").as("weight"))
  }

  /** GML reader (reference `io/GMLGraphReader.hpp:18`): `graph [ node
    * [ id N ] … edge [ source A target B ] ]`, optional `directed 1`
    * header key. GML files are unsplittable interchange fixtures, so
    * each file is parsed in one executor task via `wholeTextFiles`. */
  def readGml(spark: SparkSession, path: String): PropertyGraph = Fixpoint.scope { st =>
    import spark.implicits._
    val text = spark.sparkContext.wholeTextFiles(path).map(_._2)
    val parsed = st.persist(text.flatMap { content =>
      val tokens = content.split("[\\s\\[\\]]+").filter(_.nonEmpty)
      val buf = scala.collection.mutable.ArrayBuffer[(String, Long, Long, Double)]()
      var directed = 0L
      var i = 0
      while (i < tokens.length) {
        tokens(i) match {
          case "directed" if i + 1 < tokens.length =>
            directed = tokens(i + 1).toLong; i += 2
          case "node" =>
            // scan forward for the id key of this block
            var j = i + 1
            while (j < tokens.length && tokens(j) != "id") j += 1
            if (j + 1 < tokens.length) buf += (("n", tokens(j + 1).toLong, -1L, 0.0))
            i = j + 2
          case "edge" =>
            var (src, dst, w) = (-1L, -1L, 1.0)
            var j = i + 1
            var done = false
            while (j + 1 < tokens.length && !done) {
              tokens(j) match {
                case "source" => src = tokens(j + 1).toLong; j += 2
                case "target" => dst = tokens(j + 1).toLong; j += 2
                case "value" | "weight" => w = tokens(j + 1).toDouble; j += 2
                case "node" | "edge" => done = true
                case _ => j += 1
              }
            }
            buf += (("e", src, dst, w))
            i = j
          case _ => i += 1
        }
      }
      buf.iterator.map { case (k, u, v, w) => (k, u, v, w, directed) }
    }.toDF("kind", "u", "v", "w", "directed"))
    // the read fails here on a missing path, and the scope then drops
    // the cache entry: an entry over an unreadable input would make every
    // later `Dataset.unpersist` of the session throw
    val directed = parsed.agg(max("directed")).head.getLong(0) == 1L
    val vertices = parsed.filter(col("kind") === "n").select(col("u").as("id"))
    val edges = parsed.filter(col("kind") === "e")
      .select(col("u").as("src"), col("v").as("dst"), col("w").as("weight"))
    PropertyGraph(
      if (directed) edges else PropertyGraph.canonicalizeUndirected(edges),
      directed = directed, Some(vertices))
  }

  /** GML writer (reference `io/GMLGraphWriter.hpp`): node and edge
    * blocks are BUILT distributed (one typed projection each, sorted by
    * id / (src, dst) for determinism); only the final single-file sink
    * streams through the driver one partition at a time
    * ([[writeSectionedSingleFile]]) — driver memory is partition-
    * bounded, not graph-bounded. */
  def writeGml(g: PropertyGraph, path: String): Unit = {
    val spark = g.vertices.sparkSession
    import spark.implicits._
    val head = (Seq("graph [") ++ (if (g.directed) Seq("  directed 1") else Nil))
      .zipWithIndex.map { case (l, i) => (0, i.toLong, 0L, l) }
      .toDF("sec", "a", "b", "line")
    val nodes = g.vertices.select(col("id")).as[Long]
      .map(id => (1, id, 0L, s"  node [\n    id $id\n  ]"))
      .toDF("sec", "a", "b", "line")
    val edges = g.edges.select(col("src"), col("dst")).as[(Long, Long)]
      .map { case (u, v) =>
        (2, u, v, s"  edge [\n    source $u\n    target $v\n  ]") }
      .toDF("sec", "a", "b", "line")
    val foot = Seq((3, 0L, 0L, "]")).toDF("sec", "a", "b", "line")
    writeSectionedSingleFile(
      head.unionAll(nodes).unionAll(edges).unionAll(foot), path)
  }

  /** KONECT reader with header directives (reference
    * `io/KONECTGraphReader.hpp`): the first `%` line declares
    * `sym|asym|bip` (symmetry) and the weight class
    * (`unweighted|posweighted|signed|…`); remaining `%` lines are
    * comments. Node ids are 1-based. */
  def readKonect(spark: SparkSession, path: String): PropertyGraph = {
    import spark.implicits._
    val lines = spark.sparkContext.textFile(path)
    val header = lines.filter(_.startsWith("%")).take(1).headOption.getOrElse("%")
    val directives = header.stripPrefix("%").trim.split("\\s+")
    val directed = directives.headOption.contains("asym")
    val weighted = directives.length > 1 && directives(1) != "unweighted"
    val edges = lines
      .filter(l => !l.startsWith("%") && l.trim.nonEmpty)
      .map { l =>
        val p = l.trim.split("\\s+")
        (p(0).toLong - 1, p(1).toLong - 1,
          if (weighted && p.length > 2) p(2).toDouble else 1.0)
      }.toDF("src", "dst", "weight")
    PropertyGraph(
      if (directed) edges else PropertyGraph.canonicalizeUndirected(edges),
      directed = directed)
  }

  /** Partition file (reference `PartitionReader.hpp:21`): line i is the
    * community of node i. `(id, community)` */
  def readPartition(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.textFile(path).zipWithIndex()
      .map { case (l, i) => (i, l.trim.toLong) }
      .toDF("id", "community")
  }

  /** Write an ordered single text file: the format's line order is
    * semantic, so the lines are shuffled to ONE partition and sorted
    * there — Spark writes `path/part-*` which every reader here accepts
    * (textFile on a directory). Lines carry an explicit order key. */
  private[io] def writeOrderedLines(lines: DataFrame, path: String): Unit =
    lines.repartition(1).sortWithinPartitions("ord")
      .select(col("line"))
      .write.mode("overwrite").text(path)

  /** Write `(sec, a, b, line)` rows as ONE local file at `path` in
    * (sec, a, b) order, `\n` after every line. Unlike
    * [[writeOrderedLines]] this produces a plain file (not a
    * `part-*` directory) — required by the DOM-parsed XML formats —
    * without collecting: the rows sort DISTRIBUTED (range-partitioned
    * sort), then stream to the driver one partition at a time via
    * `toLocalIterator`, so driver memory is bounded by one sorted
    * partition, never the whole graph. */
  private[io] def writeSectionedSingleFile(lines: DataFrame, path: String): Unit = {
    val it = lines.sort("sec", "a", "b").select(col("line")).toLocalIterator()
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try while (it.hasNext) { w.write(it.next().getString(0)); w.write("\n") }
    finally w.close()
  }

  /** METIS adjacency writer (reference `io/METISGraphWriter.hpp:18`):
    * header `n m [fmt]`, then line i = the 1-based neighbors of node
    * i−1 (each undirected edge appears in both endpoint lines; isolated
    * vertices get a blank line — see [[readMetis]]). Writes fmt 1 with
    * `v w` pairs when any weight ≠ 1. Node ids must be 0..n−1 (the
    * format has no id column). Adjacency lines are BUILT distributed
    * (group + sort_array per node); only the final single-file sink is
    * serial, which the line-ordered format itself dictates. */
  def writeMetis(g: PropertyGraph, path: String): Unit = {
    val spark = g.edges.sparkSession
    val n = g.vertices.agg(max(col("id"))).head.getLong(0) + 1
    val m = g.edges.filter(col("src") =!= col("dst")).count()
    val weighted = g.edges.filter(col("weight") =!= 1.0).limit(1).count() > 0
    val adj = g.adjacency.filter(col("src") =!= col("dst"))
    val body0 =
      if (weighted)
        adj.groupBy(col("src").as("id"))
          .agg(sort_array(collect_list(struct(col("dst"), col("weight")))).as("ns"))
          .select(col("id"), expr(
            """array_join(transform(ns, s ->
              |  concat(cast(s.dst + 1 AS STRING), ' ',
              |         cast(s.weight AS STRING))), ' ')""".stripMargin)
            .as("line"))
      else
        adj.groupBy(col("src").as("id"))
          .agg(sort_array(collect_list(col("dst") + 1)).as("ns"))
          .select(col("id"), expr(
            "array_join(transform(ns, x -> cast(x AS STRING)), ' ')").as("line"))
    val body = spark.range(n).select(col("id"))
      .join(body0, Seq("id"), "left")
      .select((col("id") + 1).as("ord"), coalesce(col("line"), lit("")).as("line"))
    val fmtSuffix = if (weighted) " 1" else ""
    val header = spark.range(1).select(lit(0L).as("ord"),
      lit(s"$n $m$fmtSuffix").as("line"))
    writeOrderedLines(header.unionAll(body), path)
  }

  /** Delimited edge-list writer (reference `io/EdgeListWriter.hpp:21`):
    * one `src<sep>dst[<sep>weight]` line per stored edge, fully
    * distributed (order is not semantic in the format; parts are
    * written in parallel and [[readEdgeList]] reads the directory). */
  def writeEdgeList(g: PropertyGraph, path: String, separator: String = " ",
      firstNode: Long = 0L, writeWeights: Boolean = true): Unit = {
    val lines =
      if (writeWeights)
        g.edges.select(concat_ws(separator,
          col("src") + firstNode, col("dst") + firstNode, col("weight")).as("value"))
      else
        g.edges.select(concat_ws(separator,
          col("src") + firstNode, col("dst") + firstNode).as("value"))
    lines.write.mode("overwrite").text(path)
  }

  /** DOT graph writer (reference `io/DotGraphWriter.hpp:19`): `graph {`
    * then one `u -- v;` line per edge. Edge order is not semantic in
    * DOT, so the body writes fully distributed; only the 2-line shell
    * is fixed (ord keys −1 and Long.Max). */
  def writeDot(g: PropertyGraph, path: String): Unit = {
    val spark = g.edges.sparkSession
    val sep = if (g.directed) " -> " else " -- "
    val head = if (g.directed) "digraph {" else "graph {"
    val body = g.edges.select(
      col("src").as("ord"),
      concat(col("src"), lit(sep), col("dst"), lit(";")).as("line"))
    val shell = spark.range(2).select(
      when(col("id") === 0, lit(-1L)).otherwise(lit(Long.MaxValue)).as("ord"),
      when(col("id") === 0, head).otherwise("}").as("line"))
    writeOrderedLines(shell.unionAll(body), path)
  }

  /** DOT partition writer (reference `io/DotPartitionWriter.hpp:20`):
    * like [[writeDot]] plus one styled line per NON-ISOLATED node with
    * an HSV hue that is the community's rank among the distinct
    * communities present (the reference's hue map iterates an unordered
    * set; this writer ranks by community id — deterministic). */
  def writeDotPartition(g: PropertyGraph, partition: DataFrame,
      path: String): Unit = {
    val spark = g.edges.sparkSession
    val connected = g.adjacency.select(col("src").as("id")).distinct()
    val present = partition.join(connected, "id")
    val hue = present.select("community").distinct()
      .withColumn("idx", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("community")) - 1)
    val nC = hue.count().toDouble
    val nodeLines = present.join(hue, "community")
      .select(col("id").as("ord"),
        concat(col("id"), lit(" [style=filled, color=\""),
          round(col("idx") / nC, 6), lit(",0.99,0.99\", label="),
          col("community"), lit("];")).as("line"))
    val n = g.vertices.agg(coalesce(max(col("id")) + 1, lit(0L))).head.getLong(0)
    val edgeLines = g.edges.select((col("src") + n).as("ord"),
      concat(col("src"), lit(" -- "), col("dst"), lit(";")).as("line"))
    val shell = spark.range(2).select(
      when(col("id") === 0, lit(-1L)).otherwise(lit(Long.MaxValue)).as("ord"),
      when(col("id") === 0, "graph {").otherwise("}").as("line"))
    writeOrderedLines(shell.unionAll(nodeLines).unionAll(edgeLines), path)
  }

  /** SNAP graph writer (reference `io/SNAPGraphWriter.hpp:21`): problem
    * line `p n m u u 0`, then one `src dst` line per edge. */
  def writeSnap(g: PropertyGraph, path: String): Unit = {
    val spark = g.edges.sparkSession
    val n = g.vertices.count(); val m = g.edges.count()
    val body = g.edges.select(col("src").as("ord"),
      concat(col("src"), lit(" "), col("dst")).as("line"))
    val header = spark.range(1).select(lit(-1L).as("ord"),
      lit(s"p $n $m u u 0").as("line"))
    writeOrderedLines(header.unionAll(body), path)
  }

  /** Partition writer (reference `io/PartitionWriter.hpp:20`): line i is
    * node i's community. Input `(id, community)` with ids 0..n−1 (the
    * format is positional — [[readPartition]]'s inverse). */
  def writePartition(partition: DataFrame, path: String): Unit =
    writeOrderedLines(
      partition.select(col("id").cast("long").as("ord"),
        col("community").cast("long").cast("string").as("line")),
      path)

  /** Cover reader (reference `io/CoverReader.hpp:19`): non-comment line
    * i lists the member nodes of community i. Returns `(id, community)`
    * rows — one per membership, so overlapping covers surface as
    * multiple rows per id (the relational form of the reference's
    * `Cover`; `collect_set` by id gives the `(id, communities)` shape).
    * SNAP community files (`io/SNAPEdgeListPartitionReader.hpp:23`, one
    * member list per line over arbitrary ids) read the same way. */
  def readCover(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.textFile(path).zipWithIndex()
      .filter { case (l, _) => !l.startsWith("#") }
      .map { case (l, i) => (i, l.trim) }
      .sortByKey().zipWithIndex() // community = non-comment line rank
      .flatMap { case ((_, l), c) =>
        l.split("\\s+").filter(_.nonEmpty).map(tok => (tok.toLong, c))
      }.toDF("id", "community")
  }

  /** Cover writer (reference `io/CoverWriter.hpp:19`): line c lists the
    * members of community c, space-separated. Communities must be
    * 0-based and dense (line order is semantic). */
  def writeCover(cover: DataFrame, path: String): Unit =
    writeOrderedLines(
      cover.groupBy(col("community").cast("long").as("ord"))
        .agg(array_join(sort_array(collect_list(col("id").cast("long"))), " ")
          .as("line")),
      path)

  /** Edge-list partition reader (reference
    * `io/EdgeListPartitionReader.hpp:20`): each line `node<sep>community`
    * with explicit ids (unlike [[readPartition]]'s positional lines). */
  def readEdgeListPartition(spark: SparkSession, path: String,
      firstNode: Long = 0L, separator: String = "\\s+"): DataFrame = {
    import spark.implicits._
    spark.read.text(path).as[String]
      .filter(l => !l.startsWith("#") && l.trim.nonEmpty)
      .map { l =>
        val p = l.trim.split(separator)
        (p(0).toLong - firstNode, p(1).toLong)
      }.toDF("id", "community")
  }

  /** Edge-list cover reader (reference `io/EdgeListCoverReader.hpp:19`):
    * each line lists a node then ALL its community ids — the transposed
    * orientation of [[readCover]]. Same `(id, community)` output. */
  def readEdgeListCover(spark: SparkSession, path: String,
      firstNode: Long = 0L): DataFrame = {
    import spark.implicits._
    spark.read.text(path).as[String]
      .filter(l => !l.startsWith("#") && l.trim.nonEmpty)
      .flatMap { l =>
        val p = l.trim.split("\\s+")
        val v = p(0).toLong - firstNode
        p.drop(1).map(c => (v, c.toLong))
      }.toDF("id", "community")
  }

  /** DGS event-stream writer (reference `dynamics/DGSWriter.hpp:21`):
    * serializes a GraphEvent table `(seq, type, u, v, w)` (the
    * [[readDgs]] schema) back to DGS lines in sequence order. Edge
    * lines carry both the `u-v` label and explicit endpoint tokens,
    * which [[readDgs]] and the reference parser both accept. */
  def writeDgs(events: DataFrame, path: String): Unit = {
    val us = col("u").cast("string"); val vs = col("v").cast("string")
    val ws = col("w").cast("string")
    val line = when(col("type") === "NODE_ADDITION", concat(lit("an "), us))
      .when(col("type") === "NODE_REMOVAL", concat(lit("dn "), us))
      .when(col("type") === "NODE_RESTORATION", concat(lit("rn "), us))
      .when(col("type") === "EDGE_ADDITION",
        concat(lit("ae "), us, lit("-"), vs, lit(" "), us,
          lit(" "), vs, lit(" weight="), ws))
      .when(col("type") === "EDGE_WEIGHT_UPDATE",
        concat(lit("ce "), us, lit("-"), vs, lit(" weight="), ws))
      .when(col("type") === "EDGE_REMOVAL",
        concat(lit("de "), us, lit("-"), vs))
      .when(col("type") === "TIME_STEP", lit("st"))
    val header = events.sparkSession.range(2).select(
      (col("id") - 2).as("ord"),
      when(col("id") === 0, "DGS004").otherwise("null 0 0").as("line"))
    writeOrderedLines(
      header.unionAll(events.select(col("seq").as("ord"), line.as("line"))
        .filter(col("line").isNotNull)),
      path)
  }

  /** Format sniffing (reference `networkit/graphio.pyx:1144`
    * `guessFileFormat`): magic bytes decide the binary formats in O(1);
    * the first lines decide the structured text formats (GEXF, GraphML,
    * GraphViz, GML, KONECT, MatrixMarket, Rutherford–Boeing); the
    * METIS / SNAP / edge-list tail scans the whole file, linear like
    * the reference's. All reads are driver-side header/line scans of a
    * single interchange file (the same discipline as the readers
    * themselves — parquet is the engine-native format). Returns the
    * reference's Format name. */
  def guessFileFormat(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = {
      val in = fs.open(p)
      val b = new Array[Byte](7)
      val got = in.read(b); in.close()
      b.take(math.max(got, 0))
    }
    val GtMagic = Array(0xe2, 0x9b, 0xbe, 0x20, 0x67, 0x74).map(_.toByte)
    if (head.length >= 6 && head.take(6).sameElements(GtMagic))
      return "GraphToolBinary"
    val headStr = new String(head, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (headStr == "nkbg002" || headStr == "nkbg003") return "NetworkitBinary"

    def readLines(limit: Int): Vector[String] = {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(fs.open(p)))
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      var l = in.readLine()
      while (l != null && (limit < 0 || buf.length < limit)) { buf += l; l = in.readLine() }
      in.close(); buf.toVector
    }
    val first4 = readLines(4)
    val firstline = first4.headOption.getOrElse("")
    val secondline = if (first4.length > 1) first4(1) else ""
    if (firstline.startsWith("<?xml")) {
      if (secondline.startsWith("<gexf")) return "GEXF"
      if (secondline.startsWith("<graphml")) return "GraphML"
    }
    if ("^(strict)?\\s?(di)?graph(\\s.)*\\s?\\{".r
        .findFirstIn(firstline.toLowerCase).isDefined) return "GraphViz"
    if ("^graph\\s\\[$".r.findFirstIn(firstline.toLowerCase).isDefined) return "GML"
    if (("^%\\s((asym)|(sym)|(bip))\\s((unweighted)|(positive)|(posweighted)|(signed)|" +
        "(multisigned)|(weighted)|(multiweighted)|(dynamic)|(multiposweighted))$").r
        .findFirstIn(firstline.toLowerCase).isDefined) return "KONECT"
    if ("^%+MatrixMarket".r.findFirstIn(firstline).isDefined) return "MatrixMarket"
    if (first4.length > 3 &&
        "^\\(\\d+[A-Z]\\d+\\)\\s+\\(\\d+[A-Z]\\d+\\)\\s+\\(\\d+[A-Z]\\d+".r
          .findFirstIn(first4(3)).isDefined) return "RB"

    // METIS / SNAP / edge-list heuristics over the full file, mirroring
    // the reference's scan exactly (comment prefix = first char when
    // non-numeric; separator = the last line's id<sep>id separator)
    val lines = readLines(-1)
    val commentPrefix: Option[Char] = firstline.headOption.filterNot(_.isDigit)
    var separator: Option[Char] = None
    val sepRe = "^\\d+(.)\\d+".r
    lines.foreach { line =>
      if (!commentPrefix.exists(c => line.startsWith(c.toString)))
        sepRe.findFirstMatchIn(line).foreach(m => separator = Some(m.group(1).head))
    }
    var minId = Long.MaxValue
    var snapFound = commentPrefix.isEmpty && separator.exists(c => c == ' ' || c == '\t')
    val snapRe = "(^\\d+\\s\\d+\\s*$)|(^\\s*$)".r
    val idsRe = "^(\\d+)\\s(\\d+)".r
    val metisHeadRe = "\\s*(\\d+)\\s+(\\d+)(?:\\s+(\\d+))?(?:\\s+(\\d+))?".r
    val numRe = "\\d+(\\.\\d+)?".r
    var n = -1L; var m = -1L; var fmt = -1L
    var noncomment = 0L; var edgeTokens = 0L
    var break = false
    for (line <- lines if !break) {
      if (snapFound && snapRe.findPrefixMatchOf(line).isEmpty) snapFound = false
      val isComment = commentPrefix.exists(c => line.startsWith(c.toString))
      if (!isComment && !(line.trim.isEmpty && noncomment == n + 1)) {
        idsRe.findFirstMatchIn(line).foreach { mm =>
          minId = math.min(minId, math.min(mm.group(1).toLong, mm.group(2).toLong))
        }
        if (noncomment == 0) {
          metisHeadRe.findPrefixMatchOf(line) match {
            case Some(mm) =>
              n = mm.group(1).toLong; m = mm.group(2).toLong
              if (mm.group(3) != null) fmt = mm.group(3).toLong
            case None => break = true
          }
        } else edgeTokens += numRe.findAllIn(line).length
        if (!break) noncomment += 1
      }
    }
    val metisFound = n == noncomment - 1 &&
      (commentPrefix.isEmpty || commentPrefix.contains('%')) &&
      (((fmt == -1L || fmt == 0L) && m * 2 == edgeTokens) ||
        (fmt == 1L && m * 4 == edgeTokens) || fmt == 10L || fmt == 11L)
    var guess: Option[String] = None
    if (commentPrefix.contains('#')) {
      guess = (minId == 0L, separator) match {
        case (true, Some('\t')) => Some("EdgeListTabZero")
        case (true, Some(' ')) => Some("EdgeListSpaceZero")
        case (false, Some('\t')) => Some("EdgeListTabOne")
        case (false, Some(' ')) => Some("EdgeListSpaceOne")
        case (false, Some(',')) => Some("EdgeListCommaOne")
        case _ => None
      }
    }
    if (snapFound) guess = Some("SNAP")
    if (metisFound && guess.isDefined)
      throw new java.io.IOException(
        "Format guessing failed: file could be METIS or edge list!")
    guess.getOrElse(
      if (metisFound) "METIS"
      else throw new java.io.IOException("Format guessing failed: no type found"))
  }

  /** The reference's single `readGraph` entry point
    * (`graphio.pyx:1310`): sniff the format with [[guessFileFormat]]
    * (or take it explicitly) and dispatch to the matching reader. */
  def readGraph(spark: SparkSession, path: String,
      format: String = ""): PropertyGraph = {
    val fmt = if (format.nonEmpty) format else guessFileFormat(spark, path)
    fmt match {
      case "GraphToolBinary" => BinaryFormats.readGraphTool(spark, path)
      // explicit-format only, like the reference's C++ reader (its
      // guessFileFormat table does not sniff the GI magic)
      case "DibaP" => BinaryFormats.readDibap(spark, path)
      case "NetworkitBinary" => NetworkitBinary.read(spark, path)
      case "GEXF" => Gexf.read(spark, path)._1
      case "GraphML" => Gexf.readGraphMl(spark, path)
      case "GML" => readGml(spark, path)
      case "KONECT" => readKonect(spark, path)
      case "MatrixMarket" => PropertyGraph(
        readMatrixMarket(spark, path).toDF("src", "dst", "weight"),
        directed = false)
      case "RB" => PropertyGraph(
        readRutherfordBoeing(spark, path).toDF("src", "dst", "weight"),
        directed = false)
      case "METIS" => readMetis(spark, path)
      case "SNAP" => readEdgeList(spark, path, "\\s+", "#", 0L)
      case "EdgeListTabZero" => readEdgeList(spark, path, "\t", "#", 0L)
      case "EdgeListSpaceZero" => readEdgeList(spark, path, " ", "#", 0L)
      case "EdgeListTabOne" => readEdgeList(spark, path, "\t", "#", 1L)
      case "EdgeListSpaceOne" => readEdgeList(spark, path, " ", "#", 1L)
      case "EdgeListCommaOne" => readEdgeList(spark, path, ",", "#", 1L)
      case other => throw new java.io.IOException(s"no reader for format $other")
    }
  }
}
