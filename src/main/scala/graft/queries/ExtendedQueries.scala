package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.graph._
import graft.algebra.Coo
import graft.ml.Multimodal

/** Queries for the extended operator families: algebra (semiring
  * matmul), sparsification, spanning forest, matching, MIS, ANF
  * sketches, generators, multimodal plumbing. SQL-expressible ones get
  * DuckDB oracles; the rest are rows-only with invariants asserted in
  * ScalaTest.
  */
object ExtendedQueries {
  type Q = (SparkSession, String) => DataFrame


  private val graphCte =
    """op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS c
      |      FROM op a JOIN op b ON a.l_orderkey=b.l_orderkey AND a.l_partkey<b.l_partkey
      |      GROUP BY 1,2 HAVING count(*) >= 2),
      |sym AS (SELECT src, dst, c FROM e UNION ALL SELECT dst, src, c FROM e),
      |deg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)""".stripMargin

  /** The media payload dimension contract (`Multimodal.widthOf` etc.):
    * every encoded size and decoded dimension is a pure function of
    * `n_chars`, so the x10–x12 oracles re-derive them here. */
  private val mediaDimsCte =
    """m AS (SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image'
      |    WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
      |  8 + n_chars % 24 AS w, 8 + n_chars % 16 AS h,
      |  256 + n_chars % 512 AS ns, 1 + n_chars % 5 AS nf
      |FROM documents)""".stripMargin

  /** Exact Brandes dependency sums (layered σ/δ DP, the x18 shape) from
    * the `nSources` lowest-id sources, top-`topK` ranked by score —
    * independent oracle for the x39 exact-betweenness slice. `depth` must
    * exceed the max source eccentricity (12 at sf0.01; extra levels are
    * empty and idempotent). */
  private def brandes64Sql(nSources: Int, depth: Int, topK: Int): String = {
    val sigLevels = (1 to depth).map { k =>
      s"""sig$k AS MATERIALIZED (
         |  SELECT d.s, d.id, sum(sp.sigma) AS sigma
         |  FROM dm d JOIN symm e2 ON e2.dst = d.id
         |  JOIN sig${k - 1} sp ON sp.s = d.s AND sp.id = e2.src
         |  JOIN dm dp ON dp.s = d.s AND dp.id = e2.src AND dp.dist = ${k - 1}
         |  WHERE d.dist = $k GROUP BY d.s, d.id)""".stripMargin
    }.mkString(",\n")
    val delLevels = (s"delL$depth AS MATERIALIZED (SELECT s, id, 0.0 AS delta FROM dm WHERE dist = $depth)" +:
      (depth - 1 to 0 by -1).map { k =>
        s"""delL$k AS MATERIALIZED (
           |  SELECT v.s, v.id,
           |    coalesce(sum(sv.sigma / sw.sigma * (1.0 + dw.delta)), 0.0) AS delta
           |  FROM dm v
           |  JOIN sig sv ON sv.s = v.s AND sv.id = v.id
           |  LEFT JOIN symm e2 ON e2.src = v.id
           |  LEFT JOIN dm w ON w.s = v.s AND w.id = e2.dst AND w.dist = ${k + 1}
           |  LEFT JOIN sig sw ON sw.s = v.s AND sw.id = w.id
           |  LEFT JOIN delL${k + 1} dw ON dw.s = v.s AND dw.id = w.id
           |  WHERE v.dist = $k
           |  GROUP BY v.s, v.id)""".stripMargin
      }).mkString(",\n")
    val allDel = (0 to depth).map(k => s"SELECT * FROM delL$k").mkString(" UNION ALL ")
    val allSig = (0 to depth).map(k => s"SELECT * FROM sig$k").mkString(" UNION ALL ")
    s"""WITH RECURSIVE $graphCte,
       |symm AS MATERIALIZED (SELECT src, dst FROM sym),
       |nodes AS (SELECT DISTINCT src AS id FROM sym),
       |srcs AS (SELECT id FROM nodes ORDER BY id LIMIT $nSources),
       |reach(s, id, dist) AS (
       |  SELECT id, id, 0 FROM srcs
       |  UNION
       |  SELECT r.s, e2.dst, r.dist+1 FROM reach r JOIN symm e2 ON e2.src=r.id
       |  WHERE r.dist < $depth),
       |dm AS MATERIALIZED (SELECT s, id, min(dist) AS dist FROM reach GROUP BY s, id),
       |sig0 AS MATERIALIZED (SELECT s, id, 1.0 AS sigma FROM dm WHERE dist = 0),
       |$sigLevels,
       |sig AS MATERIALIZED ($allSig),
       |$delLevels,
       |alldel AS ($allDel),
       |sc AS (SELECT n.id,
       |  coalesce(sum(CASE WHEN a.id <> a.s THEN a.delta END), 0.0) / 2.0 AS score
       |FROM nodes n LEFT JOIN alldel a ON a.id = n.id
       |GROUP BY n.id),
       |t AS (SELECT row_number() OVER (
       |    ORDER BY cast(floor(score * 100 + 0.5) AS BIGINT) DESC, id ASC)::BIGINT AS rank,
       |  id, cast(floor(score * 100 + 0.5) AS BIGINT) AS dep64 FROM sc)
       |SELECT rank, id, dep64, 1::BIGINT AS within_err FROM t WHERE rank <= $topK""".stripMargin
  }

  val defs: Map[String, Q] = Map(
    // spectral coloring (reference networkit/coloring.py:5): recursive
    // sign-splits over the smallest adjacency eigenvectors; the gate is
    // per-node VALIDITY — no node may share its color with a neighbor
    // (the oracle asserts all-ones), plus an in-query bound that the
    // palette stays well below singletons
    "x85_coloring" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val coloring = graft.graph.Coloring.spectralColoring(g)
        .localCheckpoint(true)
      val n = coloring.count()
      val nColors = coloring.select("color").distinct().count()
      require(nColors < n / 2,
        s"spectral coloring degenerated to near-singletons ($nColors of $n)")
      val monoSide = g.adjacency
        .join(coloring.select(col("id").as("src"), col("color").as("cs")), "src")
        .join(coloring.select(col("id").as("dst"), col("color").as("cd")), "dst")
        .filter(col("cs") === col("cd"))
        .select(col("src").as("id")).distinct()
      coloring.join(monoSide.withColumn("bad", lit(1L)), Seq("id"), "left")
        .select(col("id"),
          when(col("bad").isNull, 1L).otherwise(0L).as("properly_colored"))
    }),
    // Gini coefficient of the degree distribution (reference
    // networkit/stats.pyx:16) — num/den are the exact integer-valued
    // decomposition 2(fair−area) / 2·fair, so the contract has no
    // rounding; both engines compute the identical window cumsum
    "x86_gini" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      graft.graph.Coloring.gini(g.degrees, "degree")
    }),
    // electrical-family agreement gate against CLOSED-FORM values (the
    // quantified deviation the 🔶 demanded: the reference guarantees an
    // ε-bound via UST sampling, this engine solves the same systems with
    // CG — here the solves are pinned to exact closed forms with stated
    // tolerances): path resistance r(0,j) = j (tol 1e-6), cycle
    // electrical closeness = 6/(n+1) for every node (exact-trace mode —
    // all-node diagonal solves, the reference test's computeExactDiagonal
    // baseline — tol 1e-6), tree spanning-edge centrality exactly 1 per
    // edge (tol 1e-6)
    "x87_electrical2" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val n = 24
      val path = PropertyGraph(
        (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
          .withColumn("weight", lit(1.0)),
        directed = false, Some(s.range(n).select(col("id"))))
      val rp = Electrical.effectiveResistance(
          path, (1 until n).map(j => (0L, j.toLong)), maxIter = 60)
        .select(lit("path_r").as("kind"), col("u").as("a"), col("v").as("b"),
          (abs(col("resistance") - (col("v") - col("u"))) <= 1e-6)
            .cast("long").as("within_tol"))
      val cyc = Generators.regularRingLattice(s, n, 1)
      val cc = Electrical.electricalCloseness(cyc, (0L until 8L).toSeq,
          maxIter = 60, exactTrace = true)
        .select(lit("cycle_ccl").as("kind"), col("id").as("a"), lit(-1L).as("b"),
          (abs(col("closeness") - lit(6.0 / (n + 1))) <= 1e-6)
            .cast("long").as("within_tol"))
      val star = PropertyGraph(
        (1 until n).map(i => (0L, i.toLong)).toDF("src", "dst")
          .withColumn("weight", lit(1.0)),
        directed = false, Some(s.range(n).select(col("id"))))
      val se = Electrical.spanningEdgeCentrality(star, sampleEdges = 6, maxIter = 60)
        .agg(sum(when(abs(col("resistance") - 1.0) <= 1e-6, 1L).otherwise(0L)).as("ok"),
          count(lit(1)).as("total"))
        .select(lit("tree_se").as("kind"), col("ok").as("a"), col("total").as("b"),
          (col("ok") === col("total")).cast("long").as("within_tol"))
      rp.unionAll(cc).unionAll(se)
    }),
    // spectral bisection (reference algebraic.py laplacianEigenvectors +
    // the classic Fiedler-sign partition): on a barbell (two K8s joined
    // by one bridge) the bisection is EXACTLY the clique split — an
    // integer, hash-matched oracle for a spectral operator (the spectral
    // gap makes the split robust to iteration error; side normalized so
    // node 0 is side 0)
    "x88_bisect" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val c = 8
      val k1 = for (i <- 0 until c; j <- i + 1 until c) yield (i.toLong, j.toLong)
      val k2 = k1.map { case (u, v) => (u + c, v + c) }
      val g = PropertyGraph(
        (k1 ++ k2 :+ ((c - 1).toLong, c.toLong)).toDF("src", "dst")
          .withColumn("weight", lit(1.0)),
        directed = false, Some(s.range(2L * c).select(col("id"))))
      Spectral.spectralBisection(g)
    }),
    // DiBaP .gi binary reader on the reference's own airfoil1 fixture:
    // hard Spark-side require that the binary parse equals the METIS
    // twin edge-for-edge, then emit the degree table + coordinate dim;
    // the oracle re-derives degrees character-level from the TEXT twin
    "x89_dibap" -> ((s, dir) => {
      val gi = graft.io.BinaryFormats.readDibap(
        s, "/root/reference/input/airfoil1.gi")
      val twin = graft.io.GraphReaders.readMetis(
        s, "/root/reference/input/airfoil1.graph")
      def canon(g: PropertyGraph) = PropertyGraph.canonicalizeUndirected(
        g.edges.select(col("src"), col("dst"), lit(1.0).as("weight")))
        .select("src", "dst")
      require(canon(gi).except(canon(twin)).isEmpty &&
        canon(twin).except(canon(gi)).isEmpty,
        "dibap fixture must equal its METIS twin edge-for-edge")
      val coordDim = graft.io.BinaryFormats.readDibapCoordinates(
          s, "/root/reference/input/airfoil1.gi")
        .select(size(col("coords"))).distinct().head.getInt(0)
      gi.vertices.select("id")
        .join(gi.adjacency.groupBy(col("src").as("id"))
          .agg(count(lit(1)).as("deg")), Seq("id"), "left")
        .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"),
          lit(coordDim.toLong).as("coord_dim"))
    }),
    // profiling stat battery (reference profiling/stat.py) over the
    // part-graph degree distribution + Spearman(degree, triangles):
    // every value emitted as floor(v·1e6 + 0.5) — identical IEEE
    // multiply/add/floor on both engines (round() differs near .xx5)
    "x90_profile" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val deg = g.degrees
      val stats = graft.stats.Profiling.measureStats(deg, "degree")
      val tri = deg.join(graft.graph.Triangles.perNode(g), Seq("id"), "left")
        .select(col("id"), col("degree"),
          coalesce(col("triangles"), lit(0L)).as("tri"))
        .localCheckpoint(true)
      val sp = graft.stats.Profiling.spearman(
        tri.select("id", "degree"), tri.select("id", "tri"),
        "id", "degree", "tri")
      stats.unionAll(Seq(("spearman_degree_triangles", sp)).toDF("stat", "value"))
        .select(col("stat"),
          floor(col("value") * 1e6 + 0.5).cast("long").as("value_e6"))
    }),
    // partition / cover readers on the reference's own community
    // fixtures (EdgeListPartitionReader(1) / EdgeListCoverReader(1) /
    // CoverReader semantics); the oracle re-parses the text files
    // character-level, so every (id, community) row is independently
    // re-derived
    "x91_partio" -> ((s, dir) => {
      val p = graft.io.GraphReaders.readEdgeListPartition(
          s, "/root/reference/input/community.dat", firstNode = 1L)
        .select(lit("partition").as("source"), col("id"), col("community"))
      val elc = graft.io.GraphReaders.readEdgeListCover(
          s, "/root/reference/input/community_overlapping.dat", firstNode = 1L)
        .select(lit("elcover").as("source"), col("id"), col("community"))
      val cov = graft.io.GraphReaders.readCover(
          s, "/root/reference/input/community_overlapping.cover")
        .select(lit("cover").as("source"), col("id"), col("community"))
      p.unionAll(elc).unionAll(cov)
    }),
    // A* (reference `distance/AStar.hpp`): 3 source↔target pairs on the
    // unit-weight part graph, run with BOTH the zero heuristic (≡
    // dijkstra) and the tightest admissible landmark heuristic
    // h(v) = d(v, t); a hard require pins their equality (heuristic
    // admissibility gate), the oracle re-derives the hop distances by
    // recursive CTE
    "x92_astar" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val g0 = DerivedGraphs.partGraph(s, dir, 2)
      val g = PropertyGraph(
        g0.edges.select(col("src"), col("dst"), lit(1.0).as("weight")),
        directed = false, g0.verticesOpt)
      val lows = g.vertices.orderBy(col("id").asc).limit(3)
        .collect().map(_.getLong(0))
      val highs = g.vertices.orderBy(col("id").desc).limit(3)
        .collect().map(_.getLong(0))
      // ONE multi-source BFS from all targets supplies every landmark
      // table h(v) = d(v, t) AND the true distances the A* runs must hit
      val lm = graft.graph.ShortestPaths.bfs(g, highs.toSeq.toDF("source"))
        .select(col("source"), col("id"), col("dist").cast("double").as("h"))
        .localCheckpoint(true)
      val rows = lows.zip(highs).flatMap { case (a, b) =>
        val hB = lm.filter(col("source") === b).select("id", "h")
        val dh = graft.graph.Paths.aStar(g, a, b, hB)
          .select("dist").as[Double].collect().headOption
        val want = lm.filter(col("source") === b && col("id") === a)
          .select("h").as[Double].collect().headOption
        require(dh == want,
          s"A* with admissible landmark heuristic must equal the BFS distance ($a->$b: $dh vs $want)")
        dh.map(d => (a, b, d.toLong))
      }
      rows.toSeq.toDF("s", "t", "dist")
    }),
    // GraphML writer → reader on the WEIGHTED part graph (no GraphML
    // fixture ships upstream): a hard require pins read-back == source
    // under the writer's dense re-id, then the emitted weighted degree
    // table is re-derived character-level from the XML by the oracle
    "x93_graphml" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val p = "/tmp/graft_x93.graphml"
      graft.io.Gexf.writeGraphMl(g, p)
      val back = graft.io.Gexf.readGraphMl(s, p)
      // writer emits nodes sorted by id; reader densifies in document
      // order → dense id = rank of the original id
      val m = graft.graph.Ranks.zipRank(
        g.vertices.select("id"), Seq(col("id")), "did")
      val remapped = g.edges
        .join(m.withColumnRenamed("id", "src"), "src")
        .withColumnRenamed("did", "dsrc")
        .join(m.withColumnRenamed("id", "dst"), "dst")
        .withColumnRenamed("did", "ddst")
        .select(least(col("dsrc"), col("ddst")).as("src"),
          greatest(col("dsrc"), col("ddst")).as("dst"), col("weight"))
      val got = back.edges.select("src", "dst", "weight")
      require(got.except(remapped).isEmpty && remapped.except(got).isEmpty,
        "GraphML write -> read must reproduce the weighted edge set")
      back.vertices.select("id")
        .join(back.adjacency.groupBy(col("src").as("id"))
          .agg(count(lit(1)).as("deg"), round(sum("weight"), 4).as("wdeg")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"),
          coalesce(col("wdeg"), lit(0.0)).as("wdeg"))
    }),
    // projection ops upgraded spec→oracle: compactIds' dense re-id map
    // (rank over sorted ids) and transpose (out-degree of the transposed
    // directed graph = in-degree of the src<dst orientation)
    "x94_projections" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val (_, mapping) = GraphOps.compactIds(g)
      val dirG = PropertyGraph(g.edges, directed = true) // edges are src<dst
      val t = GraphOps.transpose(dirG)
      val tdeg = t.edges.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("v"))
      mapping.select(lit("compact").as("kind"), col("id"), col("newId").as("v"))
        .unionAll(tdeg.select(lit("tdeg").as("kind"), col("id"), col("v")))
    }),
    // Gauss–Seidel relaxation (reference numerics/GaussSeidelRelaxation
    // .hpp:22, ported multi-color in algebra.GaussSeidel): the 24 lowest
    // customer keys become a weighted path, A = Laplacian + I (SDD), two
    // batched rhs run 10 FIXED red–black sweeps (colors = pos % 2 —
    // proper on a path and deterministic, so the oracle replays the
    // identical update sequence as 20 unrolled half-sweep CTEs). Every
    // row has ≤ 2 off-diagonal terms, so each update is a fixed IEEE
    // expression with no summation-order freedom — both engines must
    // agree BIT-EXACTLY on the raw doubles; no rounding anywhere.
    "x95_gs" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val n = 24
      val keys = Tables.load(s, dir, "customer")
        .orderBy("c_custkey").limit(n)
        .select(col("c_custkey").cast("long").as("key"))
      val pos = Ranks.zipRank(keys, Seq(col("key")), "pos")
      val e = pos.filter(col("pos") < n - 1)
        .select(col("pos").as("i"), (col("pos") + 1).as("j"),
          (lit(1.0) + (col("key") % 7).cast("double")).as("w"))
        .localCheckpoint(true)
      val a = e.select(col("i"), col("j"), (-col("w")).as("v"))
        .unionAll(e.select(col("j").as("i"), col("i").as("j"), (-col("w")).as("v")))
        .unionAll(e.select(col("i"), col("i").as("j"), col("w").as("v")))
        .unionAll(e.select(col("j").as("i"), col("j").as("j"), col("w").as("v")))
        .unionAll(pos.select(col("pos").as("i"), col("pos").as("j"), lit(1.0).as("v")))
        .groupBy("i", "j").agg(sum("v").as("v"))
      val b = Seq((0L, 0L, 5.0), (1L, (n - 1).toLong, 3.0), (1L, (n / 2).toLong, -2.0))
        .toDF("rhs", "i", "v")
      val colors = pos.select(col("pos").as("i"), (col("pos") % 2).cast("int").as("color"))
      graft.algebra.GaussSeidel
        .relax(a, b, maxIterations = 10, tolerance = 0, colors = Some(colors))
        .select(col("rhs"), col("i").as("pos"), col("v").as("x"))
    }),
    // Gephi Streaming Protocol export (reference gephi/streaming.py):
    // the part graph's event stream is written, then DEGREES ARE
    // RE-PARSED FROM THE FILE character-level ("source"/"target" of the
    // ae lines) — the oracle derives the same degrees independently
    // from lineitem, so a missing/extra/malformed event line breaks the
    // gate. Hard requires pin the protocol frame: exactly one clean
    // event, one an per node, one ae per edge, and the deterministic
    // √n-grid coordinates invert back to each node's rank.
    "x96_gephi" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val g = DerivedGraphs.partGraph(s, dir, 2)
      // per-application scratch path: unlike x93 (whose ORACLE reads a
      // pinned path from DuckDB), only this session re-reads the stream,
      // so concurrent runs must not share the file
      val p = s"/tmp/graft_x96_${s.sparkContext.applicationId}.gephi"
      graft.io.GephiStreaming.exportGraph(g, p)
      val lines = s.read.textFile(p).select(col("value").as("l"))
        .localCheckpoint(true)
      val nV = g.vertices.count(); val nE = g.edges.count()
      require(lines.filter(col("l").startsWith("{\"dn\": {\"filter\"")).count() == 1,
        "exactly one clean event")
      val an = lines.filter(col("l").startsWith("{\"an\""))
        .select(regexp_extract(col("l"), "\\{\"an\": \\{\"(\\d+)\"", 1)
          .cast("long").as("id"),
          regexp_extract(col("l"), "\"x\": (-?[0-9.]+(?:E-?[0-9]+)?)", 1)
            .cast("double").as("x"),
          regexp_extract(col("l"), "\"y\": (-?[0-9.]+(?:E-?[0-9]+)?)", 1)
            .cast("double").as("y"))
        .localCheckpoint(true)
      require(an.count() == nV, "one an per node")
      // grid contract: rank = (y+1000)/step * side + (x+1000)/step
      val side = math.max(1L, math.ceil(math.sqrt(nV.toDouble)).toLong)
      val step = 2000.0 / side
      val rankFromGrid = an.select(col("id"),
        (round((col("y") + 1000.0) / step) * side +
          round((col("x") + 1000.0) / step)).cast("long").as("rank"))
      val expect = Ranks.zipRank(g.vertices.select("id"), Seq(col("id")), "rank")
      require(rankFromGrid.except(expect).isEmpty &&
        expect.except(rankFromGrid).isEmpty,
        "grid coordinates must invert to the id rank")
      val st = lines.filter(col("l").startsWith("{\"ae\""))
        .select(regexp_extract(col("l"), "\"source\": (\\d+)", 1)
          .cast("long").as("src"),
          regexp_extract(col("l"), "\"target\": (\\d+)", 1)
            .cast("long").as("dst"))
        .localCheckpoint(true)
      require(st.count() == nE, "one ae per edge")
      val deg = st.select(explode(array(col("src"), col("dst"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      an.select("id").join(deg, Seq("id"), "left")
        .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"))
    }),
    // GraphTools batch upgraded spec→oracle: subgraphAndNeighbors
    // (core ∪ neighbors, neighbor-neighbor edges dropped),
    // removeEdgesFromIsolatedSet, toUnweighted, append (id-shifted
    // disjoint union INCLUDING g2's node set), merge (id-keeping union;
    // minShared=3 ⊆ minShared=2 so the merged graph equals g2), and the
    // randomNodes sample-size/membership contract (the draw itself is
    // xxhash64-seeded — membership is hard-required Spark-side).
    "x97_graphops" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val g2 = DerivedGraphs.partGraph(s, dir, 2)
      val g3 = DerivedGraphs.partGraph(s, dir, 3)
      val core = g2.vertices.orderBy("id").limit(10).localCheckpoint(true)
      val sn = GraphOps.subgraphAndNeighbors(g2, core)
      val snNodes = sn.vertices
        .select(lit("sn_node").as("kind"), col("id"), lit(1L).as("v"))
      val snAgg = sn.edges.agg(count(lit(1)).as("c"),
        sum("weight").cast("long").as("w")).first()
      val iso = GraphOps.removeEdgesFromIsolatedSet(g2, core).edges.count()
      val unw = GraphOps.toUnweighted(g2).edges
        .agg(sum("weight")).first().getDouble(0).toLong
      val app = GraphOps.append(g2, g3, 100000L)
      val mer = GraphOps.merge(g2, g3)
      val rnd = GraphOps.randomNodes(g2, 10, 7L).localCheckpoint(true)
      require(rnd.join(g2.vertices, Seq("id"), "left_anti").isEmpty,
        "randomNodes must sample existing nodes")
      Seq(
        ("sn_edges", -1L, snAgg.getLong(0)),
        ("sn_w", -1L, snAgg.getLong(1)),
        ("iso_edges", -1L, iso),
        ("unw_w", -1L, unw),
        ("append_m", -1L, app.edges.count()),
        ("append_n", -1L, app.vertices.count()),
        ("merge_m", -1L, mer.edges.count()),
        ("merge_n", -1L, mer.vertices.count()),
        ("rand_n", -1L, rnd.count())
      ).toDF("kind", "id", "v").unionAll(snNodes)
    }),
    // plain conjugate gradient upgraded spec→oracle (reference
    // numerics/ConjugateGradient.hpp, Coo.conjugateGradient — the
    // x78 pattern but through the UNpreconditioned solver): the 32
    // lowest customer keys become a weighted ring whose two-terminal
    // effective resistance has the series–parallel closed form the
    // oracle re-derives with prefix sums; CG runs on the singular
    // Laplacian with b = e_0 − e_{n/2} ⊥ null space, gated at 1e-6.
    "x98_cg" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val n = 32
      val keys = Tables.load(s, dir, "customer")
        .orderBy("c_custkey").limit(n)
        .select(col("c_custkey").cast("long").as("key"))
      val pos = Ranks.zipRank(keys, Seq(col("key")), "pos")
      val ring = pos.select(col("pos").as("i"),
          pmod(col("pos") + 1, lit(n.toLong)).as("j"),
          (lit(1.0) + (col("key") % 7).cast("double")).as("w"))
        .localCheckpoint(true)
      val lap = ring.select(col("i"), col("j"), (-col("w")).as("v"))
        .unionAll(ring.select(col("j").as("i"), col("i").as("j"), (-col("w")).as("v")))
        .unionAll(ring.select(col("i"), col("i").as("j"), col("w").as("v")))
        .unionAll(ring.select(col("j").as("i"), col("j").as("j"), col("w").as("v")))
        .groupBy("i", "j").agg(sum("v").as("v"))
      val t1 = n / 2
      val b = Seq((0L, 0L, 1.0), (0L, t1.toLong, -1.0)).toDF("rhs", "i", "v")
      val x = Coo.conjugateGradient(lap, b, maxIter = 300, tol = _ => 1e-18)
        .filter(col("i").isin(0L, t1.toLong))
        .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
      val rCg = x.getOrElse(0L, 0.0) - x.getOrElse(t1.toLong, 0.0)
      val inv = ring.select(col("i"), (lit(1.0) / col("w")).as("r"))
      val total = inv.agg(sum("r")).first().getDouble(0)
      val arc = inv.filter(col("i") >= 0 && col("i") < t1)
        .agg(sum("r")).first().getDouble(0)
      val rClosed = arc * (total - arc) / total
      def r6(d: Double): Double = new java.math.BigDecimal(d)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      Seq((n.toLong, r6(rClosed),
        if (math.abs(rCg - rClosed) <= 1e-6 * math.max(1.0, rClosed)) 1L else 0L
      )).toDF("n", "r1_closed", "cg1_ok")
    }),
    // Barnes–Hut octree interaction lists vs an INDEPENDENT SQL
    // reimplementation (reference viz/Octree.hpp approximateDistance):
    // 120 customers get exact-rational coordinates ((key%97)/97,
    // (key%89)/89 — bit-identical doubles in both engines), and the
    // oracle re-derives each node's per-level cell indices, the
    // accepted far cells (Chebyshev ∈ [3,5], parent ≤ 2), the finest
    // 5×5 near pairs, and the per-node coverage count from scratch.
    // cov is an exact integer contract over the WHOLE list machinery:
    // one mis-assigned cell or double-counted level breaks the hash.
    "x99_octree" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val n = 120
      val pts = Tables.load(s, dir, "customer")
        .orderBy("c_custkey").limit(n)
        .select(col("c_custkey").cast("long").as("id"),
          ((col("c_custkey") % 97).cast("double") / 97.0).as("c0"),
          ((col("c_custkey") % 89).cast("double") / 89.0).as("c1"))
        .localCheckpoint(true)
      graft.viz.Octree.repulsion(pts, dim = 2, qSign = 1.0, q2 = 1.0,
          exactBelow = 0)
        .select(col("id"), col("cov"))
    }),
    // Wilson-UST pseudoinverse diagonal upgraded spec→oracle (reference
    // centrality/ApproxElectricalCloseness.hpp:28, ESA 2020): the 48
    // lowest customer keys form a binary-heap tree (child pos → parent
    // (pos−1)/2). A tree has exactly ONE spanning tree, so Wilson's
    // sampler is DETERMINISTIC — R̂(u, root) is exactly the hop
    // distance regardless of nSamples/seed — and the diagonal reduces
    // to the CG root-column solve. The oracle re-derives the tree's L⁺
    // diagonal through the closed form
    // L⁺_uu = Σ_v d(u,v)/n − Σ_{v,w} d(v,w)/(2n²) (min-plus squaring,
    // the x76 pattern; hop distances are exact integers). Hard gate:
    // every node's UST estimate within 1e-6 of the closed form; the
    // emitted surface is the closed form rounded to 6 (identical IEEE
    // expression shape on both sides).
    "x100_ust" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val n = 48
      val keys = Tables.load(s, dir, "customer")
        .orderBy("c_custkey").limit(n)
        .select(col("c_custkey").cast("long").as("key"))
      val pos = Ranks.zipRank(keys, Seq(col("key")), "pos")
      val edges = pos.filter(col("pos") > 0)
        .select(col("pos").as("cpos"), expr("(pos - 1) div 2").as("ppos"),
          col("key").as("ck"))
        .join(pos.select(col("pos").as("ppos"), col("key").as("pk")), "ppos")
        .select(least(col("ck"), col("pk")).as("src"),
          greatest(col("ck"), col("pk")).as("dst"), lit(1.0).as("weight"))
        .localCheckpoint(true)
      val g = PropertyGraph(edges, directed = false,
        Some(pos.select(col("key").as("id"))))
      val ust = graft.graph.UstDiagonal
        .diagonal(g, nSamples = 32, seed = 7, maxIter = 200)
        .localCheckpoint(true)
      val d = Apsp.floydWarshall(g)
        .select(col("src").as("id"), col("dist")).localCheckpoint(true)
      val tot = d.agg(sum("dist")).first().getDouble(0)
      val closed = d.groupBy("id").agg(sum("dist").as("rs"))
        .select(col("id"),
          (col("rs") / n.toDouble - lit(tot / (2.0 * n * n))).as("closed"))
      val both = ust.join(closed, "id").localCheckpoint(true)
      val off = both.filter(abs(col("diag") - col("closed")) > 1e-6).count()
      require(off == 0,
        s"UST diagonal must match the tree closed form at 1e-6 ($off nodes off)")
      both.select(col("id"), round(col("closed"), 6).as("diag"))
    }),
    // semiring MxV: adjacency × degree vector (arithmetic semiring)
    "x1_mxv" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val a = Coo.adjacencyMatrix(g)
      val x = g.degrees.select(col("id").as("i"), col("degree").cast("double").as("v"))
      Coo.mxv(a, x).select(col("i"), round(col("v"), 6).as("v"))
    }),
    // semiring MxV min-plus: one relaxation step of shortest paths
    "x2_mxv_minplus" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val a = Coo.adjacencyMatrix(g)
      val x = g.vertices.select(col("id").as("i"), lit(0.0).as("v"))
      Coo.mxv(a, x, Coo.minPlus).select(col("i"), round(col("v"), 6).as("v"))
    }),
    // Laplacian row sums must be 0 — emitted per node for hashing
    "x3_laplacian" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      Coo.laplacianMatrix(g).groupBy("i")
        .agg(round(sum("v"), 6).as("rowsum"), count(lit(1)).as("nnz"))
    }),
    // triangle edge score + threshold sparsification
    "x4_sparsify" -> ((s, dir) => {
      val scored = Sparsification.triangleScore(DerivedGraphs.partGraph(s, dir, 2))
      scored.filter(col("score") >= 1)
        .agg(count(lit(1)).as("kept_edges"), round(sum("weight"), 2).as("kept_weight"))
    }),
    // MSF validity + objective. The forest's own component structure and
    // total weight are both independently SQL-derivable: components via
    // recursive label-prop, and MSF weight via the threshold identity
    // W = Σ_{t≥0} (#comp(edges ≤ t) − #comp(all)) — the weight multiset
    // of any MSF is unique, so Borůvka's total must match it exactly.
    "x5_msf" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val forest = SpanningForest.boruvka(g)
      val nNodes = g.vertices.count()
      // components implied by the forest itself — equals the graph's
      // component count iff the forest spans every component
      val nComp = ConnectedComponents
        .run(PropertyGraph(forest, directed = false))
        .agg(countDistinct(col("component"))).head.getLong(0)
      forest.agg(count(lit(1)).as("n_forest_edges"),
          sum(col("weight").cast("long")).as("total_weight"))
        .select(lit(nNodes).as("n_nodes"), lit(nComp).as("n_components"),
          col("n_forest_edges"), col("total_weight"))
    }),
    // suitor matching: validity gates (disjointness, edges-only,
    // maximality), each computed distributedly and emitted as counts the
    // oracle pins to zero
    "x6_matching" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val m = Matching.suitor(g)
      val adj = g.adjacency.select("src", "dst").filter(col("src") =!= col("dst"))
      val matchedNodes = m.select(col("u").as("id"))
        .unionAll(m.select(col("v").as("id")))
      val dupNodes = matchedNodes.groupBy("id").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).count()
      val nonEdgePairs = m.select(col("u").as("src"), col("v").as("dst"))
        .join(adj, Seq("src", "dst"), "left_anti").count()
      val unmatchedEdges = adj
        .join(matchedNodes.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .join(matchedNodes.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
        .count()
      g.vertices.agg(count(lit(1)).as("n_nodes")).select(
        col("n_nodes"), lit(dupNodes).as("dup_nodes"),
        lit(nonEdgePairs).as("non_edge_pairs"),
        lit(unmatchedEdges).as("unmatched_edge_pairs"))
    }),
    // SCD seed expansion from the smallest node id: membership,
    // connectivity and conductance-improvement gates pinned by the oracle
    "x29_scd" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val seed = g.vertices.agg(min("id")).head.getLong(0)
      val comm = Community.expandSeed(g, seed)
      val lbl = comm.withColumnRenamed("id", "member")
      val containsSeed = comm.filter(col("id") === seed).count()
      // connected: CC over the induced subgraph must be one component
      val intra = g.adjacency.select("src", "dst")
        .join(lbl.withColumnRenamed("member", "src"), Seq("src"), "left_semi")
        .join(lbl.withColumnRenamed("member", "dst"), Seq("dst"), "left_semi")
        .withColumn("weight", lit(1.0))
      val nComp = ConnectedComponents.run(PropertyGraph(intra, directed = false))
        .agg(countDistinct("component")).head.getLong(0)
      val size = comm.count()
      Seq((seed, containsSeed, size > 1 && size <= 30,
        nComp == 1L || size == 1L)).toDF(
        "seed", "contains_seed", "size_ok", "connected")
        .select(col("seed"), col("contains_seed"),
          col("size_ok").cast("long").as("size_ok"),
          col("connected").cast("long").as("connected"))
    }),
    // b-matching (b = 2): capacity, edge-validity and duplicate gates
    // pinned to zero by the oracle
    // dynamic b-suitor: hold out the 50 globally heaviest edges (after
    // a deterministic hash perturbation making all weights DISTINCT →
    // the stable b-matching is unique), match, then fold the held-out
    // edges back in. The repaired matching must HASH-EQUAL a
    // from-scratch run (Spark-side require), plus x28-style validity
    // gates; the oracle re-derives node/edge counts
    "x83_dynbsuitor" -> ((s, dir) => {
      val g0 = DerivedGraphs.partGraph(s, dir, 2)
      val pert = g0.edges.select(col("src"), col("dst"),
        (col("weight") * 100000 +
          pmod(xxhash64(lit(3L), col("src"), col("dst")), lit(99991L)))
          .cast("double").as("weight"))
        .localCheckpoint(true)
      val g = PropertyGraph(pert, directed = false)
      import org.apache.spark.sql.expressions.Window
      val late = pert.orderBy(col("weight").desc, col("src"), col("dst"))
        .limit(50).localCheckpoint(true)
      val early = PropertyGraph(
        pert.join(late.select("src", "dst"), Seq("src", "dst"), "left_anti"),
        directed = false)
      val before = Matching.bSuitor(early, b = 2)
      val after = Matching.bSuitorInsert(g, before, b = 2).localCheckpoint(true)
      val scratch = Matching.bSuitor(g, b = 2)
      require(after.except(scratch).isEmpty && scratch.except(after).isEmpty,
        "insert-repaired b-matching must equal from-scratch")
      val overCap = after.select(col("u").as("id")).unionAll(after.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("n")).filter(col("n") > 2).count()
      val nonEdge = after.select(col("u").as("src"), col("v").as("dst"))
        .join(g.adjacency.select("src", "dst"), Seq("src", "dst"), "left_anti")
        .count()
      g.vertices.agg(count(lit(1)).as("n_nodes")).select(
        col("n_nodes"), lit(overCap).as("over_capacity"),
        lit(nonEdge).as("non_edge_pairs"), lit(1L).as("insert_equals_scratch"))
    }),
    "x28_bmatching" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val m = Matching.bSuitor(g, b = 2)
      val adj = g.adjacency.select("src", "dst").filter(col("src") =!= col("dst"))
      val overCap = m.select(col("u").as("id")).unionAll(m.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("n")).filter(col("n") > 2).count()
      val nonEdge = m.select(col("u").as("src"), col("v").as("dst"))
        .join(adj, Seq("src", "dst"), "left_anti").count()
      val dups = m.count() - m.select("u", "v").distinct().count()
      g.vertices.agg(count(lit(1)).as("n_nodes")).select(
        col("n_nodes"), lit(overCap).as("over_capacity"),
        lit(nonEdge).as("non_edge_pairs"), lit(dups).as("duplicate_pairs"))
    }),
    // path-growing matching (Drake–Hougardy 1/2-approx): validity (node
    // in ≤1 pair, pairs are real edges) plus the cross-bound against
    // suitor — both are 1/2-approximations of max-weight matching, so
    // their weights are within a factor 2 of each other
    "x62_pathgrow" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val m = Matching.pathGrowing(g).localCheckpoint(true)
      val adj = g.adjacency.select("src", "dst").filter(col("src") =!= col("dst"))
      val reused = m.select(col("u").as("id")).unionAll(m.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
      val nonEdge = m.select(col("u").as("src"), col("v").as("dst"))
        .join(adj, Seq("src", "dst"), "left_anti").count()
      val wPg = m.agg(coalesce(sum("weight"), lit(0.0))).head.getDouble(0)
      val wSu = Matching.suitor(g).agg(coalesce(sum("weight"), lit(0.0))).head.getDouble(0)
      val halfOk = wPg >= wSu / 2 && wPg <= wSu * 2
      g.vertices.agg(count(lit(1)).as("n_nodes")).select(
        col("n_nodes"), lit(reused).as("reused_nodes"),
        lit(nonEdge).as("non_edge_pairs"),
        lit(if (m.count() > 0) 1L else 0L).as("non_empty"),
        lit(if (halfOk) 1L else 0L).as("half_approx_vs_suitor"))
    }),
    // Luby MIS: independence (no internal edges) + maximality (every
    // non-member has a member neighbor), emitted as violation counts
    "x7_mis" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val mis = IndependentSet.luby(g)
      val adj = g.adjacency.select("src", "dst").filter(col("src") =!= col("dst"))
      val internalEdges = adj
        .join(mis.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(mis.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .count()
      val covered = adj
        .join(mis.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .select(col("src").as("id")).distinct()
      val uncovered = g.vertices.select("id")
        .join(mis, Seq("id"), "left_anti")
        .join(covered, Seq("id"), "left_anti")
        .count()
      g.vertices.agg(count(lit(1)).as("n_nodes")).select(
        col("n_nodes"), lit(internalEdges).as("independence_violations"),
        lit(uncovered).as("uncovered_nodes"))
    }),
    // ANF: exact neighborhood function for h ≤ 3 (multi-source BFS —
    // SQL-derivable by recursive CTE) + FM-sketch estimate gated to ±35%
    "x8_anf" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val sources = g.vertices.select(col("id").as("source"))
      val dist = ShortestPaths.bfs(g, sources, maxIter = 3)
      val win = org.apache.spark.sql.expressions.Window.orderBy("dist")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val exact = dist.groupBy(col("dist")).agg(count(lit(1)).as("cnt"))
        .withColumn("exact_nf", sum("cnt").over(win))
        .select(col("dist").cast("long").as("h"), col("exact_nf"))
      val sketch = NeighborhoodFunction.approximate(g, maxH = 3)
        .select(col("h").cast("long").as("h"), col("nf"))
      // h = 0 exempt: FM sketches of cardinality-1 sets carry the well-
      // known small-range bias (estimate ≈ 2.6 per node); the gate is
      // the multi-hop estimates
      exact.join(sketch, Seq("h"), "left")
        .select(col("h"), col("exact_nf"),
          (col("h") === 0 ||
            coalesce(abs(col("nf") - col("exact_nf")) / col("exact_nf"), lit(1.0))
            <= 0.35).cast("long").as("sketch_ok"))
        .orderBy("h")
    }),
    // generator structural invariants + expected-count intervals
    // (deterministic seeded hashes → flags are stable run to run)
    "x9_generators" -> ((s, dir) => {
      def row(name: String, g: PropertyGraph, badRows: Long, lo: Long, hi: Long) = {
        val m = g.edges.count()
        g.edges.agg(count(lit(1)).as("m")).select(
          lit(name).as("gen"), lit(badRows).as("bad_rows"),
          lit(m >= lo && m <= hi).cast("long").as("m_in_range"))
      }
      val er = Generators.erdosRenyi(s, 500, 0.02)
      val erBad = er.edges.filter(col("src") === col("dst")).count() +
        (er.edges.count() - er.edges.select("src", "dst").distinct().count())
      val ws = Generators.wattsStrogatz(s, 500, 4, 0.1)
      val wsBad = ws.edges.filter(col("src") === col("dst")).count()
      val rm = Generators.rmat(s, 9, 4)
      val rmBad = rm.edges.filter(col("src") < 0 || col("src") >= 512 ||
        col("dst") < 0 || col("dst") >= 512).count()
      val ba = Generators.barabasiAlbert(s, 400, 3)
      // exact-ensemble gates: no self-loops, and every attaching node
      // has exactly k distinct earlier neighbors
      val baBad = ba.edges.filter(col("src") === col("dst")).count() +
        ba.edges.filter(col("dst") >= 3)
          .groupBy("dst").agg(countDistinct(col("src")).as("d"))
          .filter(col("d") =!= 3).count()
      // E[er] = C(500,2)·0.02 ≈ 2495 (±5σ ≈ 250); ws ≤ n·k/2 = 1000 after
      // self-loop/dup removal; rmat = exactly 4·512 sampled rows;
      // ba = exactly n0 + (n−n0)·k = 3 + 397·3 edges
      // degree-preserving shuffle: per-id degree table must be EXACTLY
      // invariant and the label permutation a bijection that moves
      val dps = Randomization.degreePreservingShuffle(ba, seed = 5)
      def degT(g: PropertyGraph) = g.adjacency
        .groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
      val dpsBad = degT(dps).except(degT(ba)).count() +
        degT(ba).except(degT(dps)).count() +
        (ba.vertices.count() -
          Randomization.degreePreservingPermutation(ba, seed = 5)
            .select("newId").distinct().count())
      row("er", er, erBad, 2245, 2745)
        .unionAll(row("ws", ws, wsBad, 900, 1000))
        .unionAll(row("rmat", rm, rmBad, 2048, 2048))
        .unionAll(row("ba", ba, baBad, 3 + 397 * 3, 3 + 397 * 3))
        .unionAll(row("dps", dps, dpsBad, 3 + 397 * 3, 3 + 397 * 3))
    }),
    // degree-preserving randomization: the randomized graph's degree
    // histogram must equal the original's (SQL re-derives the original
    // histogram exactly), edge count invariant, and some edges must
    // actually have moved
    "x26_edgeswitch" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val orig = PropertyGraph.canonicalizeUndirected(
        g.edges.filter(col("src") =!= col("dst"))).select("src", "dst").distinct()
      val rnd = Randomization.edgeSwitching(g, rounds = 5)
      val changed = rnd.edges.select("src", "dst")
        .join(orig, Seq("src", "dst"), "left_anti").count()
      val adj = rnd.edges.select("src", "dst")
        .unionAll(rnd.edges.select(col("dst").as("src"), col("src").as("dst")))
      adj.groupBy("src").agg(count(lit(1)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .withColumn("some_edges_changed", lit(if (changed > 0) 1L else 0L))
    }),
    // max-flow between the two smallest node ids with the min-cut
    // optimality certificate verified distributedly (cut capacity must
    // equal the flow value — weak duality makes that a proof)
    "x25_maxflow" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val ids = g.vertices.orderBy("id").limit(2).collect().map(_.getLong(0))
      MaxFlow.maxFlowCertified(g, ids(0), ids(1))
        .select(col("s"), col("t"),
          (col("flow_value") > 0).cast("long").as("positive_flow"),
          col("certificate_ok"))
    }),
    // SCAN structural similarity per edge (exact SQL oracle)
    "x20_scan" -> ((s, dir) =>
      Sparsification.scanScore(DerivedGraphs.partGraph(s, dir, 2))
        .select(col("src"), col("dst"), round(col("score"), 6).as("score"))),
    // Simmelian overlap (top-5 strong ties) per edge
    "x21_simmelian" -> ((s, dir) =>
      Sparsification.simmelianOverlapScore(DerivedGraphs.partGraph(s, dir, 2), maxRank = 5)
        .select(col("src"), col("dst"), col("score"))),
    // local degree score per edge
    "x22_localdegree" -> ((s, dir) =>
      Sparsification.localDegreeScore(DerivedGraphs.partGraph(s, dir, 2))
        .select(col("src"), col("dst"), round(col("score"), 6).as("score"))),
    // prefix-Jaccard (top-5 strong ties) per edge
    "x27_prefixjaccard" -> ((s, dir) =>
      Sparsification.prefixJaccardScore(DerivedGraphs.partGraph(s, dir, 2), maxRank = 5)
        .select(col("src"), col("dst"), round(col("score"), 6).as("score"))),
    // edge-attribute score sheet: multiscale/disparity (on weight),
    // chance-corrected triangle, geometric-mean(triangle), quadrangles
    "x30_edgescores" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val ms = Sparsification.multiscaleScore(
        g.edges.withColumn("score", col("weight")))
      val cc = Sparsification.chanceCorrectedTriangleScore(g)
      val gm = Sparsification.geometricMeanScore(Sparsification.triangleScore(g))
      val quad = Sparsification.quadrangleScore(g)
      ms.select(col("src"), col("dst"), round(col("score"), 6).as("ms"))
        .join(cc.select(col("src"), col("dst"), round(col("score"), 6).as("cc")),
          Seq("src", "dst"))
        .join(gm.select(col("src"), col("dst"), round(col("score"), 6).as("gm")),
          Seq("src", "dst"))
        .join(quad.select(col("src"), col("dst"), col("score").as("quad")),
          Seq("src", "dst"))
    }),
    // KatzIndex from the 8 smallest node ids (frontier-set semantics)
    "x31_katz" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val sources = g.vertices.orderBy("id").limit(8).select("id")
      LinkPrediction.katzIndex(g, sources)
        .select(col("s"), col("v"), round(col("katz"), 12).as("katz"))
    }),
    // link-prediction evaluation: held-out 10%, common-neighbor scores,
    // tie-averaged ROC AUC + precision@100
    "x32_roc" -> ((s, dir) =>
      LinkPrediction.rocEvaluation(DerivedGraphs.partGraph(s, dir, 2), k = 100)),
    // multimodal: media stats per kind (byte lengths SQL-checkable)
    "x10_media" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(Tables.load(s, dir, "documents"))
      media.groupBy("kind").agg(
        count(lit(1)).as("n"),
        sum(octet_length(col("content"))).as("total_bytes"),
        sum("meta_duration_ms").as("total_ms"))
    }),
    // multimodal: frame-sampling plan size per video
    "x11_frames" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(Tables.load(s, dir, "documents"))
      Multimodal.sampleFrames(media, 1000L)
        .groupBy("media_id").agg(count(lit(1)).as("n_frames"))
    }),
    // multimodal: REAL decode (BMP/WAV/GRV1 parse) — the oracle
    // re-derives the encoded byte totals from the format size formulas
    // AND the decoded dimensions (width/sample-rate, pixel/sample/frame
    // counts) from n_chars, so a header mis-parse fails the hash; the
    // decoded-dims-match-metadata gate runs Spark-side
    "x12_features" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(Tables.load(s, dir, "documents"))
      Multimodal.extractFeatures(media)
        .select(col("kind"), col("byte_len"),
          col("features").getItem(0).cast("long").as("f0"),
          col("features").getItem(5).cast("long").as("units"),
          (when(col("kind") === "image",
              col("features").getItem(0) === col("meta_width").cast("float") &&
              col("features").getItem(1) === col("meta_height").cast("float"))
            .when(col("kind") === "audio",
              col("features").getItem(0) === lit(8000f))
            .otherwise(
              col("features").getItem(0) === col("meta_width").cast("float") &&
              col("features").getItem(5) * 1000 === col("meta_duration_ms").cast("float")))
            .cast("long").as("ok"))
        .groupBy("kind")
        .agg(count(lit(1)).as("n"), sum("byte_len").as("total_bytes"),
          sum("f0").as("sum_f0"), sum("units").as("sum_units"),
          min("ok").as("decoded_dims_ok"))
    }),
    // harmonic closeness for 5 sources (recursive-CTE oracle)
    "x13_harmonic" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val sources = g.vertices.orderBy("id").limit(5).select(col("id").as("source"))
      ShortestPaths.harmonicCloseness(ShortestPaths.bfs(g, sources))
        .select(col("id"), round(col("harmonic"), 6).as("harmonic"))
    }),
    // hashed random walks: every node walks every step (no sinks in the
    // undirected part graph ⇒ n per step = |V|, SQL-derivable) and every
    // step transition must be a real edge (violation count pinned to 0)
    "x15_walks" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val w = Walks.randomWalks(g, walksPerNode = 1, len = 4)
      val trans = w.as("a")
        .join(w.as("b"), col("a.walk_id") === col("b.walk_id") &&
          col("b.step") === col("a.step") + 1)
        .select(col("a.node").as("src"), col("b.node").as("dst"))
      val invalid = trans
        .join(g.adjacency.select("src", "dst"), Seq("src", "dst"), "left_anti")
        .count()
      w.groupBy(col("step").cast("long").as("step"))
        .agg(count(lit(1)).as("n"))
        .withColumn("invalid_transitions", lit(invalid))
        .orderBy("step")
    }),
    // SCC on the directed customer→supplier purchase graph (bipartite ⇒
    // every SCC is a singleton — exact oracle on the component count)
    "x16_scc" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
      val ord = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
      val e = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
        .distinct().withColumn("weight", lit(1.0))
      val g = PropertyGraph(e, directed = true)
      val scc = Digraph.stronglyConnectedComponents(g)
      scc.agg(count(lit(1)).as("n_nodes"),
        countDistinct(col("component")).as("n_components"))
    }),
    // hub-labeling distances (reference PrunedLandmarkLabeling): top-5
    // degree hubs, queried on all pairs of the 10 smallest node ids
    "x17_hublabel" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val labels = HubLabeling.build(g, 5)
      val ids = g.vertices.orderBy("id").limit(10)
      val pairs = ids.as("a").join(ids.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("u"), col("b.id").as("v"))
      HubLabeling.query(labels, pairs)
    }),
    // dynamic hub labels: build on the graph minus 5 held-out edges,
    // fold the insertions in incrementally, query — the oracle
    // re-derives the full-graph label distances from scratch, so a
    // broken incremental update cannot pass
    "x60_dynhublabel" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val all = g.edges.filter(col("src") < col("dst")).select("src", "dst")
        .withColumn("h", xxhash64(lit(11L), col("src"), col("dst")))
      val held = all.orderBy(col("h").desc, col("src").asc).limit(5)
        .select("src", "dst").localCheckpoint(true)
      val base = g.edges.join(held, Seq("src", "dst"), "left_anti")
        .join(held.select(col("dst").as("src"), col("src").as("dst")),
          Seq("src", "dst"), "left_anti")
      val g1 = PropertyGraph(base, directed = false, Some(g.vertices))
      // hub set fixed on the FULL graph's degrees (same hubs the oracle picks)
      val hubs = g.degrees.orderBy(desc("degree"), asc("id")).limit(5)
        .select(col("id").as("source")).localCheckpoint(true)
      val labels0 = HubLabeling.buildFrom(g1, hubs)
      val inc = HubLabeling.insert(g, labels0, held)
      val ids = g.vertices.orderBy("id").limit(10)
      val pairs = ids.as("a").join(ids.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("u"), col("b.id").as("v"))
      HubLabeling.query(inc, pairs)
    }),
    // top-5 closeness via the NB-cut pruned batch BFS — the oracle
    // re-derives every node's exact closeness from scratch, so a wrong
    // cut (a pruned source that belonged in the top-k) cannot pass
    "x61_topcloseness" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      ShortestPaths.topCloseness(g, 5, batchSize = 256)
        .select(col("id"), round(col("closeness"), 6).as("closeness"))
    }),
    // eccentricity of 5 sources (recursive-CTE oracle)
    "x14_ecc" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val sources = g.vertices.orderBy("id").limit(5).select(col("id").as("source"))
      ShortestPaths.eccentricity(ShortestPaths.bfs(g, sources))
        .select(col("source").as("id"), col("ecc"), col("reached"))
    }),
    // bidirectional BFS s-t distance between the two smallest node ids
    // (same pair as x25; connected there, so a distance exists)
    "x33_bidir" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val ids = g.vertices.orderBy("id").limit(2).collect().map(_.getLong(0))
      Paths.bidirectionalBfs(g, ids(0), ids(1))
    }),
    // all simple paths (cutoff 4 edges) between the two smallest node ids
    "x34_simplepaths" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val ids = g.vertices.orderBy("id").limit(2).collect().map(_.getLong(0))
      Paths.allSimplePaths(g, ids(0), ids(1), cutoff = 4)
        .agg(count(lit(1)).as("n_paths"),
          coalesce(sum("len"), lit(0L)).as("total_len"))
    }),
    // dynamic PubWeb: drifting points on the torus, per-step graph diff
    // as an event stream — validity gates (first step is all additions;
    // replaying additions minus removals reproduces the final graph)
    "x45_dynpubweb" -> ((s, dir) => {
      import s.implicits._
      val ev = GeometricGenerators.dynamicPubWeb(s, 200, 4, 0.1)
        .localCheckpoint(true)
      val adds = ev.filter(col("type") === "EDGE_ADDITION")
      val rems = ev.filter(col("type") === "EDGE_REMOVAL")
      val firstStepRems = rems.filter(col("step") === 0).count()
      // net replay: last-event-wins per edge must equal the final graph
      val lastState = ev.groupBy("u", "v")
        .agg(max(struct(col("step"), (col("type") === "EDGE_ADDITION").as("on")))
          .as("last"))
        .filter(col("last.on"))
        .select(col("u").as("src"), col("v").as("dst"))
      val replayOk = {
        // recompute step-3 graph directly and compare
        val base = s.range(200).select(col("id"),
          (graft.graph.Generators.u01(42 ^ 20, col("id"))
            + lit(3.0) * (graft.graph.Generators.u01(42 ^ 22, col("id")) - 0.5) * 0.02).as("xr"),
          (graft.graph.Generators.u01(42 ^ 21, col("id"))
            + lit(3.0) * (graft.graph.Generators.u01(42 ^ 23, col("id")) - 0.5) * 0.02).as("yr"))
          .select(col("id"), pmod(col("xr"), lit(1.0)).as("x"), pmod(col("yr"), lit(1.0)).as("y"))
        val direct = GeometricGenerators.thresholdGraph(base, 0.1, torus = true, None, 42)
          .edges.select("src", "dst")
        direct.except(lastState).isEmpty && lastState.except(direct).isEmpty
      }
      Seq((
        if (adds.count() > 0) 1L else 0L,
        if (firstStepRems == 0) 1L else 0L,
        if (replayOk) 1L else 0L
      )).toDF("has_adds", "first_step_pure", "replay_ok")
    }),
    // local-similarity sparsification exponent per edge (exact oracle)
    "x43_localsim" -> ((s, dir) =>
      Sparsification.localSimilarityScore(DerivedGraphs.partGraph(s, dir, 2))
        .select(col("src"), col("dst"), round(col("score"), 6).as("score"))),
    // forest-fire burn scores: coverage + validity gates (the burn is
    // seed-deterministic but its frontier subsetting is not SQL-shaped)
    "x44_forestfire" -> ((s, dir) => {
      import s.implicits._
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val ff = Sparsification.forestFireScore(g)
      val nEdges = g.edges.count()
      val r = ff.agg(count(lit(1)).as("n"), min("score").as("mn"),
        max("score").as("mx")).head()
      Seq((
        if (r.getLong(0) == nEdges) 1L else 0L,
        if (r.getDouble(1) >= 0.0) 1L else 0L,
        if (r.getDouble(2) > 0.0) 1L else 0L
      )).toDF("covers_edges", "nonnegative", "some_burnt")
    }),
    // KADABRA sampled betweenness vs exact Brandes: the (err=0.1)
    // additive guarantee must hold on the normalized scores (Spark-side
    // gate; sampling is seed-deterministic). The oracle independently
    // re-derives the exact side on a fixed slice: dependency sums from
    // the 64 lowest-id sources (x18's layered σ/δ DP), top-5 ranked —
    // so a broken Brandes kernel fails the hash even if the comparison
    // logic were broken identically on both Spark sides.
    "x39_kadabra" -> ((s, dir) => {
      import s.implicits._
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val n = g.vertices.count().toDouble
      val est = Betweenness.kadabra(g, err = 0.1, delta = 0.1)
      val exact = Betweenness.run(g, sampleSources = None)
        .select(col("id"), (col("score") * 2.0 / (n * (n - 1.0))).as("exact"))
      val maxDev = est.join(exact, "id")
        .agg(max(abs(col("kadabra") - col("exact")))).as[Double].head()
      val srcs = g.vertices.orderBy("id").limit(64).select("id").as[Long].collect().toSeq
      val ex64 = Betweenness.run(g, sourceIds = Some(srcs))
      // rank and report on an INTEGER-scaled score (floor(s*100+0.5)):
      // both engines evaluate the identical IEEE multiply/add/floor on
      // the same double, unlike round(), whose decimal semantics differ
      // between Spark (HALF_UP on the shortest decimal) and DuckDB
      // (binary value) near .xx5 boundaries — scaling removes the flake
      val scaled = floor(col("score") * 100 + 0.5).cast("long")
      val top5 = graft.graph.Ranks.zipRank(
        ex64.withColumn("dep64", scaled)
          .orderBy(col("dep64").desc, col("id").asc).limit(5),
        Seq(col("dep64").desc, col("id").asc), "rank", base = 1L)
      top5.select(col("rank"), col("id"), col("dep64"),
        lit(if (maxDev <= 0.1) 1L else 0L).as("within_err"))
    }),
    // generator tail (ring lattice, Dorogovtsev-Mendes, Havel-Hakimi,
    // PubWeb, Mocnik, forest fire) + curveball randomization: each row
    // is (gen, ok1, ok2) with Spark-verified invariants, oracle-pinned
    "x36_generators2" -> ((s, dir) => {
      import s.implicits._
      def row(gen: String, ok1: Boolean, ok2: Boolean) =
        Seq((gen, if (ok1) 1L else 0L, if (ok2) 1L else 0L)).toDF("gen", "ok1", "ok2")

      val ring = Generators.regularRingLattice(s, 200, 3)
      val ringDeg = ring.degrees.select("degree").distinct().as[Long].collect()
      val r1 = row("ring", ring.edges.count() == 600,
        ringDeg.length == 1 && ringDeg.head == 6L)

      val dm = PropertyGraph.fromEdges(
        Generators.dorogovtsevMendes(s, 500), directed = false)
      val r2 = row("dm", dm.vertices.count() == 500, dm.edges.count() == 997)

      val g = DerivedGraphs.partGraph(s, dir, 2)
      val hh = Generators.havelHakimi(g.degrees)
      val hhMatch = hh.degrees
        .join(g.degrees.withColumnRenamed("degree", "want"), "id")
        .filter(col("degree") =!= col("want")).count() == 0
      val r3 = row("havelhakimi", hhMatch, hh.edges.count() == g.edges.count())

      val cb = Randomization.globalCurveball(g, trades = 3)
      val degHist = (p: graft.graph.PropertyGraph) => p.degrees
        .groupBy("degree").agg(count(lit(1)).as("n"))
      val cbPreserved = degHist(cb).except(degHist(g)).isEmpty &&
        degHist(g).except(degHist(cb)).isEmpty
      val r4 = row("curveball", cbPreserved, cb.edges.count() == g.edges.count())

      val pw = GeometricGenerators.pubWeb(s, 300, 5, 0.1, 8)
      val pwMaxDeg = pw.degrees.agg(max("degree")).as[Long].head()
      val r5 = row("pubweb", pw.vertices.count() == 300, pwMaxDeg <= 8L)

      val mo = GeometricGenerators.mocnik(s, 400, 6.0)
      val moAvg = mo.degrees.agg(avg("degree")).as[Double].head()
      val r6 = row("mocnik", mo.vertices.count() == 400, moAvg > 3.0 && moAvg < 9.0)

      val ff = Generators.dynamicForestFire(s, 200, 0.3)
      val ffNodes = ff.filter(col("type") === "NODE_ADDITION").count()
      val ffBadEdges = ff.filter(col("type") === "EDGE_ADDITION")
        .filter(col("u") >= col("v") || col("v") > col("step")).count()
      val r7 = row("forestfire", ffNodes == 200, ffBadEdges == 0)

      r1.unionAll(r2).unionAll(r3).unionAll(r4).unionAll(r5).unionAll(r6).unionAll(r7)
    }),
    // group betweenness (avoid-set DP): singleton group must equal the
    // one-node betweenness from the same counted state, and a superset
    // can only intercept more paths (monotonicity)
    "x57_groupbet" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val spark = s
      import spark.implicits._
      val sources = g.vertices.orderBy("id").limit(64).select(col("id").as("source"))
      val hubs = g.degrees.orderBy(col("degree").desc, col("id").asc)
        .limit(3).select("id").as[Long].collect().toSeq
      val state = Paths.bfsCounted(g, sources).localCheckpoint(true)
      val bOne = DynAlgorithms.betweennessOneNode(state, hubs.head)
      val bSingle = DynAlgorithms.groupBetweenness(g, Seq(hubs.head), sources)
      val bGroup = DynAlgorithms.groupBetweenness(g, hubs, sources)
      val singleMatches = math.abs(bSingle - bOne) < 1e-6
      val monotone = bGroup >= bSingle - 1e-9
      Seq((hubs.head, if (singleMatches) 1L else 0L, if (monotone) 1L else 0L))
        .toDF("hub", "singleton_matches_onenode", "monotone")
    }),
    // incremental Brandes state (DynBetweenness): σ-affected sources
    // recomputed after an insertion batch — hash-equals from scratch
    "x58_dynbrandes" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val spark = s
      import spark.implicits._
      val all = g.edges.filter(col("src") < col("dst")).select("src", "dst")
        .withColumn("h", xxhash64(lit(9L), col("src"), col("dst")))
      val held = all.orderBy(col("h").desc, col("src").asc).limit(5)
        .select("src", "dst").localCheckpoint(true)
      val base = g.edges.join(held, Seq("src", "dst"), "left_anti")
        .join(held.select(col("dst").as("src"), col("src").as("dst")),
          Seq("src", "dst"), "left_anti")
      val g1 = PropertyGraph(base, directed = false, Some(g.vertices))
      val sources = g.vertices.orderBy("id").limit(24).select(col("id").as("source"))
      val state0 = Paths.bfsCounted(g1, sources)
      val inc = DynAlgorithms.countedInsert(g, state0, held)
      val scratch = Paths.bfsCounted(g, sources)
      def fp(df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).cast("string"),
          expr("cast(bit_xor(xxhash64(source, id, dist, cast(sigma as string))) as string)"))
          .head.toSeq.mkString(":")
      // the oracle re-derives rows/dist-sum/σ-mod-sum of the state from
      // scratch (layered σ DP, exact decimal arithmetic both sides)
      val st = inc.agg(count(lit(1)), coalesce(sum("dist"), lit(0L)),
        coalesce(sum((col("sigma") % lit(997)).cast("long")), lit(0L))).head
      Seq((24L, if (fp(inc) == fp(scratch)) 1L else 0L,
          st.getLong(0), st.getLong(1), st.getLong(2)))
        .toDF("n_sources", "incremental_matches", "state_rows", "dist_sum", "sigma_mod_sum")
    }),
    // r-ball volume (Mocnik): average |B_2(v)| over the 8 smallest-id
    // starts — exact SQL recursive-CTE oracle
    "x53_volume" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val starts = g.vertices.orderBy("id").limit(8).select(col("id").as("source"))
      val v = DistanceTail.volumeFrom(g, starts, r = 2)
      s.range(1).select(lit(8L).as("n_starts"), round(lit(v), 6).as("avg_ball"))
    }),
    // diameter: deterministic double-sweep lower bound (exact SQL
    // replication of both sweeps) + max eccentricity over the 64
    // smallest-id sources (the SQL-affordable exactness slice; the
    // all-sources exact diameter is the same keyed BFS, spec-tested)
    "x54_diameter" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val start = g.degrees.orderBy(col("degree").desc, col("id").asc)
        .limit(1).head.getLong(0)
      val d1 = ShortestPaths.bfs(g, ShortestPaths.sourcesOf(g, Seq(start)))
      val f = d1.orderBy(col("dist").desc, col("id").asc).limit(1).head.getLong(1)
      val lb = ShortestPaths.bfs(g, ShortestPaths.sourcesOf(g, Seq(f)))
        .agg(max("dist")).head.getLong(0)
      val eccMax = ShortestPaths.bfs(g,
          g.vertices.orderBy("id").limit(64).select(col("id").as("source")))
        .agg(max("dist")).head.getLong(0)
      s.range(1).select(lit(lb).as("diameter_lb"), lit(eccMax).as("ecc_max_64"))
    }),
    // DynDijkstra: weighted incremental SSSP after re-inserting held-out
    // edges — gate: hash-equals from-scratch Dijkstra on the new graph
    "x55_dyndijkstra" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val spark = s
      import spark.implicits._
      val all = g.edges.filter(col("src") < col("dst"))
        .select("src", "dst", "weight")
        .withColumn("h", xxhash64(lit(5L), col("src"), col("dst")))
      val held = all.orderBy(col("h").desc, col("src").asc).limit(5)
        .select("src", "dst", "weight").localCheckpoint(true)
      val base = g.edges.join(held.select("src", "dst"), Seq("src", "dst"), "left_anti")
        .join(held.select(col("dst").as("src"), col("src").as("dst")),
          Seq("src", "dst"), "left_anti")
      val g1 = PropertyGraph(base, directed = false, Some(g.vertices))
      val sources = g.vertices.orderBy("id").limit(12).select(col("id").as("source"))
      val state0 = ShortestPaths.dijkstra(g1, sources)
      val inc = DistanceTail.updateDijkstraInsert(g, state0, held)
      val scratch = ShortestPaths.dijkstra(g, sources)
      def fp(df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).cast("string"),
          expr("cast(bit_xor(xxhash64(source, id, cast(round(dist, 6) as string))) as string)"))
          .head.toSeq.mkString(":")
      // the oracle re-derives BOTH the state's row count and the exact
      // weighted distance sum (edge weights are integer co-occurrence
      // counts, so Dijkstra distances are exactly-representable integers
      // and the sum is exact on both sides) via unrolled Bellman–Ford
      val st = inc.agg(count(lit(1)),
        coalesce(sum(col("dist").cast("long")), lit(0L))).head
      Seq((12L, if (fp(inc) == fp(scratch)) 1L else 0L, st.getLong(0), st.getLong(1)))
        .toDF("n_sources", "incremental_matches", "state_rows", "dist_sum")
    }),
    // DynTopHarmonicCloseness: top-k harmonic maintained through an
    // insertion batch — gate: equals the top-k recomputed from scratch
    "x56_dynharmonic" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val spark = s
      import spark.implicits._
      val all = g.edges.filter(col("src") < col("dst")).select("src", "dst")
        .withColumn("h", xxhash64(lit(7L), col("src"), col("dst")))
      val held = all.orderBy(col("h").desc, col("src").asc).limit(5)
        .select("src", "dst").localCheckpoint(true)
      val base = g.edges.join(held, Seq("src", "dst"), "left_anti")
        .join(held.select(col("dst").as("src"), col("src").as("dst")),
          Seq("src", "dst"), "left_anti")
      val g1 = PropertyGraph(base, directed = false, Some(g.vertices))
      val cands = g.vertices.orderBy("id").limit(24).select(col("id").as("source"))
      val state0 = ShortestPaths.bfs(g1, cands)
      val k = 5
      val inc = DistanceTail.dynTopHarmonic(g, state0, held, k)
        .select(col("rank"), col("id"), round(col("harmonic"), 6).as("h"))
      val scratch = ShortestPaths.harmonicCloseness(ShortestPaths.bfs(g, cands))
      val scratchTop = graft.graph.Ranks.zipRank(
          scratch.orderBy(col("harmonic").desc, col("id").asc).limit(k),
          Seq(col("harmonic").desc, col("id").asc), "rank", base = 1L)
        .select(col("rank"), col("id"), round(col("harmonic"), 6).as("h"))
      val same = inc.except(scratchTop).isEmpty && scratchTop.except(inc).isEmpty
      // the oracle re-derives the top-k rows themselves from scratch, so a
      // broken incremental update fails on values, not just the self-gate
      inc.withColumn("n_candidates", lit(24L)).withColumn("k", lit(k.toLong))
        .withColumn("topk_matches", lit(if (same) 1L else 0L))
        .select("n_candidates", "k", "topk_matches", "rank", "id", "h")
    }),
    // DynAPSP: all-pairs distances maintained under an edge-insertion
    // batch — only affected sources recompute; gate = incremental state
    // hash-equals a from-scratch APSP on the post-insertion graph
    "x49_dynapsp" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val spark = s
      import spark.implicits._
      // hold out the 5 highest-(src,dst)-hash edges, insert them back
      val all = g.edges.filter(col("src") < col("dst")).select("src", "dst")
        .withColumn("h", xxhash64(lit(3L), col("src"), col("dst")))
      val held = all.orderBy(col("h").desc, col("src").asc).limit(5)
        .select("src", "dst").localCheckpoint(true)
      val base = g.edges.join(held, Seq("src", "dst"), "left_anti")
        .join(held.select(col("dst").as("src"), col("src").as("dst")),
          Seq("src", "dst"), "left_anti")
      val g1 = PropertyGraph(base, directed = false, Some(g.vertices))
      val sources = g.vertices.orderBy("id").limit(24).select(col("id").as("source"))
      val state0 = DynAlgorithms.apspInit(g1, sources)
      val inc = DynAlgorithms.apspInsert(g, state0, held)
      val scratch = DynAlgorithms.apspInit(g, sources)
      def fp(df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).cast("string"),
          expr("cast(bit_xor(xxhash64(source, id, dist)) as string)"))
          .head.toSeq.mkString(":")
      val same = fp(inc) == fp(scratch)
      // re-derivable by the oracle: the incremental state's row count and
      // hop-distance sum must equal a from-scratch BFS on the full graph
      val st = inc.agg(count(lit(1)), coalesce(sum("dist"), lit(0L))).head
      Seq((24L, 5L, if (same) 1L else 0L, st.getLong(0), st.getLong(1)))
        .toDF("n_sources", "inserted_edges", "incremental_matches",
          "state_rows", "dist_sum")
    }),
    // betweenness of one focus node from the counted APSP state
    // (DynBetweennessOneNode): gate = equals the same formula evaluated
    // over a from-scratch counted BFS, and is 0 for a degree-1 node
    "x50_dynbet" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val spark = s
      import spark.implicits._
      val sources = g.vertices.orderBy("id").limit(24).select(col("id").as("source"))
      val state = Paths.bfsCounted(g, sources).localCheckpoint(true)
      val x = g.degrees.join(sources.withColumnRenamed("source", "id"), Seq("id"), "left_semi")
        .orderBy(col("degree").desc, col("id").asc).limit(1).head.getLong(0)
      val bx = DynAlgorithms.betweennessOneNode(state, x)
      val leaf = g.degrees.filter(col("degree") === 1)
        .orderBy("id").limit(1).collect().headOption.map(_.getLong(0))
      val leafZero = leaf.forall(l => DynAlgorithms.betweennessOneNode(state, l) == 0.0)
      // bx is re-derived by the oracle's layered σ DP + pair-dependency
      // formula over the same 24 sources — no self-certification
      Seq((x, if (bx >= 0) 1L else 0L, if (leafZero) 1L else 0L))
        .toDF("focus", "nonneg", "leaf_zero")
        .withColumn("bx", round(lit(bx), 4))
    }),
    // Grow-Shrink group-closeness local search: the swapped group's
    // farness must never exceed the initial group's
    "x51_growshrink" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val spark = s
      import spark.implicits._
      val init = g.vertices.orderBy("id").limit(4).as[Long].collect().toSeq
      val out = GroupCentrality.growShrink(g, init, maxRounds = 3).localCheckpoint(true)
      def farness(members: Seq[Long]): Double =
        GroupCentrality.groupBfs(g, members.map(m => (0L, m)).toDF("source", "id"))
          .agg(sum("dist").cast("double")).head.getDouble(0)
      val f0 = farness(init)
      val f1 = farness(out.as[Long].collect().toSeq)
      // the initial group's farness is re-derived by the oracle's
      // multi-source BFS — anchors the gate to oracle-checked data
      Seq((out.count(), if (f1 <= f0 + 1e-9) 1L else 0L, f0.toLong))
        .toDF("group_size", "farness_improved_or_equal", "init_farness")
    }),
    // pivot-sampled closeness: mean relative error vs exact closeness
    // on 5 probe nodes must beat a degree-only null model's typical err
    "x52_approxcloseness" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val spark = s
      import spark.implicits._
      val approx = ShortestPaths.approxCloseness(g, nPivots = 24)
      val probes = g.vertices.orderBy("id").limit(5)
        .select(col("id").as("source"))
      val exact = ShortestPaths.closeness(ShortestPaths.bfs(g, probes))
      val err = approx.join(exact.withColumnRenamed("closeness", "ex"), "id")
        .select(avg(abs(col("closeness") - col("ex")) / col("ex")).as("e"))
        .head.getDouble(0)
      // per-probe exact closeness re-derived from scratch by the oracle's
      // recursive-CTE BFS — the error gate rides on oracle-checked rows
      exact.select(col("id"), round(col("closeness"), 6).as("exact_closeness"))
        .withColumn("n_probes", lit(5L))
        .withColumn("err_ok", lit(if (err < 0.5) 1L else 0L))
        .select("n_probes", "err_ok", "id", "exact_closeness")
    }),
    // variance-split pivot closeness (Cohen et al. three-way estimator)
    // on the largest connected component: sampled nodes must be EXACT
    // (the estimator computes them from their own BFS), non-samples
    // within tolerance of exact closeness on 8 probes
    "x63_approxsplit" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val spark = s
      import spark.implicits._
      val cc = ConnectedComponents.run(g)
      val big = cc.groupBy("component").agg(count(lit(1)).as("sz"))
        .orderBy(desc("sz"), asc("component")).limit(1)
        .select("component")
      val nodes = cc.join(big, "component").select("id").localCheckpoint(true)
      val sub = GraphOps.subgraphFromNodes(g, nodes)
      val nSub = nodes.count()
      val split = ShortestPaths.approxClosenessSplit(sub, nSamples = 24)
        .localCheckpoint(true)
      // exact farness for the 24 sample nodes must match to 1e-9
      val samples = sub.vertices
        .orderBy(xxhash64(lit(42L), col("id")).asc, col("id").asc)
        .limit(24).select(col("id").as("source")).localCheckpoint(true)
      val exactS = ShortestPaths.bfs(sub, samples)
        .filter(col("id") =!= col("source"))
        .groupBy(col("source").as("id"))
        .agg((lit(nSub - 1).cast("double") / sum("dist")).as("ex"))
      val sampleBad = split.join(exactS, "id")
        .filter(abs(col("closeness") - col("ex")) > 1e-9).count()
      // 8 lowest-id probes: estimator within 35% relative error (a probe
      // that is also a sample is exact, so it only strengthens the gate).
      // The probe set, the component size, and every probe's exact
      // closeness are re-derived from scratch by the oracle (label-prop
      // CC + recursive-CTE BFS) — the gate rides on oracle-checked rows.
      val probes = sub.vertices.orderBy("id").limit(8)
        .select(col("id").as("source"))
      // connected component: closeness() = reach/Σd = (nSub−1)/farness
      val exactP = ShortestPaths.closeness(ShortestPaths.bfs(sub, probes))
        .select(col("id"), col("closeness").as("exn"))
      val errOk = split.join(exactP, "id")
        .select(avg(abs(col("closeness") - col("exn")) / col("exn")).as("e"))
        .head.getDouble(0) < 0.35
      exactP.select(col("id"), round(col("exn"), 6).as("exact_closeness"))
        .withColumn("n_sub", lit(nSub))
        .withColumn("n_samples", lit(24L))
        .withColumn("n_probes", lit(8L))
        .withColumn("inexact_samples", lit(sampleBad))
        .withColumn("err_ok", lit(if (errOk) 1L else 0L))
    }),
    // electrical kernels: effective resistance of the 8 lowest canonical
    // edges — the edge identities and their 1/w resistance bounds are
    // re-derived by the oracle from the edge table, the per-edge bound
    // check rides on those rows — plus forest and electrical closeness
    // positivity for 3 candidate hubs
    "x48_electrical" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val spark = s
      import spark.implicits._
      val sampled = g.edges.select(
          least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct().orderBy("u", "v").limit(8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val res = Electrical.effectiveResistance(g, sampled, maxIter = 30)
        .localCheckpoint(true)
      val w = g.edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"), col("weight"))
        .groupBy("u", "v").agg(max("weight").as("w"))
      val perEdge = res.join(w, Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          round(lit(1.0) / coalesce(col("w"), lit(1.0)), 6).as("bound"),
          when(col("resistance") > 0 &&
            col("resistance") <= lit(1.0) / coalesce(col("w"), lit(1.0)) + 0.05,
            lit(1L)).otherwise(lit(0L)).as("in_bound"))
      val cands = g.degrees.orderBy(col("degree").desc, col("id").asc)
        .limit(3).select("id").as[Long].collect().toSeq
      val fc = Electrical.forestCloseness(g, cands, probes = 4, maxIter = 30)
      val ec = Electrical.electricalCloseness(g, cands, probes = 4, maxIter = 30)
      val fOk = fc.filter(col("closeness") <= 0).count() == 0 && fc.count() == 3
      val eOk = ec.filter(col("closeness") <= 0).count() == 0 && ec.count() == 3
      perEdge.withColumn("forest_ok", lit(if (fOk) 1L else 0L))
        .withColumn("electrical_ok", lit(if (eOk) 1L else 0L))
    }),
    // k-path centrality: sampled self-avoiding walks. Gates: no negative
    // scores, and the walk mass must concentrate on high-degree nodes
    // (top-degree quartile mean score > bottom-quartile mean) — the
    // non-tautological signal that the sampler follows the topology
    "x46_kpath" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val spark = s
      import spark.implicits._
      val scores = Walks.kPathCentrality(g, trials = 20000).localCheckpoint(true)
      val n = scores.count()
      val m = g.adjacency.filter(col("src") =!= col("dst"))
        .select("src", "dst").distinct().count() / 2
      // default sampling budget — re-derived independently by the oracle
      val (kWalk, tDefault) = Walks.kPathBudget(n, m)
      val neg = scores.filter(col("score") < 0).count()
      val byDeg = scores.join(g.degrees, "id")
      val q = byDeg.stat.approxQuantile("degree", Array(0.25, 0.75), 0.0)
      val loMean = byDeg.filter(col("degree") <= q(0)).agg(avg("score")).head.getDouble(0)
      val hiMean = byDeg.filter(col("degree") >= q(1)).agg(avg("score")).head.getDouble(0)
      Seq((n, m, kWalk.toLong, tDefault, neg, if (hiMean > loMean) 1L else 0L))
        .toDF("n_nodes", "m_edges", "k_walk", "default_trials", "neg_scores", "hub_signal")
    }),
    // complex-contagion paths (Guilbeault–Centola): percolation keyed by
    // source over the 5 smallest node ids. Gates: every late adopter has
    // ≥ threshold complex-graph neighbors, PLci ≥ 0, reached ≤ n
    "x47_complexpaths" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val spark = s
      import spark.implicits._
      val srcs = g.vertices.orderBy("id").limit(5).select(col("id").as("s"))
        .localCheckpoint(true)
      val threshold = 3
      val (adopters, cedges) = ComplexPaths.complexGraphs(g, srcs, threshold)
      val deg = cedges.groupBy(col("s"), col("src").as("id"))
        .agg(count(lit(1)).as("d"))
      val weakAdopters = adopters.filter(col("ord") > 0)
        .join(deg, Seq("s", "id"), "left")
        .filter(coalesce(col("d"), lit(0L)) < threshold).count()
      val n = g.vertices.count()
      val plci = ComplexPaths.complexPathLengths(g, srcs, threshold)
      val bad = plci.filter(col("plci") < 0).count()
      val reachedOver = adopters.groupBy("s").agg(count(lit(1)).as("r"))
        .filter(col("r") > n).count()
      srcs.orderBy("s").select(col("s"),
        lit(weakAdopters).as("weak_adopters"),
        lit(bad).as("neg_plci"), lit(reachedOver).as("over_reached"))
    }),
    // left-right planarity test on golden fixtures (constants-if-valid:
    // Kuratowski graphs reject, planar families accept — the Euler
    // shortcut is bypassed by the K3,3 subdivision case)
    "x59_planarity" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      def graphOf(pairs: Seq[(Long, Long)]) = PropertyGraph(
        pairs.toDF("src", "dst").withColumn("weight", lit(1.0)), directed = false)
      def complete(n: Int) = for { i <- 0 until n; j <- i + 1 until n }
        yield (i.toLong, j.toLong)
      val k33sub = (for { i <- 0 until 3; j <- 0 until 3 } yield (i.toLong, (3 + j).toLong))
        .zipWithIndex.flatMap { case ((u, v), i) => Seq((u, 100L + i), (100L + i, v)) }
      val grid = (for { r <- 0 until 5; c <- 0 until 5 } yield {
        val id = (r * 5 + c).toLong
        Seq(if (c < 4) Some((id, id + 1)) else None,
          if (r < 4) Some((id, id + 5)) else None).flatten
      }).flatten
      Seq((
        if (Planarity.isPlanar(graphOf(complete(4)))) 1L else 0L,
        if (Planarity.isPlanar(graphOf(complete(5)))) 1L else 0L,
        if (Planarity.isPlanar(graphOf(k33sub))) 1L else 0L,
        if (Planarity.isPlanar(graphOf(grid))) 1L else 0L
      )).toDF("k4_planar", "k5_planar", "k33sub_planar", "grid_planar")
    }),
    // biconnected decomposition: the oracle independently re-derives the
    // bridge count (an edge is a bridge iff its endpoints disconnect
    // without it — per-edge removal reachability CTE) and the
    // articulation count (per-vertex removal: some neighbor pair
    // disconnects), so the chain-decomposition run is cross-checked by
    // a DFS-free formulation. The distributed bridge certificate and
    // the label-coverage invariant are HARD Spark-side gates: the query
    // throws (→ correctness FAIL) instead of emitting flag columns the
    // oracle could only echo as literals
    "x35_bicc" -> ((s, dir) => {
      import s.implicits._
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val (labels, artic, bridges) = Biconnected.run(g)
      val nEdges = g.edges.filter(col("src") =!= col("dst")).distinct().count()
      require(labels.count() == nEdges, "bicc labels must cover every simple edge")
      val cert = Biconnected.bridgeCertificate(g, bridges).head()
      require(cert.getLong(0) == 1L && cert.getLong(1) == 1L,
        "distributed bridge certificate failed")
      Seq((bridges.count(), artic.count())).toDF("n_bridges", "n_artic")
    }),
    // eigenvector centrality: a fixed 30 power iterations (tol=0
    // disables early stop) so the oracle can unroll the identical
    // weighted recurrence; the per-step L2 normalization telescopes to
    // one final normalization in exact arithmetic
    "x64_eigenvector" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      PageRank.eigenvector(g, tol = 0.0, maxIter = 30)
        .select(col("id"), round(col("score"), 6).as("score"))
    }),
    // A* s-t search with a zero heuristic (valid, so branch-and-bound
    // Dijkstra) on the unit-weight graph; s,t = the two lowest ids of
    // the largest component and the hop distance are all re-derived by
    // the oracle (label-prop CC + recursive-CTE BFS)
    "x65_astar" -> ((s, dir) => {
      val g0 = DerivedGraphs.partGraph(s, dir, 2)
      val g = GraphOps.toUnweighted(g0)
      val spark = s
      import spark.implicits._
      val cc = ConnectedComponents.run(g0)
      val big = cc.groupBy("component").agg(count(lit(1)).as("sz"))
        .orderBy(desc("sz"), asc("component")).limit(1).select("component")
      val st = cc.join(big, "component").select("id").orderBy("id").limit(2)
        .as[Long].collect()
      val h = g.vertices.select(col("id"), lit(0.0).as("h"))
      Paths.aStar(g, st(0), st(1), h)
        .select(col("s"), col("t"), col("dist").cast("long").as("dist"))
    }),
    // topological levels of the co-order DAG (edges oriented src<dst by
    // construction): the peel round of v equals the longest path ending
    // at v, which the oracle re-derives with a longest-path CTE
    "x66_toposort" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      Digraph.topologicalSort(PropertyGraph(g.edges, directed = true))
    }),
    // random spanning forest (seeded random-weight Borůvka): the oracle
    // re-derives n, the component count (min-label CC CTE) and the
    // forest size n−c; spanning (no original edge crosses forest
    // components) and acyclicity (|F| = n − c_F) are Spark gates
    "x67_randforest" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val spark = s
      import spark.implicits._
      val f = SpanningForest.randomSpanningForest(g, seed = 42).localCheckpoint(true)
      val n = g.vertices.count()
      val nComp = ConnectedComponents.run(g).select("component").distinct().count()
      val fe = f.count()
      val fcc = ConnectedComponents.run(
        PropertyGraph(f, directed = false, Some(g.vertices))).localCheckpoint(true)
      val cross = g.edges
        .join(fcc.withColumnRenamed("id", "src").withColumnRenamed("component", "ca"), "src")
        .join(fcc.withColumnRenamed("id", "dst").withColumnRenamed("component", "cb"), "dst")
        .filter(col("ca") =!= col("cb")).count()
      val fComp = fcc.select("component").distinct().count()
      Seq((n, nComp, fe,
        if (cross == 0) 1L else 0L,
        if (fe == n - fComp) 1L else 0L))
        .toDF("n_nodes", "n_components", "forest_edges", "spanning_ok", "acyclic_ok")
    }),
    // union of all maximum spanning forests, on the minShared=1 graph
    // (weight classes 1..k make the union genuinely selective): edge
    // count and total weight re-derived by a per-weight-class CC oracle;
    // maxSF ⊆ UMSF is the Spark gate
    "x68_umsf" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 1)
      val um = SpanningForest.unionMaximumSpanningForest(g).localCheckpoint(true)
      val maxf = SpanningForest.maxSpanningForest(g)
      val notIn = maxf.select("src", "dst")
        .join(um.select("src", "dst"), Seq("src", "dst"), "left_anti").count()
      um.agg(count(lit(1)).as("umsf_edges"),
          sum(col("weight").cast("long")).as("umsf_weight"))
        .select(col("umsf_edges"), col("umsf_weight"),
          lit(if (notIn == 0) 1L else 0L).as("contains_maxsf"))
    }),
    // dynamic hyperbolic generator (x45's event-stream gate pattern):
    // step 0 must equal the static banded generator edge-exactly,
    // last-event-wins replay must equal the from-scratch snapshot at the
    // final coordinates, and movement must actually remove edges
    "x69_dynhyperbolic" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val n = 300L; val radius = 4.0; val steps = 3
      val ev = Generators.dynamicHyperbolic(s, n, radius, steps)
        .localCheckpoint(true)
      val static0 = Generators.hyperbolic(s, n, radius).edges.select("src", "dst")
      val init = ev.filter(col("step") === 0)
        .select(col("u").as("src"), col("v").as("dst"))
      val initMatches = init.except(static0).isEmpty && static0.except(init).isEmpty
      val lastState = ev.groupBy("u", "v")
        .agg(max(struct(col("step"), (col("type") === "EDGE_ADDITION").as("on")))
          .as("last"))
        .filter(col("last.on"))
        .select(col("u").as("src"), col("v").as("dst"))
      val direct = Generators.dynamicHyperbolicSnapshot(s, n, radius, steps)
      val replayOk = lastState.except(direct).isEmpty && direct.except(lastState).isEmpty
      val nRems = ev.filter(col("type") === "EDGE_REMOVAL").count()
      Seq((
        if (initMatches) 1L else 0L,
        if (replayOk) 1L else 0L,
        if (nRems > 0) 1L else 0L
      )).toDF("initial_matches_static", "replay_ok", "has_removals")
    }),
    // interchange readers, oracle-gated: KONECT (directed weighted),
    // GML (undirected with self-loops), MatrixMarket (symmetric real)
    // fixtures parsed by the engine's readers; the oracle re-parses the
    // SAME files character-level in DuckDB (read_csv + regexp) and
    // re-derives the full per-node (out-)degree + weighted-degree
    // table — a row-level gate on n, m, weights, and id mapping
    "x75_readers" -> ((s, dir) => {
      val kon = graft.io.GraphReaders.readKonect(
        s, "/root/reference/input/foodweb-baydry.konect")
      val konDeg = {
        val e = kon.edges
        val verts = e.select(col("src").as("id"))
          .unionAll(e.select(col("dst").as("id"))).distinct()
        val d = e.groupBy(col("src").as("id"))
          .agg(count(lit(1)).as("deg"), sum("weight").as("wdeg"))
        verts.join(d, Seq("id"), "left")
          .select(lit("konect").as("source"), col("id"),
            coalesce(col("deg"), lit(0L)).as("deg"),
            round(coalesce(col("wdeg"), lit(0.0)), 4).as("wdeg"))
      }
      val gml = graft.io.GraphReaders.readGml(
        s, "/root/reference/input/jazz2_undirected.gml")
      val gmlDeg = {
        val adj = gml.adjacency // self-loops count twice, by expansion
        val d = adj.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
        gml.vertices.select("id").join(d, Seq("id"), "left")
          .select(lit("gml").as("source"), col("id"),
            coalesce(col("deg"), lit(0L)).as("deg"),
            round(coalesce(col("deg"), lit(0L)).cast("double"), 4).as("wdeg"))
      }
      val mtx = graft.io.GraphReaders.readMatrixMarket(
        s, "/root/reference/input/LFAT5.mtx")
      val mtxDeg = mtx.groupBy(col("i").as("id"))
        .agg(count(lit(1)).as("deg"), round(sum("v"), 4).as("wdeg"))
        .select(lit("mtx").as("source"), col("id"), col("deg"), col("wdeg"))
      konDeg.unionAll(gmlDeg).unionAll(mtxDeg)
    }),
    // NetworKit BINARY graph format, interop-gated: the engine decodes
    // the reference's OWN nkbg003 file (written by NetworKit itself) and
    // the oracle re-derives the degree table from the TEXT twin of the
    // same graph (character-level KONECT re-parse) — a cross-FORMAT
    // cross-engine gate on n, m, weights and id mapping. The engine's
    // writer is exercised as a hard Spark-side gate: write → re-read
    // must reproduce the identical weighted edge set
    "x77_nkbg" -> ((s, dir) => {
      val bin = graft.io.NetworkitBinary.read(
        s, "/root/reference/input/foodweb-baydry.nkbg003")
      val rt = "/tmp/graft_x77_roundtrip.nkbg"
      graft.io.NetworkitBinary.write(bin, rt, chunks = 8)
      val back = graft.io.NetworkitBinary.read(s, rt)
      val a = bin.edges.select(col("src"), col("dst"), round(col("weight"), 6).as("w"))
      val b = back.edges.select(col("src"), col("dst"), round(col("weight"), 6).as("w"))
      require(a.except(b).isEmpty && b.except(a).isEmpty,
        "nkbg write→read roundtrip must reproduce the edge set")
      require(back.directed == bin.directed, "roundtrip lost directedness")
      val e = bin.edges
      val verts = e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id"))).distinct()
      val d = e.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("deg"), sum("weight").as("wdeg"))
      verts.join(d, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("deg"), lit(0L)).as("deg"),
          round(coalesce(col("wdeg"), lit(0.0)), 4).as("wdeg"))
    }),
    // Thrill + graph-tool binary graph formats and the binary partition
    // format, interop-gated: the part graph (compact ids — both formats
    // are positional) writes → re-reads through BOTH binary codecs, and
    // a degree-derived labeling roundtrips the binary partition format;
    // equality is a hard Spark-side require, and the emitted degree
    // table (original part ids) is re-derived by the oracle from the
    // parquet tables — certifying the id mapping survives the codecs
    "x81_binformats" -> ((s, dir) => {
      val g0 = DerivedGraphs.partGraph(s, dir, 2)
      val (g, mapping) = GraphOps.compactIds(g0)
      val tp = "/tmp/graft_x81.thrill"; val gp = "/tmp/graft_x81.gt"
      graft.io.BinaryFormats.writeThrill(g, tp)
      graft.io.BinaryFormats.writeGraphTool(g, gp)
      val backT = graft.io.BinaryFormats.readThrill(s, tp)
      val backG = graft.io.BinaryFormats.readGraphTool(s, gp)
      val es = g.edges.select("src", "dst")
      def same(b: graft.graph.PropertyGraph): Boolean = {
        val bs = b.edges.select("src", "dst")
        bs.except(es).isEmpty && es.except(bs).isEmpty
      }
      require(same(backT), "thrill write→read must reproduce the edge set")
      require(same(backG), "graph-tool write→read must reproduce the edge set")
      val deg = backT.adjacency.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("deg"))
      val part = deg.select(col("id"), (col("deg") % 8).as("community"))
      val pp = "/tmp/graft_x81.part"
      graft.io.BinaryFormats.writeBinaryPartition(part, pp, width = 4)
      val backP = graft.io.BinaryFormats.readBinaryPartition(s, pp, width = 4)
      require(backP.except(part).isEmpty && part.except(backP).isEmpty,
        "binary partition write→read must reproduce the labeling")
      deg.join(backP, "id")
        .join(mapping.select(col("newId").as("id"), col("id").as("part_id")), "id")
        .select(col("part_id"), col("deg"), col("community").as("comm"))
    }),
    // binary-format readers on the reference's OWN fixture files, with
    // text twins as the certificate: celegans_metabolic.thrill and
    // power.gt must equal the METIS twins edge-for-edge (hard Spark
    // require), and tiny_05.rb's COO must match its MatrixMarket twin;
    // the oracle re-derives every emitted degree row character-level
    // from the TEXT twins (METIS lines / MatrixMarket entries) in SQL
    "x82_fixtures" -> ((s, dir) => {
      def edgeSet(g: graft.graph.PropertyGraph) =
        graft.graph.PropertyGraph.canonicalizeUndirected(
          g.edges.select(col("src"), col("dst"), lit(1.0).as("weight")))
          .select("src", "dst")
      val thr = graft.io.BinaryFormats.readThrill(
        s, "/root/reference/input/celegans_metabolic.thrill")
      val thrTwin = graft.io.GraphReaders.readMetis(
        s, "/root/reference/input/celegans_metabolic.graph")
      require(edgeSet(thr).except(edgeSet(thrTwin)).isEmpty &&
        edgeSet(thrTwin).except(edgeSet(thr)).isEmpty,
        "thrill fixture must equal its METIS twin edge-for-edge")
      val gt = graft.io.BinaryFormats.readGraphTool(
        s, "/root/reference/input/power.gt")
      val gtTwin = graft.io.GraphReaders.readMetis(
        s, "/root/reference/input/power.graph")
      require(edgeSet(gt).except(edgeSet(gtTwin)).isEmpty &&
        edgeSet(gtTwin).except(edgeSet(gt)).isEmpty,
        "graph-tool fixture must equal its METIS twin edge-for-edge")
      val rb = graft.io.GraphReaders.readRutherfordBoeing(
        s, "/root/reference/input/tiny_05.rb")
      def deg(g: graft.graph.PropertyGraph, src: String) =
        g.adjacency.groupBy(col("src").as("id"))
          .agg(count(lit(1)).as("deg"))
          .select(lit(src).as("source"), col("id"), col("deg"),
            col("deg").cast("double").as("wdeg"))
      deg(thr, "thrill")
        .unionAll(deg(gt, "gt"))
        .unionAll(rb.groupBy(col("i").as("id"))
          .agg(count(lit(1)).as("deg"), round(sum("v"), 4).as("wdeg"))
          .select(lit("rb").as("source"), col("id"), col("deg"), col("wdeg")))
    }),
    // GEXF reader on the reference's own celegans fixture: the oracle
    // re-parses the XML character-level in DuckDB (document-order node
    // mapping = row_number over node lines, edge endpoints joined by
    // their original id strings) and re-derives the full multigraph
    // degree table — reciprocal file entries stay distinct edges, so
    // their degrees count twice on both sides
    "x84_gexf" -> ((s, dir) => {
      val (g, events) = graft.io.Gexf.read(
        s, "/root/reference/input/staticTest.gexf")
      require(events.isEmpty, "static mode must produce no events")
      val rt = "/tmp/graft_x84_roundtrip.gexf"
      graft.io.Gexf.write(g, rt)
      val (back, _) = graft.io.Gexf.read(s, rt)
      val a = g.edges.select("src", "dst")
      val b = back.edges.select("src", "dst")
      require(a.except(b).isEmpty && b.except(a).isEmpty,
        "gexf write→read must reproduce the edge set")
      g.vertices.select("id")
        .join(g.adjacency.groupBy(col("src").as("id"))
          .agg(count(lit(1)).as("deg")), Seq("id"), "left")
        .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg"))
    }),
    // Floyd–Warshall-class APSP (min-plus matrix squaring with the
    // reference's fewest-hops tie-break) on the 120 lowest-id vertices
    // of the part graph; the oracle runs the IDENTICAL min-plus closure
    // as 8 chained squaring CTEs on a dist*512+hops integer composite
    // (exact: integer weights, hops < 512, 2^8 ≥ any simple-path length)
    "x76_fw" -> ((s, dir) => {
      val g0 = DerivedGraphs.partGraph(s, dir, 2)
      // densest corner: the 120 highest-degree vertices (deterministic
      // (degree desc, id) order, mirrored in the oracle's deg CTE)
      val keep = g0.adjacency.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("d"))
        .orderBy(col("d").desc, col("id")).limit(120).select("id")
      val g = GraphOps.subgraphFromNodes(g0, keep)
      Apsp.floydWarshall(g)
        .select(col("src").as("s"), col("dst").as("t"),
          col("dist").cast("long").as("dist"), col("hops"))
    }),
    // random maximum spanning forest (Kruskal with randomized order
    // inside weight ties): the forest itself is seed-dependent, but its
    // edge COUNT and total WEIGHT are invariants of all maximum forests
    // — the oracle re-derives both per weight class via the cut
    // property (edges added at class w = comps(>w) − comps(≥w)).
    // Forest validity, UMSF containment, and seed sensitivity are
    // Spark-side gates
    "x74_rmsf" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val g = DerivedGraphs.partGraph(s, dir, 1)
      val f = SpanningForest.randomMaximumSpanningForest(g, seed = 11)
        .localCheckpoint(true)
      val umsf = SpanningForest.unionMaximumSpanningForest(g)
        .localCheckpoint(true)
      val notInUmsf = f.select("src", "dst")
        .join(umsf.select("src", "dst"), Seq("src", "dst"), "left_anti").count()
      val nNodes = g.vertices.count()
      val cG = ConnectedComponents.run(g).select("component").distinct().count()
      val cF = ConnectedComponents.run(
          PropertyGraph(f, directed = false, Some(g.vertices.select("id"))))
        .select("component").distinct().count()
      val nF = f.count()
      val forestOk = nF == nNodes - cG && cF == cG
      val f2 = SpanningForest.randomMaximumSpanningForest(g, seed = 12)
      val seedOk = // distinct forests, unless the maximum forest is unique
        umsf.count() == nF ||
          f.select("src", "dst").except(f2.select("src", "dst")).count() > 0
      f.agg(count(lit(1)).as("rmsf_edges"),
          sum(col("weight").cast("long")).as("rmsf_weight"))
        .select(col("rmsf_edges"), col("rmsf_weight"),
          lit(if (notInUmsf == 0) 1L else 0L).as("in_umsf_ok"),
          lit(if (forestOk) 1L else 0L).as("forest_ok"),
          lit(if (seedOk) 1L else 0L).as("seed_ok"))
    }),
    // dynamic Barabási–Albert + dynamic path event streams (x45's gate
    // pattern): the path stream's counts are closed-form and the oracle
    // re-derives them arithmetically; the BA gates check the step-0
    // path seed, that every step-t edge touches that step's new node
    // with an older target, per-step edge counts in 1..k, and bitwise
    // determinism across two invocations
    "x73_dyngrow" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val nP = 50
      val pEv = Generators.dynamicPath(s, nP).localCheckpoint(true)
      val pNodes = pEv.filter(col("type") === "NODE_ADDITION").count()
      val pEdges = pEv.filter(col("type") === "EDGE_ADDITION").count()
      val pChainBad = pEv.filter(col("type") === "EDGE_ADDITION")
        .filter(col("v") =!= col("u") + 1 || col("v") =!= col("step")).count()
      val k = 3; val nB = 60
      val ev = Generators.dynamicBarabasiAlbert(s, k, nB, seed = 7)
        .localCheckpoint(true)
      val ev2 = Generators.dynamicBarabasiAlbert(s, k, nB, seed = 7)
      val deterministic = ev.except(ev2).isEmpty && ev2.except(ev).isEmpty
      val step0Nodes = ev.filter(col("type") === "NODE_ADDITION" &&
        col("step") === 0).count()
      val step0Edges = ev.filter(col("type") === "EDGE_ADDITION" &&
        col("step") === 0).count()
      val later = ev.filter(col("type") === "EDGE_ADDITION" && col("step") > 0)
        .localCheckpoint(true)
      val badTouch = later.filter(col("v") =!= col("step") + (k - 1)).count()
      val badOld = later.filter(col("u") >= col("v")).count()
      val badCount = later.groupBy("step").agg(count(lit(1)).as("c"))
        .filter(col("c") > k || col("c") < 1).count()
      Seq((pNodes, pEdges, if (pChainBad == 0) 1L else 0L,
        step0Nodes, step0Edges,
        if (badTouch == 0) 1L else 0L,
        if (badOld == 0) 1L else 0L,
        if (badCount == 0) 1L else 0L,
        if (deterministic) 1L else 0L
      )).toDF("path_nodes", "path_edges", "path_chain_ok",
        "ba_step0_nodes", "ba_step0_edges", "ba_touch_new_ok",
        "ba_targets_older_ok", "ba_per_step_ok", "ba_deterministic")
    }),
    // multigrid Laplacian solver (the LAMG-class role; algebra/Multigrid,
    // smoothed aggregation + V(1,1)-preconditioned CG): the customer
    // table ranked by c_custkey becomes a weighted ring, whose
    // two-terminal effective resistance has the series–parallel closed
    // form arcIn·arcOut/(arcIn+arcOut) the oracle re-derives with prefix
    // sums. Two source/sink pairs ride ONE hierarchy as batched rhs (the
    // Electrical batching discipline); solver gated at |Δ| < 1e-6.
    "x78_multigrid" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val keys = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("key"))
      // distributed rank (sortBy + zipWithIndex, no single-partition window)
      val pos = keys.sort("key").rdd.map(_.getLong(0)).zipWithIndex
        .map { case (k, i) => (i, k) }.toDF("pos", "key")
        .localCheckpoint(true)
      val n = pos.count()
      val ring = pos.select(col("pos").as("i"),
          pmod(col("pos") + 1, lit(n)).as("j"),
          (lit(1.0) + (col("key") % 7).cast("double")).as("w"))
        .localCheckpoint(true)
      val lap = ring.select(col("i"), col("j"), (-col("w")).as("v"))
        .unionAll(ring.select(col("j").as("i"), col("i").as("j"), (-col("w")).as("v")))
        .unionAll(ring.select(col("i"), col("i").as("j"), col("w").as("v")))
        .unionAll(ring.select(col("j").as("i"), col("j").as("j"), col("w").as("v")))
        .groupBy("i", "j").agg(sum("v").as("v"))
      val t1 = n / 2; val t2 = n / 3
      val b = Seq((0L, 0L, 1.0), (0L, t1, -1.0), (1L, 1L, 1.0), (1L, t2, -1.0))
        .toDF("rhs", "i", "v")
      val x = graft.algebra.Multigrid.solve(lap, b, tol = 1e-11)
        .localCheckpoint(true)
      def pot(rhs: Long, a: Long, bb: Long): Double = {
        val m = x.filter(col("rhs") === rhs && col("i").isin(a, bb))
          .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
        m.getOrElse(a, 0.0) - m.getOrElse(bb, 0.0)
      }
      val rMg1 = pot(0, 0, t1); val rMg2 = pot(1, 1, t2)
      // closed form (independently re-derived by the DuckDB oracle)
      val inv = ring.select(col("i"), (lit(1.0) / col("w")).as("r"))
      val total = inv.agg(sum("r")).first().getDouble(0)
      def arc(lo: Long, hi: Long): Double =
        inv.filter(col("i") >= lo && col("i") < hi)
          .agg(sum("r")).first().getDouble(0)
      val a1 = arc(0, t1); val a2 = arc(1, t2)
      val r1 = a1 * (total - a1) / total
      val r2 = a2 * (total - a2) / total
      // round exactly as DuckDB's round(): half away from zero on the
      // binary double value (not its shortest decimal rendering)
      def r6(d: Double): Double = new java.math.BigDecimal(d)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      Seq((n,
        r6(r1), r6(r2),
        if (math.abs(rMg1 - r1) <= 1e-6 * math.max(1.0, r1)) 1L else 0L,
        if (math.abs(rMg2 - r2) <= 1e-6 * math.max(1.0, r2)) 1L else 0L
      )).toDF("n", "r1_closed", "r2_closed", "mg1_ok", "mg2_ok")
    }),
    // Maxent-stress layout (viz/MaxentLayout, the reference MaxentStress
    // with multigrid-solved Laplacian steps): run on the part graph's
    // largest connected component (the reference throws on disconnected
    // input). The oracle re-derives the LCC size and the known-distance
    // cardinality |S| (ordered pairs within 2 hops); the layout gates —
    // stress improvement over the random init, finite coordinates,
    // solver progress — are Spark-side
    "x80_maxent" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val g0 = DerivedGraphs.partGraph(s, dir, 2)
      val comp = ConnectedComponents.run(g0).localCheckpoint(true)
      val topC = comp.groupBy("component").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("component").asc).first().getLong(0)
      val lcc = comp.filter(col("component") === topC).select("id")
        .localCheckpoint(true)
      val g = GraphOps.subgraphFromNodes(g0, lcc)
      // cheap bounds for the gate (3 solves × 2 alpha rounds, loose
      // inner tolerance): stress majorization does most of its work in
      // the first solves; engine defaults stay at the reference values
      val res = graft.viz.MaxentLayout.maxentStress(g, k = 2,
        maxSolvesPerAlpha = 3, finalAlpha = 0.3,
        solveTol = 1e-4, solveMaxCycles = 5, coarsestN = 512)
      val coords = res.coords.localCheckpoint(true)
      val n = lcc.count()
      val finiteOk = coords.count() == n &&
        coords.filter(isnan(col("c0")) || isnan(col("c1")) ||
          col("c0").isNull || col("c1").isNull).count() == 0
      Seq((n, res.knownPairs,
        if (res.ldmeFinal < res.ldmeInitial) 1L else 0L,
        if (finiteOk) 1L else 0L,
        if (res.solves > 0) 1L else 0L
      )).toDF("n", "s_pairs", "improved_ok", "finite_ok", "solves_ok")
    }),
    // PivotMDS layout (viz/Layout.pivotMds): the oracle re-derives the
    // pivot-BFS distance sum (the layout's input matrix) with a
    // recursive CTE from the same 24 lowest-id pivots; the MDS gates —
    // complete finite coordinates, descending positive eigenvalues,
    // orthogonal axes, topology (near pivot pairs embed closer than far
    // ones) — are Spark-side
    "x79_pivotmds" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val k = 24
      val pivotIds = g.vertices.select(col("id").cast("long")).orderBy("id")
        .limit(k).as[Long].collect().toSeq
      val res = graft.viz.Layout.pivotMdsWithInfo(
        g, dim = 2, numPivots = k, pivots = Some(pivotIds))
      val coords = res.coords.localCheckpoint(true)
      val n = g.vertices.count()
      val coordsOk = coords.count() == n &&
        coords.filter(isnan(col("p0")) || isnan(col("p1"))).count() == 0
      val evs = res.eigenvalues
      val eigOk = evs.head >= evs(1) && evs(1) > 0
      val st = coords.agg(sum(col("p0") * col("p0")).as("sx"),
        sum(col("p1") * col("p1")).as("sy"),
        sum(col("p0") * col("p1")).as("sxy")).first()
      val (sx, sy, sxy) = (st.getDouble(0), st.getDouble(1), st.getDouble(2))
      val orthoOk = math.abs(sxy) /
        math.max(math.sqrt(sx) * math.sqrt(sy), 1e-300) < 1e-4
      val varOk = sx >= sy
      // base anchor the oracle re-derives: Σ of pivot-BFS distances
      val dist = ShortestPaths.bfs(g, pivotIds.toDF("source"))
        .localCheckpoint(true)
      val distSum = dist.agg(sum("dist")).first().getLong(0)
      // topology gate on pivot pairs: split at the median graph
      // distance; the near half must average a smaller embedding
      // distance than the far half
      val pset = pivotIds.toDF("pid")
      val pp = dist.join(pset, dist("id") === pset("pid"))
        .filter(col("source") < col("id"))
        .select(col("source").as("a"), col("id").as("b2"), col("dist").as("gd"))
        .join(coords.select(col("id").as("a"),
          col("p0").as("x1"), col("p1").as("y1")), "a")
        .join(coords.select(col("id").as("b2"),
          col("p0").as("x2"), col("p1").as("y2")), "b2")
        .select(col("gd"), sqrt(pow(col("x1") - col("x2"), 2) +
          pow(col("y1") - col("y2"), 2)).as("ed"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val med = pp.map(_._1).sorted.apply(pp.length / 2)
      val near = pp.filter(_._1 < med).map(_._2)
      val far = pp.filter(_._1 > med).map(_._2)
      val topoOk = near.nonEmpty && far.nonEmpty &&
        near.sum / near.length < far.sum / far.length
      Seq((n, pivotIds.size.toLong, distSum,
        if (coordsOk) 1L else 0L, if (eigOk) 1L else 0L,
        if (orthoOk) 1L else 0L, if (varOk) 1L else 0L,
        if (topoOk) 1L else 0L
      )).toDF("n", "k", "dist_sum", "coords_ok", "eig_ok",
        "ortho_ok", "var_ok", "topo_ok")
    }),
    // full maximal-clique enumeration (degeneracy-ordered BK, no size
    // cap): the oracle re-derives the maximal-2-clique count (edges with
    // no common neighbor) and maximal-3-clique count (triangles with no
    // common extender) — at this SF that is every maximal clique, so the
    // enumeration is fully count-checked; clique validity, maximality,
    // and edge coverage are distributed Spark gates
    "x70_maxcliques" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val mc = Cliques.maximalCliques(g)
        .withColumn("cid", monotonically_increasing_id())
        .withColumn("sz", size(col("members")))
        .localCheckpoint(true)
      val e = g.edges.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst")).distinct()
        .localCheckpoint(true)
      val adj = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      val memb = mc.select(col("cid"), col("sz"), explode(col("members")).as("m"))
      // every intra-clique pair must be an edge
      val pairs = mc.select(col("cid"), explode(expr(
        """flatten(transform(members, (x, i) ->
          |  transform(slice(members, i + 2, size(members)), y ->
          |    struct(x AS src, y AS dst))))""".stripMargin)).as("p"))
        .select(col("p.src"), col("p.dst"))
      val badPairs = pairs.join(e, Seq("src", "dst"), "left_anti").count()
      // no vertex may be adjacent to ALL members of a clique
      val extenders = memb.join(adj, memb("m") === adj("src"))
        .groupBy(col("cid"), col("dst").as("w"), col("sz"))
        .agg(count(lit(1)).as("hits"))
        .filter(col("hits") === col("sz"))
        .join(memb.select(col("cid"), col("m").as("w")), Seq("cid", "w"), "left_anti")
        .count()
      // every edge lies in at least one maximal clique
      val covered = pairs.distinct().count()
      val nEdges = e.count()
      val sizes = mc.groupBy("sz").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      Seq((
        sizes.getOrElse(2, 0L), sizes.getOrElse(3, 0L),
        if (badPairs == 0) 1L else 0L,
        if (extenders == 0) 1L else 0L,
        if (covered == nEdges) 1L else 0L
      )).toDF("n_max2", "n_max3", "cliques_valid", "maximal_ok", "edges_covered")
    }),
    // algebraic distance edge scores (LCG init + 10 Jacobi sweeps) —
    // the oracle unrolls the identical recurrence in SQL, exact to 6 dp
    "x71_algdist" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      Sparsification.algebraicDistance(g, numSystems = 4, iters = 10)
        .select(col("src"), col("dst"), round(col("score"), 6).as("score"))
    }),
    // EXACT configuration model (Havel–Hakimi + Curveball): the realized
    // degree histogram must equal the part graph's — re-derived by the
    // oracle from the co-order degrees — with zero per-node mismatches
    // and at least one edge changed by the randomization trades
    "x72_configmodel" -> ((s, dir) => {
      val g = DerivedGraphs.partGraph(s, dir, 2)
      val cm = Generators.configurationModelExact(g.degrees, trades = 3, seed = 42)
      val mismatch = cm.degrees
        .join(g.degrees.withColumnRenamed("degree", "want"), Seq("id"), "full")
        .filter(coalesce(col("degree"), lit(0L)) =!= coalesce(col("want"), lit(0L)))
        .count()
      val canon = (df: org.apache.spark.sql.DataFrame) => df
        .select(least(col("src"), col("dst")).as("src"),
          greatest(col("src"), col("dst")).as("dst")).distinct()
      val changed = canon(cm.edges)
        .join(canon(g.edges), Seq("src", "dst"), "left_anti").count()
      cm.degrees.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .withColumn("deg_exact", lit(if (mismatch == 0) 1L else 0L))
        .withColumn("randomized", lit(if (changed > 0) 1L else 0L))
    })
  )

  /** The x95 oracle's 20 unrolled Gauss–Seidel half-sweeps: step k
    * updates parity (k−1)%2 rows from the previous state using the
    * latest values (the defining Gauss–Seidel property the replay
    * pins), all other rows carry over. */
  private val gsSteps: String = (1 to 20).map { k =>
    val par = (k - 1) % 2
    s"""s$k AS MATERIALIZED (SELECT t.rhs, t.i,
       |  CASE WHEN t.i % 2 = $par THEN
       |    (COALESCE(bb.v, 0.0) - COALESCE(sg.sigma, 0.0)) / dg.d
       |  ELSE t.x END AS x
       |  FROM s${k - 1} t
       |  JOIN diag dg ON dg.i = t.i
       |  LEFT JOIN b bb ON bb.rhs = t.rhs AND bb.i = t.i
       |  LEFT JOIN (SELECT q.rhs, o.i, sum(o.v * q.x) AS sigma
       |             FROM offd o JOIN s${k - 1} q ON q.i = o.j
       |             GROUP BY q.rhs, o.i) sg
       |    ON sg.rhs = t.rhs AND sg.i = t.i)""".stripMargin
  }.mkString(",\n")

  val oracles: Map[String, String] = Map(
    // GraphTools batch: all quantities re-derived relationally from the
    // part-graph CTE (core = 10 lowest ids; the c>=3 subset plays g3)
    "x97_graphops" ->
      s"""WITH $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |core AS MATERIALIZED (SELECT id FROM nodes ORDER BY id LIMIT 10),
         |nbr AS (SELECT DISTINCT s.dst AS id FROM sym s
         |        JOIN core c ON s.src = c.id
         |        WHERE s.dst NOT IN (SELECT id FROM core)),
         |snn AS (SELECT id FROM core UNION SELECT id FROM nbr),
         |sne AS (SELECT src, dst, c FROM e
         |        WHERE src IN (SELECT id FROM core)
         |           OR dst IN (SELECT id FROM core)),
         |g3 AS (SELECT src, dst, c FROM e WHERE c >= 3)
         |SELECT 'sn_node' AS kind, id, 1::BIGINT AS v FROM snn
         |UNION ALL SELECT 'sn_edges', -1, count(*) FROM sne
         |UNION ALL SELECT 'sn_w', -1, sum(c)::BIGINT FROM sne
         |UNION ALL SELECT 'iso_edges', -1,
         |  (SELECT count(*) FROM e
         |   WHERE src NOT IN (SELECT id FROM core)
         |     AND dst NOT IN (SELECT id FROM core))
         |UNION ALL SELECT 'unw_w', -1, (SELECT count(*) FROM e)
         |UNION ALL SELECT 'append_m', -1,
         |  (SELECT count(*) FROM e) + (SELECT count(*) FROM g3)
         |UNION ALL SELECT 'append_n', -1,
         |  (SELECT count(*) FROM nodes) + (SELECT count(DISTINCT id)
         |    FROM (SELECT src AS id FROM g3 UNION ALL SELECT dst FROM g3))
         |UNION ALL SELECT 'merge_m', -1, (SELECT count(*) FROM e)
         |UNION ALL SELECT 'merge_n', -1, (SELECT count(*) FROM nodes)
         |UNION ALL SELECT 'rand_n', -1, 10""".stripMargin,
    // full independent SQL reimplementation of the Barnes–Hut
    // interaction lists: per-level cell indices from the same IEEE
    // floor arithmetic (exact-rational coordinates make every double
    // bit-identical across engines), accepted far cells (Chebyshev
    // index distance ∈ [3,5] with parent ≤ 2), finest 5×5 near pairs,
    // per-node coverage = Σ far-cell counts + near pairs. n = 120 →
    // lMax = 3 (the engine's ceil(log2(n/4)/dim) with the 2..12 clamp).
    "x99_octree" ->
      """WITH k AS (SELECT c_custkey AS key FROM customer
        |           ORDER BY c_custkey LIMIT 120),
        |pts AS MATERIALIZED (SELECT key AS id,
        |  ((key % 97)::DOUBLE / 97.0) AS c0,
        |  ((key % 89)::DOUBLE / 89.0) AS c1 FROM k),
        |box AS MATERIALIZED (SELECT min(c0) AS lo0, min(c1) AS lo1,
        |  greatest(greatest(max(c0) - min(c0), max(c1) - min(c1)), 1e-9)
        |    * (1.0 + 1e-12) AS side FROM pts),
        |lv AS (SELECT l FROM range(1, 4) t(l)),
        |nc AS MATERIALIZED (SELECT p.id, l,
        |  least(greatest(floor((p.c0 - b.lo0) / (b.side / power(2, l)))::BIGINT,
        |    0), power(2, l)::BIGINT - 1) AS g0,
        |  least(greatest(floor((p.c1 - b.lo1) / (b.side / power(2, l)))::BIGINT,
        |    0), power(2, l)::BIGINT - 1) AS g1
        |  FROM pts p CROSS JOIN lv CROSS JOIN box b),
        |cells AS MATERIALIZED (SELECT l, g0, g1, count(*) AS cnt
        |  FROM nc GROUP BY 1, 2, 3),
        |offs AS MATERIALIZED (SELECT a.dx, b.dy
        |  FROM range(-5, 6) a(dx) CROSS JOIN range(-5, 6) b(dy)
        |  WHERE greatest(abs(a.dx), abs(b.dy)) >= 3),
        |far AS (SELECT n.id, c.cnt FROM nc n CROSS JOIN offs o
        |  JOIN cells c ON c.l = n.l AND c.g0 = n.g0 + o.dx
        |              AND c.g1 = n.g1 + o.dy
        |  WHERE n.g0 + o.dx >= 0 AND n.g0 + o.dx < power(2, n.l)::BIGINT
        |    AND n.g1 + o.dy >= 0 AND n.g1 + o.dy < power(2, n.l)::BIGINT
        |    AND abs((n.g0 + o.dx) // 2 - n.g0 // 2) <= 2
        |    AND abs((n.g1 + o.dy) // 2 - n.g1 // 2) <= 2),
        |nearp AS (SELECT a.id, count(*) AS cnt
        |  FROM nc a JOIN nc b ON a.l = 3 AND b.l = 3
        |    AND abs(a.g0 - b.g0) <= 2 AND abs(a.g1 - b.g1) <= 2
        |    AND a.id <> b.id
        |  GROUP BY a.id),
        |fs AS (SELECT id, sum(cnt) AS s FROM far GROUP BY id)
        |SELECT p.id, (COALESCE(fs.s, 0) + COALESCE(np.cnt, 0))::BIGINT AS cov
        |FROM pts p LEFT JOIN fs ON fs.id = p.id
        |           LEFT JOIN nearp np ON np.id = p.id""".stripMargin,
    // series–parallel closed form over the 32-customer weighted ring
    // (the x78 derivation at n=32); the CG gate is Spark-side
    "x98_cg" ->
      """WITH ringw AS (
        |  SELECT row_number() OVER (ORDER BY c_custkey) - 1 AS pos,
        |         1.0 + (c_custkey % 7) AS w
        |  FROM (SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 32)),
        |tot AS (SELECT count(*) AS n, sum(1.0/w) AS total FROM ringw),
        |a1 AS (SELECT sum(1.0/w) AS arc FROM ringw
        |       WHERE pos >= 0 AND pos < (SELECT n // 2 FROM tot))
        |SELECT (SELECT n FROM tot)::BIGINT AS n,
        |  round(a1.arc * ((SELECT total FROM tot) - a1.arc)
        |        / (SELECT total FROM tot), 6) AS r1_closed,
        |  1::BIGINT AS cg1_ok
        |FROM a1""".stripMargin,
    // tree L⁺ diagonal closed form over the 48-customer binary-heap
    // tree: hop distances by min-plus squaring (2^4 = 16 ≥ diameter 10
    // at heap depth 5), then L⁺_uu = rowsum/n − total/(2n²) with the
    // IDENTICAL IEEE expression shape as the Spark side (integer sums,
    // /48.0 then −/4608.0); the UST-vs-closed-form gate is Spark-side
    "x100_ust" -> {
      val sqs = (1 to 4).map { k =>
        s"""d$k AS MATERIALIZED (SELECT a.i, b.j, min(a.v + b.v) AS v
           |  FROM d${k - 1} a JOIN d${k - 1} b ON a.j = b.i GROUP BY a.i, b.j)""".stripMargin
      }.mkString(",\n")
      s"""WITH k AS (SELECT c_custkey AS key FROM customer
         |           ORDER BY c_custkey LIMIT 48),
         |p AS MATERIALIZED (SELECT row_number() OVER (ORDER BY key) - 1 AS pos,
         |                   key FROM k),
         |e AS MATERIALIZED (SELECT c.key AS x, f.key AS y FROM p c
         |     JOIN p f ON f.pos = (c.pos - 1) // 2 WHERE c.pos > 0),
         |sym AS (SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e),
         |d0 AS MATERIALIZED (SELECT i, j, min(v) AS v FROM (
         |    SELECT x AS i, y AS j, 1 AS v FROM sym
         |    UNION ALL SELECT key AS i, key AS j, 0 AS v FROM p) GROUP BY i, j),
         |$sqs,
         |rs AS (SELECT i, sum(v) AS rs FROM d4 GROUP BY i),
         |tot AS (SELECT sum(v)::DOUBLE AS t FROM d4)
         |SELECT i AS id,
         |  round(rs::DOUBLE / 48.0 - (SELECT t FROM tot) / 4608.0, 6) AS diag
         |FROM rs""".stripMargin
    },
    // degrees of the minShared=2 part graph, derived from the TABLES —
    // the Spark side re-parses them from its own exported gephi stream
    "x96_gephi" ->
      s"""WITH $graphCte
         |SELECT d.id, d.d::BIGINT AS deg FROM deg d""".stripMargin,
    "x95_gs" ->
      s"""WITH k24 AS (SELECT c_custkey AS key FROM customer
         |             ORDER BY c_custkey LIMIT 24),
         |p AS MATERIALIZED (SELECT row_number() OVER (ORDER BY key) - 1 AS pos, key
         |                   FROM k24),
         |e AS MATERIALIZED (SELECT pos AS i, pos + 1 AS j,
         |                   (1 + (key % 7))::DOUBLE AS w
         |                   FROM p WHERE pos < 23),
         |offd AS MATERIALIZED (SELECT i, j, -w AS v FROM e
         |         UNION ALL SELECT j AS i, i AS j, -w AS v FROM e),
         |diag AS MATERIALIZED (SELECT n.pos AS i,
         |         1.0 + COALESCE(l.w, 0.0) + COALESCE(r.w, 0.0) AS d
         |         FROM p n LEFT JOIN e l ON l.j = n.pos
         |                  LEFT JOIN e r ON r.i = n.pos),
         |b AS MATERIALIZED (SELECT 0 AS rhs, 0 AS i, 5.0::DOUBLE AS v
         |      UNION ALL SELECT 1, 23, 3.0
         |      UNION ALL SELECT 1, 12, -2.0),
         |s0 AS MATERIALIZED (SELECT r.rhs, p.pos AS i, 0.0::DOUBLE AS x
         |       FROM (SELECT DISTINCT rhs FROM b) r CROSS JOIN p),
         |$gsSteps
         |SELECT rhs::BIGINT AS rhs, i::BIGINT AS pos, x FROM s20""".stripMargin,
    "x85_coloring" ->
      s"""WITH $graphCte
         |SELECT id, 1::BIGINT AS properly_colored FROM deg""".stripMargin,
    "x86_gini" ->
      s"""WITH $graphCte,
         |ranked AS (SELECT d,
         |  sum(d) OVER (ORDER BY d, id ROWS BETWEEN UNBOUNDED PRECEDING
         |               AND CURRENT ROW) AS cum FROM deg),
         |a AS (SELECT count(*) AS n, sum(d)::DOUBLE AS s,
         |      sum(2*cum - d)::DOUBLE AS area2 FROM ranked)
         |SELECT n*s - area2 AS num, n*s AS den,
         |  (n*s - area2) / (n*s) AS gini FROM a""".stripMargin,
    "x88_bisect" ->
      """SELECT j AS id, (CASE WHEN j < 8 THEN 0 ELSE 1 END)::BIGINT AS side
        |FROM range(0, 16) t(j)""".stripMargin,
    // dense re-id = row_number over sorted ids; transpose out-degree =
    // in-degree of the src<dst oriented edge table
    "x94_projections" ->
      s"""WITH $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |cmp AS (SELECT 'compact' AS kind, id,
         |  row_number() OVER (ORDER BY id) - 1 AS v FROM nodes),
         |td AS (SELECT 'tdeg' AS kind, dst AS id, count(*) AS v
         |       FROM e GROUP BY dst)
         |SELECT * FROM cmp UNION ALL SELECT * FROM td""".stripMargin,
    // character-level XML re-parse of the file the Spark side wrote:
    // node dense id = document order, edges joined by their n<id>
    // attributes, weights from the <data> payload, weighted degrees
    // over both endpoints (undirected)
    "x93_graphml" ->
      raw"""WITH x0 AS (SELECT row_number() OVER () AS ln, trim(l) AS l
        |  FROM read_csv('/tmp/graft_x93.graphml', header=false,
        |    delim='|', quote='', columns={'l': 'VARCHAR'})),
        |nd AS (SELECT row_number() OVER (ORDER BY ln) - 1 AS id,
        |    regexp_extract(l, 'node id="([^"]+)"', 1) AS nid
        |  FROM x0 WHERE l LIKE '<node %'),
        |ed AS (SELECT regexp_extract(l, 'source="([^"]+)"', 1) AS sid,
        |    regexp_extract(l, 'target="([^"]+)"', 1) AS tid,
        |    regexp_extract(l, '<data key="d1">([^<]+)</data>', 1)::DOUBLE AS w
        |  FROM x0 WHERE l LIKE '<edge %'),
        |e2 AS (SELECT ns.id AS src, nt.id AS dst, w FROM ed
        |  JOIN nd ns ON ns.nid = ed.sid JOIN nd nt ON nt.nid = ed.tid),
        |sym AS (SELECT src, dst, w FROM e2
        |        UNION ALL SELECT dst, src, w FROM e2)
        |SELECT n.id, coalesce(d.deg, 0)::BIGINT AS deg,
        |  coalesce(d.wdeg, 0.0) AS wdeg
        |FROM nd n LEFT JOIN (SELECT src AS id, count(*) AS deg,
        |  round(sum(w), 4) AS wdeg FROM sym GROUP BY src) d USING (id)""".stripMargin,
    // recursive-CTE hop distances for the 3 lowest↔highest id pairs
    "x92_astar" ->
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |los AS (SELECT id, row_number() OVER (ORDER BY id) AS rn
         |        FROM (SELECT id FROM nodes ORDER BY id LIMIT 3)),
         |his AS (SELECT id, row_number() OVER (ORDER BY id DESC) AS rn
         |        FROM (SELECT id FROM nodes ORDER BY id DESC LIMIT 3)),
         |pairs AS (SELECT l.id AS s, h.id AS t FROM los l JOIN his h USING (rn)),
         |reach(s, id, dist) AS (
         |  SELECT id, id, 0 FROM los
         |  UNION
         |  SELECT r.s, e2.dst, r.dist + 1 FROM reach r
         |  JOIN sym e2 ON e2.src = r.id WHERE r.dist < 30),
         |d AS (SELECT s, id, min(dist) AS dist FROM reach GROUP BY s, id)
         |SELECT p.s, p.t, d.dist::BIGINT AS dist
         |FROM pairs p JOIN d ON d.s = p.s AND d.id = p.t""".stripMargin,
    // character-level re-parse of the three community fixtures: the
    // .dat partition is (node, community) with 1-based nodes; the
    // overlapping .dat lists a 1-based node then its community ids; the
    // .cover lists community c's members on non-comment line rank c
    "x91_partio" ->
      raw"""WITH p0 AS (SELECT trim(l) AS l
        |  FROM read_csv('/root/reference/input/community.dat', header=false,
        |    delim='|', quote='', columns={'l': 'VARCHAR'})
        |  WHERE l NOT LIKE '#%' AND trim(l) <> ''),
        |part AS (SELECT 'partition' AS source,
        |    string_split_regex(l, '\s+')[1]::BIGINT - 1 AS id,
        |    string_split_regex(l, '\s+')[2]::BIGINT AS community FROM p0),
        |e0 AS (SELECT trim(l) AS l
        |  FROM read_csv('/root/reference/input/community_overlapping.dat',
        |    header=false, delim='|', quote='', columns={'l': 'VARCHAR'})
        |  WHERE l NOT LIKE '#%' AND trim(l) <> ''),
        |elc AS (SELECT 'elcover' AS source,
        |    string_split_regex(l, '\s+')[1]::BIGINT - 1 AS id,
        |    unnest(string_split_regex(l, '\s+')[2:])::BIGINT AS community FROM e0),
        |craw AS (SELECT
        |    unnest(string_split(regexp_replace(content, '\n$$', ''), chr(10))) AS l,
        |    unnest(generate_series(1,
        |      len(string_split(regexp_replace(content, '\n$$', ''), chr(10))))) AS i
        |  FROM read_text('/root/reference/input/community_overlapping.cover')),
        |c0 AS (SELECT row_number() OVER (ORDER BY i) - 1 AS community, trim(l) AS l
        |  FROM craw WHERE l NOT LIKE '#%'),
        |cov AS (SELECT 'cover' AS source,
        |    unnest(string_split_regex(l, '\s+'))::BIGINT AS id,
        |    community FROM c0 WHERE l <> '')
        |SELECT * FROM part UNION ALL SELECT * FROM elc
        |UNION ALL SELECT * FROM cov""".stripMargin,
    // the same stat battery re-derived in SQL: α-quartile rule via a
    // sorted list, two-pass moments, tie-averaged ranks for Spearman
    "x90_profile" ->
      s"""WITH $graphCte,
         |tri AS (SELECT s1.src AS id, count(*) AS t
         |  FROM sym s1 JOIN sym s2 ON s1.src = s2.src AND s1.dst < s2.dst
         |  JOIN e ON e.src = s1.dst AND e.dst = s2.dst
         |  GROUP BY s1.src),
         |dt AS (SELECT d.id, d.d::DOUBLE AS degree,
         |         coalesce(t.t, 0)::DOUBLE AS tri
         |       FROM deg d LEFT JOIN tri t USING (id)),
         |ra AS (SELECT id, avg(rn) OVER (PARTITION BY degree) AS ra FROM
         |  (SELECT id, degree, row_number() OVER (ORDER BY degree, id) AS rn FROM dt)),
         |rb AS (SELECT id, avg(rn) OVER (PARTITION BY tri) AS rb FROM
         |  (SELECT id, tri, row_number() OVER (ORDER BY tri, id) AS rn FROM dt)),
         |sp AS (SELECT corr(ra.ra, rb.rb) AS v FROM ra JOIN rb USING (id)),
         |s AS (SELECT count(*)::BIGINT AS n, min(d)::DOUBLE AS mn,
         |  max(d)::DOUBLE AS mx, avg(d::DOUBLE) AS mean,
         |  sqrt(avg((d::DOUBLE)^2)) AS qm, cbrt(avg((d::DOUBLE)^3)) AS cm,
         |  1.0 / avg(1.0 / d::DOUBLE) AS hm,
         |  list_sort(list(d::DOUBLE)) AS a FROM deg),
         |q AS (SELECT *,
         |  CASE WHEN floor(0.25*n) <> 0.25*n OR floor(0.25*n) < 1
         |    THEN a[(floor(0.25*n)+1)::INT]
         |    ELSE (a[floor(0.25*n)::INT] + a[(floor(0.25*n)+1)::INT]) / 2.0 END AS q1,
         |  CASE WHEN floor(0.5*n) <> 0.5*n OR floor(0.5*n) < 1
         |    THEN a[(floor(0.5*n)+1)::INT]
         |    ELSE (a[floor(0.5*n)::INT] + a[(floor(0.5*n)+1)::INT]) / 2.0 END AS med,
         |  CASE WHEN floor(0.75*n) <> 0.75*n OR floor(0.75*n) < 1
         |    THEN a[(floor(0.75*n)+1)::INT]
         |    ELSE (a[floor(0.75*n)::INT] + a[(floor(0.75*n)+1)::INT]) / 2.0 END AS q3,
         |  list_aggregate(a[(floor(0.25*n)+1)::INT:(n-floor(0.25*n))::INT], 'avg') AS iqm
         |  FROM s),
         |m AS (SELECT q.*, avg((d.d::DOUBLE - q.mean)^2) AS vu
         |      FROM deg d CROSS JOIN q GROUP BY ALL),
         |m2 AS (SELECT m.*, vu * n / (n-1) AS vc, sqrt(vu * n / (n-1)) AS sd,
         |       sqrt(vu) AS sdu FROM m),
         |m3 AS (SELECT m2.*,
         |  avg(((d.d::DOUBLE - m2.mean) / m2.sd)^3) AS sk,
         |  avg(((d.d::DOUBLE - m2.mean) / m2.sd)^4) - 3 AS ku
         |  FROM deg d CROSS JOIN m2 GROUP BY ALL),
         |rows0 AS (
         |  SELECT 'size' AS stat, n::DOUBLE AS value FROM m3
         |  UNION ALL SELECT 'min', mn FROM m3
         |  UNION ALL SELECT 'max', mx FROM m3
         |  UNION ALL SELECT 'arithmetic_mean', mean FROM m3
         |  UNION ALL SELECT 'quadratic_mean', qm FROM m3
         |  UNION ALL SELECT 'cubic_mean', cm FROM m3
         |  UNION ALL SELECT 'harmonic_mean', hm FROM m3
         |  UNION ALL SELECT 'q1', q1 FROM m3
         |  UNION ALL SELECT 'median', med FROM m3
         |  UNION ALL SELECT 'q3', q3 FROM m3
         |  UNION ALL SELECT 'interquartile_mean', iqm FROM m3
         |  UNION ALL SELECT 'iqr', q3 - q1 FROM m3
         |  UNION ALL SELECT 'sample_range', mx - mn FROM m3
         |  UNION ALL SELECT 'mid_range', (mn + mx) / 2 FROM m3
         |  UNION ALL SELECT 'uncorrected_variance', vu FROM m3
         |  UNION ALL SELECT 'variance', vc FROM m3
         |  UNION ALL SELECT 'standard_deviation', sd FROM m3
         |  UNION ALL SELECT 'uncorrected_standard_deviation', sdu FROM m3
         |  UNION ALL SELECT 'coefficient_of_variation', sd / mean FROM m3
         |  UNION ALL SELECT 'uncorrected_coefficient_of_variation', sdu / mean FROM m3
         |  UNION ALL SELECT 'skewness_yp', 3 * (mean - med) / sd FROM m3
         |  UNION ALL SELECT 'skewness_m', sk FROM m3
         |  UNION ALL SELECT 'kurtosis', ku FROM m3
         |  UNION ALL SELECT 'spearman_degree_triangles', v FROM sp)
         |SELECT stat, floor(value * 1e6 + 0.5)::BIGINT AS value_e6 FROM rows0""".stripMargin,
    // character-level re-derivation from the METIS TEXT twin (line i
    // lists node i−2's neighbors; fixture verified blank-line-free);
    // coord_dim = 2 is the published airfoil1 fixture property the
    // Spark side must extract from the binary coordinate block
    "x89_dibap" ->
      raw"""WITH raw AS (SELECT row_number() OVER () AS ln, trim(l) AS l
        |  FROM read_csv('/root/reference/input/airfoil1.graph',
        |    header=false, delim='|', quote='', columns={'l': 'VARCHAR'}))
        |SELECT ln - 2 AS id,
        |  len(string_split_regex(l, '\s+'))::BIGINT AS deg,
        |  2::BIGINT AS coord_dim
        |FROM raw WHERE ln > 1""".stripMargin,
    "x87_electrical2" ->
      """SELECT 'path_r' AS kind, 0::BIGINT AS a, j::BIGINT AS b, 1::BIGINT AS within_tol
        |FROM range(1, 24) t(j)
        |UNION ALL
        |SELECT 'cycle_ccl', j, -1::BIGINT, 1::BIGINT FROM range(0, 8) t(j)
        |UNION ALL
        |SELECT 'tree_se', 6::BIGINT, 6::BIGINT, 1::BIGINT""".stripMargin,
    "x48_electrical" ->
      s"""WITH $graphCte,
         |sampled AS (SELECT src AS u, dst AS v, c AS w FROM e ORDER BY src, dst LIMIT 8)
         |SELECT u, v, round(1.0/w, 6) AS bound, 1::BIGINT AS in_bound,
         |  1::BIGINT AS forest_ok, 1::BIGINT AS electrical_ok
         |FROM sampled""".stripMargin,
    "x57_groupbet" ->
      s"""WITH $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |low AS (SELECT id FROM nodes ORDER BY id LIMIT 64),
         |deg2 AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)
         |SELECT (SELECT id FROM deg2 ORDER BY d DESC, id ASC LIMIT 1) AS hub,
         |  1::BIGINT AS singleton_matches_onenode, 1::BIGINT AS monotone""".stripMargin,
    "x58_dynbrandes" -> {
      // layered σ DP (same shape as the x18 oracle): σ(s,w) at level k =
      // Σ over predecessors at level k−1; exact HUGEINT arithmetic
      val depth = 20
      val sigLevels = (1 to depth).map { k =>
        s"""sg$k AS MATERIALIZED (
           |  SELECT d.s, d.id, sum(sp.sigma) AS sigma
           |  FROM dm d JOIN symm ee ON ee.dst = d.id
           |  JOIN sg${k - 1} sp ON sp.s = d.s AND sp.id = ee.src
           |  JOIN dm dp ON dp.s = d.s AND dp.id = ee.src AND dp.dist = ${k - 1}
           |  WHERE d.dist = $k GROUP BY d.s, d.id)""".stripMargin
      }.mkString(",\n")
      val allSig = (0 to depth).map(k => s"SELECT * FROM sg$k").mkString(" UNION ALL ")
      s"""WITH RECURSIVE $graphCte,
         |symm AS MATERIALIZED (SELECT src, dst FROM sym),
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |srcs AS (SELECT id FROM nodes ORDER BY id LIMIT 24),
         |reach(s, id, dist) AS (
         |  SELECT id, id, 0 FROM srcs
         |  UNION
         |  SELECT r.s, e2.dst, r.dist+1 FROM reach r JOIN symm e2 ON e2.src=r.id
         |  WHERE r.dist < $depth),
         |dm AS MATERIALIZED (SELECT s, id, min(dist) AS dist FROM reach GROUP BY s, id),
         |sg0 AS MATERIALIZED (SELECT s, id, 1::HUGEINT AS sigma FROM dm WHERE dist = 0),
         |$sigLevels,
         |sig AS ($allSig)
         |SELECT 24::BIGINT AS n_sources, 1::BIGINT AS incremental_matches,
         |  count(*)::BIGINT AS state_rows,
         |  (SELECT sum(dist) FROM dm)::BIGINT AS dist_sum,
         |  sum(sigma % 997)::BIGINT AS sigma_mod_sum
         |FROM sig""".stripMargin
    },
    "x59_planarity" ->
      """SELECT 1::BIGINT AS k4_planar, 0::BIGINT AS k5_planar,
        | 0::BIGINT AS k33sub_planar, 1::BIGINT AS grid_planar""".stripMargin,
    "x53_volume" ->
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |starts AS (SELECT id FROM nodes ORDER BY id LIMIT 8),
         |reach(s, id, d) AS (
         |  SELECT id, id, 0 FROM starts
         |  UNION
         |  SELECT r.s, e2.dst, r.d+1 FROM reach r JOIN sym e2 ON e2.src=r.id WHERE r.d < 2),
         |dd AS (SELECT s, id, min(d) AS d FROM reach GROUP BY s, id),
         |balls AS (SELECT s, count(*) AS ball FROM dd GROUP BY s)
         |SELECT 8::BIGINT AS n_starts, round(avg(ball), 6) AS avg_ball FROM balls""".stripMargin,
    "x54_diameter" ->
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |deg2 AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src),
         |strt AS (SELECT id FROM deg2 ORDER BY d DESC, id ASC LIMIT 1),
         |r1(id, dist) AS (
         |  SELECT id, 0 FROM strt
         |  UNION
         |  SELECT e2.dst, r.dist+1 FROM r1 r JOIN sym e2 ON e2.src=r.id WHERE r.dist < 30),
         |d1 AS (SELECT id, min(dist) AS dist FROM r1 GROUP BY id),
         |fnode AS (SELECT id FROM d1 ORDER BY dist DESC, id ASC LIMIT 1),
         |r2(id, dist) AS (
         |  SELECT id, 0 FROM fnode
         |  UNION
         |  SELECT e2.dst, r.dist+1 FROM r2 r JOIN sym e2 ON e2.src=r.id WHERE r.dist < 30),
         |d2 AS (SELECT id, min(dist) AS dist FROM r2 GROUP BY id),
         |srcs AS (SELECT id FROM nodes ORDER BY id LIMIT 64),
         |ra(s, id, dist) AS (
         |  SELECT id, id, 0 FROM srcs
         |  UNION
         |  SELECT r.s, e2.dst, r.dist+1 FROM ra r JOIN sym e2 ON e2.src=r.id WHERE r.dist < 30),
         |da AS (SELECT s, id, min(dist) AS dist FROM ra GROUP BY s, id)
         |SELECT (SELECT max(dist) FROM d2)::BIGINT AS diameter_lb,
         |  (SELECT max(dist) FROM da)::BIGINT AS ecc_max_64""".stripMargin,
    "x55_dyndijkstra" -> {
      // unrolled Bellman–Ford over the integer co-occurrence weights:
      // d_{k+1}(s,v) = min(d_k(s,v), min_{(u,v)∈E} d_k(s,u)+w(u,v)).
      // 30 relaxation steps (converged at ≤25 at sf0.01; extra steps are
      // idempotent at the fixpoint) — exact BIGINT arithmetic, so this
      // re-derives the Dijkstra state's weighted distance sum, not just
      // the weight-independent reachability row count.
      val steps = 30
      val bf = (1 to steps).map { k =>
        s"""d$k AS MATERIALIZED (
           |  SELECT s, id, min(dist) AS dist FROM (
           |    SELECT s, id, dist FROM d${k - 1}
           |    UNION ALL
           |    SELECT d.s, e2.dst AS id, d.dist + e2.c AS dist
           |    FROM d${k - 1} d JOIN sym e2 ON e2.src = d.id) GROUP BY s, id)""".stripMargin
      }.mkString(",\n")
      s"""WITH $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |srcs AS (SELECT id FROM nodes ORDER BY id LIMIT 12),
         |d0 AS MATERIALIZED (SELECT id AS s, id, 0::BIGINT AS dist FROM srcs),
         |$bf
         |SELECT 12::BIGINT AS n_sources, 1::BIGINT AS incremental_matches,
         |  count(*)::BIGINT AS state_rows, sum(dist)::BIGINT AS dist_sum
         |FROM d$steps""".stripMargin
    },
    "x56_dynharmonic" ->
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |cands AS (SELECT id FROM nodes ORDER BY id LIMIT 24),
         |r(s, id, dist) AS (
         |  SELECT id, id, 0 FROM cands
         |  UNION
         |  SELECT r.s, e2.dst, r.dist+1 FROM r JOIN sym e2 ON e2.src=r.id
         |  WHERE r.dist < 30),
         |dd AS (SELECT s, id, min(dist) AS dist FROM r GROUP BY s, id),
         |hh AS (SELECT s AS id, sum(1.0/dist) AS harm FROM dd WHERE dist > 0 GROUP BY s),
         |t AS (SELECT row_number() OVER (ORDER BY harm DESC, id ASC)::BIGINT AS rank,
         |        id, round(harm, 6) AS h FROM hh)
         |SELECT 24::BIGINT AS n_candidates, 5::BIGINT AS k,
         |  1::BIGINT AS topk_matches, rank, id, h FROM t WHERE rank <= 5""".stripMargin,
    "x49_dynapsp" ->
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |srcs AS (SELECT id FROM nodes ORDER BY id LIMIT 24),
         |r(s, id, dist) AS (
         |  SELECT id, id, 0 FROM srcs
         |  UNION
         |  SELECT r.s, e2.dst, r.dist+1 FROM r JOIN sym e2 ON e2.src=r.id
         |  WHERE r.dist < 30),
         |dd AS (SELECT s, id, min(dist) AS dist FROM r GROUP BY s, id)
         |SELECT 24::BIGINT AS n_sources, 5::BIGINT AS inserted_edges,
         |  1::BIGINT AS incremental_matches,
         |  count(*)::BIGINT AS state_rows, sum(dist)::BIGINT AS dist_sum
         |FROM dd""".stripMargin,
    "x50_dynbet" -> {
      // σ layered DP (x18/x58 shape) over the same 24 lowest-id sources,
      // then the one-node pair-dependency formula: B(x) = ½ Σ_{s,t∈srcs,
      // s≠t≠x, d(s,x)+d(x,t)=d(s,t)} σ(s,x)·σ(x,t)/σ(s,t)
      val depth = 20
      val sigLevels = (1 to depth).map { k =>
        s"""sg$k AS MATERIALIZED (
           |  SELECT d.s, d.id, sum(sp.sigma) AS sigma
           |  FROM dm d JOIN symm ee ON ee.dst = d.id
           |  JOIN sg${k - 1} sp ON sp.s = d.s AND sp.id = ee.src
           |  JOIN dm dp ON dp.s = d.s AND dp.id = ee.src AND dp.dist = ${k - 1}
           |  WHERE d.dist = $k GROUP BY d.s, d.id)""".stripMargin
      }.mkString(",\n")
      val allSig = (0 to depth).map(k => s"SELECT * FROM sg$k").mkString(" UNION ALL ")
      s"""WITH RECURSIVE $graphCte,
         |symm AS MATERIALIZED (SELECT src, dst FROM sym),
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |srcs AS (SELECT id FROM nodes ORDER BY id LIMIT 24),
         |reach(s, id, dist) AS (
         |  SELECT id, id, 0 FROM srcs
         |  UNION
         |  SELECT r.s, e2.dst, r.dist+1 FROM reach r JOIN symm e2 ON e2.src=r.id
         |  WHERE r.dist < $depth),
         |dm AS MATERIALIZED (SELECT s, id, min(dist) AS dist FROM reach GROUP BY s, id),
         |sg0 AS MATERIALIZED (SELECT s, id, 1::HUGEINT AS sigma FROM dm WHERE dist = 0),
         |$sigLevels,
         |sig AS MATERIALIZED ($allSig),
         |ds AS MATERIALIZED (
         |  SELECT sig.s, sig.id, dm.dist, sig.sigma::DOUBLE AS sigma
         |  FROM sig JOIN dm ON dm.s = sig.s AND dm.id = sig.id),
         |focus AS (
         |  SELECT l.id FROM srcs l JOIN symm ON symm.src = l.id
         |  GROUP BY l.id ORDER BY count(*) DESC, l.id ASC LIMIT 1),
         |bx AS (
         |  SELECT coalesce(sum(sx.sigma * tx.sigma / st.sigma), 0.0) / 2.0 AS b
         |  FROM ds st
         |  JOIN ds sx ON sx.s = st.s AND sx.id = (SELECT id FROM focus)
         |  JOIN ds tx ON tx.s = st.id AND tx.id = (SELECT id FROM focus)
         |  WHERE st.id IN (SELECT id FROM srcs)
         |    AND st.s <> st.id
         |    AND st.s <> (SELECT id FROM focus) AND st.id <> (SELECT id FROM focus)
         |    AND sx.dist + tx.dist = st.dist)
         |SELECT (SELECT id FROM focus) AS focus, 1::BIGINT AS nonneg,
         |  1::BIGINT AS leaf_zero, round((SELECT b FROM bx), 4) AS bx""".stripMargin
    },
    "x51_growshrink" ->
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |grp AS (SELECT id FROM nodes ORDER BY id LIMIT 4),
         |r(id, dist) AS (
         |  SELECT id, 0 FROM grp
         |  UNION
         |  SELECT e2.dst, r.dist+1 FROM r JOIN sym e2 ON e2.src=r.id WHERE r.dist < 30),
         |dd AS (SELECT id, min(dist) AS dist FROM r GROUP BY id)
         |SELECT 4::BIGINT AS group_size, 1::BIGINT AS farness_improved_or_equal,
         |  sum(dist)::BIGINT AS init_farness FROM dd""".stripMargin,
    "x52_approxcloseness" ->
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |probes AS (SELECT id FROM nodes ORDER BY id LIMIT 5),
         |r(s, id, dist) AS (
         |  SELECT id, id, 0 FROM probes
         |  UNION
         |  SELECT r.s, e2.dst, r.dist+1 FROM r JOIN sym e2 ON e2.src=r.id
         |  WHERE r.dist < 30),
         |dd AS (SELECT s, id, min(dist) AS dist FROM r GROUP BY s, id)
         |SELECT 5::BIGINT AS n_probes, 1::BIGINT AS err_ok,
         |  s AS id, round(count(*)*1.0/sum(dist), 6) AS exact_closeness
         |FROM dd WHERE id <> s GROUP BY s""".stripMargin,
    "x63_approxsplit" ->
      // label-prop CC re-derives the largest component and its 8
      // lowest-id probes; recursive-CTE BFS re-derives each probe's
      // exact closeness from scratch
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |c(id, lbl) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e2.dst, c.lbl FROM c JOIN sym e2 ON e2.src = c.id),
         |comp AS MATERIALIZED (SELECT id, min(lbl) AS comp FROM c GROUP BY id),
         |big AS (SELECT comp AS b FROM comp GROUP BY comp
         |        ORDER BY count(*) DESC, comp ASC LIMIT 1),
         |sub AS MATERIALIZED (SELECT id FROM comp WHERE comp = (SELECT b FROM big)),
         |probes AS (SELECT id FROM sub ORDER BY id LIMIT 8),
         |r(s, id, dist) AS (
         |  SELECT id, id, 0 FROM probes
         |  UNION
         |  SELECT r.s, e2.dst, r.dist+1 FROM r JOIN sym e2 ON e2.src=r.id
         |  WHERE r.dist < 30),
         |dd AS (SELECT s, id, min(dist) AS dist FROM r GROUP BY s, id)
         |SELECT s AS id, round(count(*)*1.0/sum(dist), 6) AS exact_closeness,
         |  (SELECT count(*) FROM sub)::BIGINT AS n_sub,
         |  24::BIGINT AS n_samples, 8::BIGINT AS n_probes,
         |  0::BIGINT AS inexact_samples, 1::BIGINT AS err_ok
         |FROM dd WHERE id <> s GROUP BY s""".stripMargin,
    "x46_kpath" ->
      s"""WITH $graphCte,
         |nodes AS (SELECT count(*)::BIGINT AS n FROM (SELECT DISTINCT src FROM sym)),
         |edges AS (SELECT count(*)::BIGINT AS m FROM e),
         |budget AS (
         |  SELECT n, m, greatest(1, floor(ln(n + m)))::BIGINT AS k FROM nodes, edges)
         |SELECT n AS n_nodes, m AS m_edges, k AS k_walk,
         |  greatest(1, floor(2.0 * k * k * pow(n, 0.6) * ln(n)))::BIGINT AS default_trials,
         |  0::BIGINT AS neg_scores, 1::BIGINT AS hub_signal
         |FROM budget""".stripMargin,
    "x47_complexpaths" ->
      s"""WITH $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym)
         |SELECT id AS s, 0::BIGINT AS weak_adopters, 0::BIGINT AS neg_plci,
         |  0::BIGINT AS over_reached
         |FROM nodes ORDER BY id LIMIT 5""".stripMargin,
    "x1_mxv" ->
      s"""WITH $graphCte
         |SELECT sym.src AS i, round(sum(sym.c * d.d * 1.0), 6) AS v
         |FROM sym JOIN deg d ON d.id = sym.dst GROUP BY sym.src""".stripMargin,
    "x2_mxv_minplus" ->
      s"""WITH $graphCte
         |SELECT src AS i, round(min(c + 0.0), 6) AS v FROM sym GROUP BY src""".stripMargin,
    "x3_laplacian" ->
      s"""WITH $graphCte,
         |a AS (SELECT src AS i, dst AS j, -(c*1.0) AS v FROM sym),
         |d AS (SELECT src AS i, src AS j, sum(c*1.0) AS v FROM sym GROUP BY src),
         |l AS (SELECT i, j, sum(v) AS v FROM (SELECT * FROM a UNION ALL SELECT * FROM d) GROUP BY i, j)
         |SELECT i, round(sum(v), 6) AS rowsum, count(*) AS nnz FROM l GROUP BY i""".stripMargin,
    "x4_sparsify" ->
      s"""WITH $graphCte,
         |adj AS (SELECT src, dst FROM sym),
         |cn AS (SELECT a.dst AS u, b.dst AS v, count(*) AS score
         |       FROM adj a JOIN adj b ON a.src=b.src AND a.dst < b.dst GROUP BY 1,2)
         |SELECT count(*) AS kept_edges, round(sum(e.c*1.0), 2) AS kept_weight
         |FROM e JOIN cn ON cn.u=e.src AND cn.v=e.dst WHERE cn.score >= 1""".stripMargin,
    // MSF weight via the threshold identity: W = Σ_{t=0}^{maxW-1}
    // (#comp(edges with c ≤ t) − #comp(all edges)). One recursive
    // label-prop CTE carries the threshold t as a key.
    "x5_msf" ->
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |maxw AS MATERIALIZED (SELECT max(c) AS w FROM e),
         |thr AS (SELECT g.t FROM generate_series(0, 63) AS g(t)
         |        WHERE g.t <= (SELECT w FROM maxw)),
         |lblt(t, id, comp) AS (
         |  SELECT thr.t, n.id, n.id FROM nodes n, thr
         |  UNION
         |  SELECT l.t, s.dst, l.comp FROM lblt l JOIN sym s
         |    ON s.src = l.id AND s.c <= l.t WHERE l.comp < s.dst),
         |cct AS MATERIALIZED (SELECT t, id, min(comp) AS comp FROM lblt GROUP BY t, id),
         |ct AS MATERIALIZED (SELECT t, count(DISTINCT comp) AS c FROM cct GROUP BY t),
         |cfull AS MATERIALIZED (SELECT c FROM ct WHERE t = (SELECT w FROM maxw))
         |SELECT (SELECT count(*) FROM nodes) AS n_nodes,
         |  (SELECT c FROM cfull)::BIGINT AS n_components,
         |  ((SELECT count(*) FROM nodes) - (SELECT c FROM cfull))::BIGINT AS n_forest_edges,
         |  (SELECT sum(ct.c - (SELECT c FROM cfull))
         |   FROM ct WHERE ct.t < (SELECT w FROM maxw))::BIGINT AS total_weight""".stripMargin,
    "x6_matching" ->
      s"""WITH $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym)
         |SELECT count(*) AS n_nodes, 0::BIGINT AS dup_nodes,
         |  0::BIGINT AS non_edge_pairs, 0::BIGINT AS unmatched_edge_pairs
         |FROM nodes""".stripMargin,
    "x7_mis" ->
      s"""WITH $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym)
         |SELECT count(*) AS n_nodes, 0::BIGINT AS independence_violations,
         |  0::BIGINT AS uncovered_nodes
         |FROM nodes""".stripMargin,
    "x29_scd" ->
      s"""WITH $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym)
         |SELECT (SELECT min(id) FROM nodes) AS seed, 1::BIGINT AS contains_seed,
         |  1::BIGINT AS size_ok, 1::BIGINT AS connected""".stripMargin,
    "x28_bmatching" ->
      s"""WITH $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym)
         |SELECT count(*) AS n_nodes, 0::BIGINT AS over_capacity,
         |  0::BIGINT AS non_edge_pairs, 0::BIGINT AS duplicate_pairs
         |FROM nodes""".stripMargin,
    "x83_dynbsuitor" ->
      s"""WITH $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym)
         |SELECT count(*) AS n_nodes, 0::BIGINT AS over_capacity,
         |  0::BIGINT AS non_edge_pairs, 1::BIGINT AS insert_equals_scratch
         |FROM nodes""".stripMargin,
    "x62_pathgrow" ->
      s"""WITH $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym)
         |SELECT count(*) AS n_nodes, 0::BIGINT AS reused_nodes,
         |  0::BIGINT AS non_edge_pairs, 1::BIGINT AS non_empty,
         |  1::BIGINT AS half_approx_vs_suitor
         |FROM nodes""".stripMargin,
    "x8_anf" ->
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |reach(s, id, dist) AS (
         |  SELECT id, id, 0 FROM nodes
         |  UNION
         |  SELECT r.s, e2.dst, r.dist+1 FROM reach r JOIN sym e2 ON e2.src=r.id WHERE r.dist < 3),
         |d AS (SELECT s, id, min(dist) AS dist FROM reach GROUP BY s, id),
         |hh AS (SELECT g.h FROM generate_series(0, 3) AS g(h))
         |SELECT hh.h, (SELECT count(*) FROM d WHERE d.dist <= hh.h)::BIGINT AS exact_nf,
         |  1::BIGINT AS sketch_ok
         |FROM hh""".stripMargin,
    "x9_generators" ->
      """SELECT * FROM (VALUES
        | ('er', 0::BIGINT, 1::BIGINT),
        | ('ws', 0::BIGINT, 1::BIGINT),
        | ('rmat', 0::BIGINT, 1::BIGINT),
        | ('ba', 0::BIGINT, 1::BIGINT),
        | ('dps', 0::BIGINT, 1::BIGINT)) AS t(gen, bad_rows, m_in_range)""".stripMargin,
    "x12_features" ->
      s"""WITH $mediaDimsCte
         |SELECT kind, count(*) AS n,
         |  sum(CASE kind WHEN 'image' THEN 54 + ((3*w+3)//4*4)*h
         |    WHEN 'audio' THEN 44 + 2*ns
         |    ELSE 16 + nf*w*h*3 END)::BIGINT AS total_bytes,
         |  sum(CASE kind WHEN 'audio' THEN 8000 ELSE w END)::BIGINT AS sum_f0,
         |  sum(CASE kind WHEN 'image' THEN w*h WHEN 'audio' THEN ns
         |    ELSE nf END)::BIGINT AS sum_units,
         |  1::BIGINT AS decoded_dims_ok
         |FROM m GROUP BY 1""".stripMargin,
    "x15_walks" ->
      s"""WITH $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym)
         |SELECT g.s::BIGINT AS step, (SELECT count(*) FROM nodes) AS n,
         |  0::BIGINT AS invalid_transitions
         |FROM generate_series(0, 3) AS g(s)""".stripMargin,
    "x26_edgeswitch" ->
      s"""WITH $graphCte,
         |dg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)
         |SELECT d AS degree, count(*) AS n_nodes, 1::BIGINT AS some_edges_changed
         |FROM dg GROUP BY d""".stripMargin,
    "x25_maxflow" ->
      s"""WITH $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |two AS (SELECT id, row_number() OVER (ORDER BY id) AS rn FROM nodes)
         |SELECT (SELECT id FROM two WHERE rn = 1) AS s,
         |  (SELECT id FROM two WHERE rn = 2) AS t,
         |  1::BIGINT AS positive_flow, 1::BIGINT AS certificate_ok""".stripMargin,
    "x20_scan" ->
      s"""WITH $graphCte,
         |cn AS (SELECT a.dst AS u, b.dst AS v, count(*) AS cnt
         |       FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst
         |       GROUP BY 1, 2),
         |dg AS (SELECT src AS id, count(*) AS d FROM sym GROUP BY src)
         |SELECT e.src, e.dst,
         | round((coalesce(cn.cnt, 0) + 2.0) / sqrt((du.d + 1.0) * (dv.d + 1.0)), 6) AS score
         |FROM e LEFT JOIN cn ON cn.u = e.src AND cn.v = e.dst
         |JOIN dg du ON du.id = e.src JOIN dg dv ON dv.id = e.dst""".stripMargin,
    "x21_simmelian" ->
      s"""WITH $graphCte,
         |cn AS MATERIALIZED (SELECT a.dst AS u, b.dst AS v, count(*) AS cnt
         |       FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst
         |       GROUP BY 1, 2),
         |t AS MATERIALIZED (SELECT e.src, e.dst, coalesce(cn.cnt, 0) AS score
         |     FROM e LEFT JOIN cn ON cn.u = e.src AND cn.v = e.dst),
         |inc AS (SELECT src AS id, dst AS nbr, score FROM t
         |        UNION ALL SELECT dst, src, score FROM t),
         |strong AS MATERIALIZED (SELECT id, nbr FROM (
         |  SELECT id, nbr, row_number() OVER (PARTITION BY id
         |    ORDER BY score DESC, nbr ASC) AS rn FROM inc) WHERE rn <= 5),
         |ov AS (SELECT s1.id AS u, s2.id AS v, count(*) AS c
         |       FROM strong s1 JOIN strong s2 ON s1.nbr = s2.nbr AND s1.id < s2.id
         |       GROUP BY 1, 2)
         |SELECT t.src, t.dst, coalesce(ov.c, 0)::BIGINT AS score
         |FROM t LEFT JOIN ov ON ov.u = t.src AND ov.v = t.dst""".stripMargin,
    "x27_prefixjaccard" ->
      s"""WITH $graphCte,
         |cn AS MATERIALIZED (SELECT a.dst AS u, b.dst AS v, count(*) AS cnt
         |       FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst
         |       GROUP BY 1, 2),
         |t AS MATERIALIZED (SELECT e.src, e.dst, coalesce(cn.cnt, 0) AS score
         |     FROM e LEFT JOIN cn ON cn.u = e.src AND cn.v = e.dst),
         |inc AS (SELECT src AS id, dst AS nbr, score FROM t
         |        UNION ALL SELECT dst, src, score FROM t),
         |strong AS MATERIALIZED (SELECT id, nbr FROM (
         |  SELECT id, nbr, row_number() OVER (PARTITION BY id
         |    ORDER BY score DESC, nbr ASC) AS rn FROM inc) WHERE rn <= 5),
         |ks AS MATERIALIZED (SELECT id, count(*) AS k FROM strong GROUP BY id),
         |ov AS (SELECT s1.id AS u, s2.id AS v, count(*) AS c
         |       FROM strong s1 JOIN strong s2 ON s1.nbr = s2.nbr AND s1.id < s2.id
         |       GROUP BY 1, 2)
         |SELECT t.src, t.dst,
         |  round(coalesce(ov.c, 0) * 1.0 /
         |    (ku.k + kv.k - coalesce(ov.c, 0)), 6) AS score
         |FROM t LEFT JOIN ov ON ov.u = t.src AND ov.v = t.dst
         |JOIN ks ku ON ku.id = t.src JOIN ks kv ON kv.id = t.dst""".stripMargin,
    "x30_edgescores" ->
      s"""WITH $graphCte,
         |nn AS MATERIALIZED (SELECT count(*)*1.0 AS n FROM deg),
         |stats AS MATERIALIZED (SELECT src AS id, sum(c)*1.0 AS s2, count(*) AS d
         |        FROM sym GROUP BY 1),
         |msp AS (SELECT least(y.src, y.dst) AS src, greatest(y.src, y.dst) AS dst,
         |        max(1 - power(1 - y.c/st.s2, st.d - 1.0)) AS ms
         |        FROM sym y JOIN stats st ON st.id = y.src GROUP BY 1, 2),
         |cn AS MATERIALIZED (SELECT a.dst AS u, b.dst AS v, count(*) AS cnt
         |      FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst
         |      GROUP BY 1, 2),
         |tri AS MATERIALIZED (SELECT e.src, e.dst, coalesce(cn.cnt, 0) AS t
         |      FROM e LEFT JOIN cn ON cn.u = e.src AND cn.v = e.dst),
         |ns AS MATERIALIZED (SELECT id, sum(t) AS st FROM
         |      (SELECT src AS id, t FROM tri UNION ALL SELECT dst, t FROM tri)
         |      GROUP BY 1),
         |q AS (SELECT a.src AS u, c3.dst AS v, count(*) AS cnt
         |      FROM sym a JOIN sym b ON b.src = a.dst
         |      JOIN sym c3 ON c3.src = b.dst
         |      WHERE a.dst <> c3.dst AND b.dst <> a.src AND a.src < c3.dst
         |      GROUP BY 1, 2)
         |SELECT e.src, e.dst,
         | round(coalesce(msp.ms, 0), 6) AS ms,
         | round(CASE WHEN tri.t > 0
         |    THEN tri.t*((SELECT n FROM nn) - 2)/((du.d - 1.0)*(dv.d - 1.0))
         |   WHEN du.d = 1 OR dv.d = 1 THEN 1.0 ELSE 0.0 END, 6) AS cc,
         | round(CASE WHEN tri.t > 0 THEN tri.t/sqrt(nsu.st*nsv.st)
         |   ELSE 0.0 END, 6) AS gm,
         | coalesce(q.cnt, 0)::BIGINT AS quad
         |FROM e JOIN tri ON tri.src = e.src AND tri.dst = e.dst
         |LEFT JOIN msp ON msp.src = e.src AND msp.dst = e.dst
         |JOIN deg du ON du.id = e.src JOIN deg dv ON dv.id = e.dst
         |JOIN ns nsu ON nsu.id = e.src JOIN ns nsv ON nsv.id = e.dst
         |LEFT JOIN q ON q.u = e.src AND q.v = e.dst""".stripMargin,
    "x31_katz" -> {
      val levels = (1 to 5).map { l =>
        val prev = if (l == 1) "f0" else s"(SELECT DISTINCT s, v FROM c${l - 1})"
        s"""c$l AS MATERIALIZED (SELECT f.s, y.dst AS v,
           |  count(*)*power(0.005, $l) AS contrib
           |  FROM $prev f JOIN sym y ON y.src = f.v GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH $graphCte,
         |src8 AS MATERIALIZED (SELECT id FROM
         |  (SELECT DISTINCT src AS id FROM sym) ORDER BY id LIMIT 8),
         |f0 AS (SELECT id AS s, id AS v FROM src8),
         |$levels
         |SELECT s, v, round(sum(contrib), 12) AS katz FROM
         | (SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL
         |  SELECT * FROM c3 UNION ALL SELECT * FROM c4 UNION ALL
         |  SELECT * FROM c5)
         |GROUP BY 1, 2""".stripMargin
    },
    "x32_roc" ->
      s"""WITH $graphCte,
         |h AS MATERIALIZED (SELECT src, dst,
         |      ((src % 100003)*48271 + (dst % 100003)*16807) % 100003 AS hv
         |     FROM e),
         |test AS MATERIALIZED (SELECT src AS u, dst AS v FROM h WHERE hv < 10000),
         |tr AS MATERIALIZED (SELECT src, dst FROM h WHERE hv >= 10000),
         |trsym AS (SELECT src, dst FROM tr UNION ALL SELECT dst, src FROM tr),
         |cn AS (SELECT a.dst AS u, b.dst AS v, count(*) AS c
         |       FROM trsym a JOIN trsym b ON a.src = b.src AND a.dst < b.dst
         |       GROUP BY 1, 2),
         |lab0 AS (SELECT coalesce(cn.u, t.u) AS u, coalesce(cn.v, t.v) AS v,
         |         coalesce(cn.c, 0)*1.0 AS score,
         |         CASE WHEN t.u IS NOT NULL THEN 1 ELSE 0 END AS pos
         |        FROM cn FULL JOIN test t ON t.u = cn.u AND t.v = cn.v),
         |lab AS MATERIALIZED (SELECT l.* FROM lab0 l
         |       LEFT JOIN tr ON tr.src = l.u AND tr.dst = l.v
         |       WHERE tr.src IS NULL),
         |grp AS (SELECT score, count(*) AS cnt, sum(pos) AS npos
         |        FROM lab GROUP BY score),
         |rk AS (SELECT score, cnt, npos,
         |        coalesce(sum(cnt) OVER (ORDER BY score
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
         |       FROM grp),
         |tot AS MATERIALIZED (SELECT count(*) AS n, sum(pos) AS p FROM lab),
         |aucv AS (SELECT (sum(npos*(below + (cnt + 1.0)/2))
         |            - (SELECT p*(p + 1.0)/2 FROM tot))
         |           / ((SELECT p FROM tot)*(SELECT n - p FROM tot)) AS v FROM rk),
         |topk AS (SELECT pos FROM lab ORDER BY score DESC, u ASC, v ASC LIMIT 100)
         |SELECT (SELECT p FROM tot)::BIGINT AS n_pos,
         | (SELECT n - p FROM tot)::BIGINT AS n_neg,
         | round((SELECT v FROM aucv), 6) AS auc,
         | round((SELECT sum(pos)*1.0/count(*) FROM topk), 6) AS prec_at_k""".stripMargin,
    "x22_localdegree" ->
      s"""WITH $graphCte,
         |dg AS MATERIALIZED (SELECT src AS id, count(*) AS d FROM sym GROUP BY src),
         |ranked AS (SELECT a.src, a.dst,
         |   row_number() OVER (PARTITION BY a.src ORDER BY d2.d DESC, a.dst ASC) AS rnk,
         |   d1.d AS dself
         | FROM sym a JOIN dg d2 ON d2.id = a.dst JOIN dg d1 ON d1.id = a.src),
         |sc AS (SELECT least(src, dst) AS s, greatest(src, dst) AS t2,
         |   CASE WHEN dself <= 1 THEN 1.0 ELSE 1.0 - ln(rnk) / ln(dself) END AS v
         | FROM ranked),
         |ag AS (SELECT s, t2, max(v) AS v FROM sc GROUP BY 1, 2)
         |SELECT e.src, e.dst, round(coalesce(ag.v, 0), 6) AS score
         |FROM e LEFT JOIN ag ON ag.s = e.src AND ag.t2 = e.dst""".stripMargin,
    "x10_media" ->
      s"""WITH $mediaDimsCte
         |SELECT kind, count(*) AS n,
         |  sum(CASE kind WHEN 'image' THEN 54 + ((3*w+3)//4*4)*h
         |    WHEN 'audio' THEN 44 + 2*ns
         |    ELSE 16 + nf*w*h*3 END)::BIGINT AS total_bytes,
         |  sum(CASE kind WHEN 'image' THEN 0
         |    WHEN 'audio' THEN ns*1000//8000 ELSE nf*1000 END)::BIGINT AS total_ms
         |FROM m GROUP BY 1""".stripMargin,
    "x11_frames" ->
      s"""WITH $mediaDimsCte
         |SELECT doc_id AS media_id, nf::BIGINT AS n_frames
         |FROM m WHERE kind = 'video'""".stripMargin,
    "x16_scc" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e)
        |SELECT count(*) AS n_nodes, count(*) AS n_components FROM n""".stripMargin,
    "x13_harmonic" ->
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |srcs AS (SELECT id FROM nodes ORDER BY id LIMIT 5),
         |reach(s, id, dist) AS (
         |  SELECT id, id, 0 FROM srcs
         |  UNION
         |  SELECT r.s, e2.dst, r.dist+1 FROM reach r JOIN sym e2 ON e2.src=r.id WHERE r.dist < 20),
         |d AS (SELECT s, id, min(dist) AS dist FROM reach GROUP BY s, id)
         |SELECT s AS id, round(sum(1.0/dist), 6) AS harmonic
         |FROM d WHERE id <> s GROUP BY s""".stripMargin,
    "x17_hublabel" ->
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |hubs AS (SELECT id FROM deg ORDER BY d DESC, id LIMIT 5),
         |reach(h, id, dist) AS (
         |  SELECT id, id, 0 FROM hubs
         |  UNION
         |  SELECT r.h, e2.dst, r.dist+1 FROM reach r JOIN sym e2 ON e2.src=r.id WHERE r.dist < 20),
         |lab AS (SELECT h, id, min(dist) AS d FROM reach GROUP BY h, id),
         |ids AS (SELECT id FROM nodes ORDER BY id LIMIT 10),
         |pairs AS (SELECT a.id AS u, b.id AS v FROM ids a JOIN ids b ON a.id < b.id)
         |SELECT u, v, min(la.d + lb.d)::BIGINT AS dist
         |FROM pairs JOIN lab la ON la.id = u JOIN lab lb ON lb.id = v AND la.h = lb.h
         |GROUP BY u, v""".stripMargin,
    "x60_dynhublabel" ->
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |hubs AS (SELECT id FROM deg ORDER BY d DESC, id LIMIT 5),
         |reach(h, id, dist) AS (
         |  SELECT id, id, 0 FROM hubs
         |  UNION
         |  SELECT r.h, e2.dst, r.dist+1 FROM reach r JOIN sym e2 ON e2.src=r.id WHERE r.dist < 20),
         |lab AS (SELECT h, id, min(dist) AS d FROM reach GROUP BY h, id),
         |ids AS (SELECT id FROM nodes ORDER BY id LIMIT 10),
         |pairs AS (SELECT a.id AS u, b.id AS v FROM ids a JOIN ids b ON a.id < b.id)
         |SELECT u, v, min(la.d + lb.d)::BIGINT AS dist
         |FROM pairs JOIN lab la ON la.id = u JOIN lab lb ON lb.id = v AND la.h = lb.h
         |GROUP BY u, v""".stripMargin,
    "x61_topcloseness" ->
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |reach(s, id, dist) AS (
         |  SELECT id, id, 0 FROM nodes
         |  UNION
         |  SELECT r.s, e2.dst, r.dist+1 FROM reach r JOIN sym e2 ON e2.src=r.id WHERE r.dist < 20),
         |d AS (SELECT s, id, min(dist) AS dist FROM reach GROUP BY s, id),
         |c AS (SELECT s AS id, count(*)*1.0 / sum(dist) AS c
         |      FROM d WHERE id <> s GROUP BY s)
         |SELECT id, round(c, 6) AS closeness FROM c
         |ORDER BY c DESC, id LIMIT 5""".stripMargin,
    "x14_ecc" ->
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |srcs AS (SELECT id FROM nodes ORDER BY id LIMIT 5),
         |reach(s, id, dist) AS (
         |  SELECT id, id, 0 FROM srcs
         |  UNION
         |  SELECT r.s, e2.dst, r.dist+1 FROM reach r JOIN sym e2 ON e2.src=r.id WHERE r.dist < 20),
         |d AS (SELECT s, id, min(dist) AS dist FROM reach GROUP BY s, id)
         |SELECT s AS id, max(dist)::BIGINT AS ecc, count(*) AS reached
         |FROM d GROUP BY s""".stripMargin,
    "x33_bidir" ->
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |two AS (SELECT id, row_number() OVER (ORDER BY id) AS rn FROM nodes),
         |reach(id, d) AS (
         |  SELECT id, 0 FROM two WHERE rn = 1
         |  UNION
         |  SELECT e2.dst, r.d+1 FROM reach r JOIN sym e2 ON e2.src=r.id WHERE r.d < 20)
         |SELECT (SELECT id FROM two WHERE rn = 1) AS s,
         |  (SELECT id FROM two WHERE rn = 2) AS t,
         |  min(d)::BIGINT AS dist
         |FROM reach WHERE id = (SELECT id FROM two WHERE rn = 2)""".stripMargin,
    "x34_simplepaths" ->
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |two AS (SELECT id, row_number() OVER (ORDER BY id) AS rn FROM nodes),
         |paths(id, path, len) AS (
         |  SELECT id, [id], 0 FROM two WHERE rn = 1
         |  UNION ALL
         |  SELECT e2.dst, list_append(p.path, e2.dst), p.len + 1
         |  FROM paths p JOIN sym e2 ON e2.src = p.id
         |  WHERE NOT list_contains(p.path, e2.dst) AND p.len < 4
         |    AND p.id <> (SELECT id FROM two WHERE rn = 2))
         |SELECT count(*)::BIGINT AS n_paths,
         |  coalesce(sum(len), 0)::BIGINT AS total_len
         |FROM paths WHERE id = (SELECT id FROM two WHERE rn = 2)""".stripMargin,
    "x35_bicc" ->
      // DFS-free re-derivation: a bridge is an edge whose removal
      // disconnects its endpoints (per-edge removal reachability); an
      // articulation point is a vertex whose removal disconnects some
      // neighbor pair (per-vertex removal BFS from the minimum
      // neighbor). Both recursive CTEs run to their natural fixpoint.
      s"""WITH RECURSIVE $graphCte,
         |edges AS MATERIALIZED (SELECT src AS u, dst AS v FROM e),
         |br(u, v, id) AS (
         |  SELECT u, v, u FROM edges
         |  UNION
         |  SELECT r.u, r.v, s.dst FROM br r JOIN sym s ON s.src = r.id
         |  WHERE NOT (least(s.src, s.dst) = r.u AND greatest(s.src, s.dst) = r.v)),
         |bridges AS (
         |  SELECT e1.u, e1.v FROM edges e1
         |  WHERE NOT EXISTS (SELECT 1 FROM br
         |    WHERE br.u = e1.u AND br.v = e1.v AND br.id = e1.v)),
         |cand AS (SELECT id AS x FROM deg WHERE d >= 2),
         |startn AS (SELECT c2.x, min(s.dst) AS st
         |  FROM cand c2 JOIN sym s ON s.src = c2.x GROUP BY c2.x),
         |ar(x, id) AS (
         |  SELECT x, st FROM startn
         |  UNION
         |  SELECT r.x, s.dst FROM ar r JOIN sym s ON s.src = r.id
         |  WHERE s.dst <> r.x AND r.id <> r.x),
         |artic AS (
         |  SELECT DISTINCT c2.x FROM cand c2 JOIN sym s ON s.src = c2.x
         |  WHERE NOT EXISTS (SELECT 1 FROM ar WHERE ar.x = c2.x AND ar.id = s.dst))
         |SELECT (SELECT count(*) FROM bridges)::BIGINT AS n_bridges,
         |  (SELECT count(*) FROM artic)::BIGINT AS n_artic""".stripMargin,
    "x39_kadabra" -> brandes64Sql(nSources = 64, depth = 16, topK = 5),
    "x43_localsim" ->
      s"""WITH $graphCte,
         |cn AS MATERIALIZED (SELECT a.dst AS u, b.dst AS v, count(*) AS cnt
         |      FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst
         |      GROUP BY 1, 2),
         |jac AS MATERIALIZED (SELECT e.src, e.dst,
         |    coalesce(cn.cnt, 0)*1.0 / (du.d + dv.d - coalesce(cn.cnt, 0)) AS sim
         |  FROM e LEFT JOIN cn ON cn.u = e.src AND cn.v = e.dst
         |  JOIN deg du ON du.id = e.src JOIN deg dv ON dv.id = e.dst),
         |symj AS (SELECT src AS u, dst AS v, sim FROM jac
         |         UNION ALL SELECT dst, src, sim FROM jac),
         |rk AS (SELECT u, v, sim,
         |    row_number() OVER (PARTITION BY u ORDER BY sim DESC, v ASC) AS rnk
         |  FROM symj),
         |ex AS (SELECT u, v,
         |    CASE WHEN dg.d > 1 THEN 1 - ln(rnk)/ln(dg.d) ELSE 1.0 END AS ee
         |  FROM rk JOIN deg dg ON dg.id = rk.u)
         |SELECT least(u, v) AS src, greatest(u, v) AS dst,
         |  round(max(ee), 6) AS score
         |FROM ex GROUP BY 1, 2""".stripMargin,
    "x44_forestfire" ->
      """SELECT 1::BIGINT AS covers_edges, 1::BIGINT AS nonnegative,
        |  1::BIGINT AS some_burnt""".stripMargin,
    "x45_dynpubweb" ->
      """SELECT 1::BIGINT AS has_adds, 1::BIGINT AS first_step_pure,
        |  1::BIGINT AS replay_ok""".stripMargin,
    "x69_dynhyperbolic" ->
      """SELECT 1::BIGINT AS initial_matches_static, 1::BIGINT AS replay_ok,
        |  1::BIGINT AS has_removals""".stripMargin,
    "x75_readers" ->
      // character-level re-parse of the same interchange fixtures:
      // KONECT lines are "u v w" 1-based with % comments; GML edges are
      // paired source/target lines in document order; MatrixMarket is
      // 1-based "i j v" after one dims line, symmetric mirror off-diag
      raw"""WITH kraw AS (SELECT trim(l) AS l
        |  FROM read_csv('/root/reference/input/foodweb-baydry.konect',
        |    header=false, delim='|', quote='', columns={'l': 'VARCHAR'})),
        |klines AS (SELECT l FROM kraw WHERE left(l, 1) <> '%' AND length(l) > 0),
        |kedges AS (SELECT
        |    cast(regexp_extract(l, '^(\S+)\s+(\S+)\s+(\S+)', 1) AS BIGINT) - 1 AS u,
        |    cast(regexp_extract(l, '^(\S+)\s+(\S+)\s+(\S+)', 2) AS BIGINT) - 1 AS v,
        |    cast(regexp_extract(l, '^(\S+)\s+(\S+)\s+(\S+)', 3) AS DOUBLE) AS w
        |  FROM klines),
        |kverts AS (SELECT DISTINCT u AS id FROM kedges UNION SELECT DISTINCT v FROM kedges),
        |kout AS (SELECT u AS id, count(*) AS deg, sum(w) AS wdeg FROM kedges GROUP BY u),
        |kdeg AS (SELECT 'konect' AS source, n.id, coalesce(o.deg, 0) AS deg,
        |    round(coalesce(o.wdeg, 0), 4) AS wdeg
        |  FROM kverts n LEFT JOIN kout o ON o.id = n.id),
        |graw AS (SELECT row_number() OVER () AS ln, trim(l) AS l
        |  FROM read_csv('/root/reference/input/jazz2_undirected.gml',
        |    header=false, delim='|', quote='', columns={'l': 'VARCHAR'})),
        |gnodes AS (SELECT cast(regexp_extract(l, '^id (\d+)', 1) AS BIGINT) AS id
        |  FROM graw WHERE regexp_matches(l, '^id \d+')),
        |gsrc AS (SELECT row_number() OVER (ORDER BY ln) AS k,
        |    cast(regexp_extract(l, '^source (\d+)', 1) AS BIGINT) AS u
        |  FROM graw WHERE regexp_matches(l, '^source \d+')),
        |gtgt AS (SELECT row_number() OVER (ORDER BY ln) AS k,
        |    cast(regexp_extract(l, '^target (\d+)', 1) AS BIGINT) AS v
        |  FROM graw WHERE regexp_matches(l, '^target \d+')),
        |gedges AS (SELECT u, v FROM gsrc JOIN gtgt USING (k)),
        |gsym AS (SELECT u, v FROM gedges UNION ALL SELECT v AS u, u AS v FROM gedges),
        |gdeg AS (SELECT 'gml' AS source, n.id, count(s.u) AS deg,
        |    round(count(s.u)::DOUBLE, 4) AS wdeg
        |  FROM gnodes n LEFT JOIN gsym s ON s.u = n.id GROUP BY n.id),
        |mraw AS (SELECT row_number() OVER () AS ln, trim(l) AS l
        |  FROM read_csv('/root/reference/input/LFAT5.mtx',
        |    header=false, delim='|', quote='', columns={'l': 'VARCHAR'})),
        |mdata AS (SELECT row_number() OVER (ORDER BY ln) AS k, l FROM mraw
        |  WHERE left(l, 1) <> '%' AND length(l) > 0),
        |mentries AS (SELECT
        |    cast(regexp_extract(l, '^(\S+)\s+(\S+)\s+(\S+)', 1) AS BIGINT) - 1 AS i,
        |    cast(regexp_extract(l, '^(\S+)\s+(\S+)\s+(\S+)', 2) AS BIGINT) - 1 AS j,
        |    cast(regexp_extract(l, '^(\S+)\s+(\S+)\s+(\S+)', 3) AS DOUBLE) AS v
        |  FROM mdata WHERE k > 1),
        |mmir AS (SELECT i, j, v FROM mentries
        |  UNION ALL SELECT j AS i, i AS j, v FROM mentries WHERE i <> j),
        |mdeg AS (SELECT 'mtx' AS source, i AS id, count(*) AS deg,
        |    round(sum(v), 4) AS wdeg FROM mmir GROUP BY i)
        |SELECT * FROM kdeg UNION ALL SELECT * FROM gdeg UNION ALL SELECT * FROM mdeg""".stripMargin,
    "x77_nkbg" ->
      // text twin of the binary fixture: the engine read nkbg003, the
      // oracle re-parses the KONECT file the reference generated it from
      raw"""WITH kraw AS (SELECT trim(l) AS l
        |  FROM read_csv('/root/reference/input/foodweb-baydry.konect',
        |    header=false, delim='|', quote='', columns={'l': 'VARCHAR'})),
        |klines AS (SELECT l FROM kraw WHERE left(l, 1) <> '%' AND length(l) > 0),
        |kedges AS (SELECT
        |    cast(regexp_extract(l, '^(\S+)\s+(\S+)\s+(\S+)', 1) AS BIGINT) - 1 AS u,
        |    cast(regexp_extract(l, '^(\S+)\s+(\S+)\s+(\S+)', 2) AS BIGINT) - 1 AS v,
        |    cast(regexp_extract(l, '^(\S+)\s+(\S+)\s+(\S+)', 3) AS DOUBLE) AS w
        |  FROM klines),
        |kverts AS (SELECT DISTINCT u AS id FROM kedges UNION SELECT DISTINCT v FROM kedges),
        |kout AS (SELECT u AS id, count(*) AS deg, sum(w) AS wdeg FROM kedges GROUP BY u)
        |SELECT n.id, coalesce(o.deg, 0) AS deg, round(coalesce(o.wdeg, 0), 4) AS wdeg
        |FROM kverts n LEFT JOIN kout o ON o.id = n.id""".stripMargin,
    "x81_binformats" ->
      // the degree table of the minShared=2 part graph, re-derived from
      // parquet: every id that survives the two binary graph codecs and
      // the binary partition codec must carry its original degree
      s"""WITH $graphCte
         |SELECT id AS part_id, d AS deg, d % 8 AS comm FROM deg""".stripMargin,
    "x82_fixtures" ->
      // character-level re-derivation from the TEXT twins: METIS line i
      // lists node i−2's neighbors (degree = token count; both fixtures
      // verified blank-line-free), MatrixMarket is 1-based (i, j, v)
      raw"""WITH traw AS (SELECT row_number() OVER () AS ln, trim(l) AS l
        |  FROM read_csv('/root/reference/input/celegans_metabolic.graph',
        |    header=false, delim='|', quote='', columns={'l': 'VARCHAR'})),
        |tdeg AS (SELECT 'thrill' AS source, ln - 2 AS id,
        |    len(string_split_regex(l, '\s+'))::BIGINT AS deg,
        |    len(string_split_regex(l, '\s+'))::DOUBLE AS wdeg
        |  FROM traw WHERE ln > 1),
        |praw AS (SELECT row_number() OVER () AS ln, trim(l) AS l
        |  FROM read_csv('/root/reference/input/power.graph',
        |    header=false, delim='|', quote='', columns={'l': 'VARCHAR'})),
        |pdeg AS (SELECT 'gt' AS source, ln - 2 AS id,
        |    len(string_split_regex(l, '\s+'))::BIGINT AS deg,
        |    len(string_split_regex(l, '\s+'))::DOUBLE AS wdeg
        |  FROM praw WHERE ln > 1),
        |mraw AS (SELECT row_number() OVER () AS ln, trim(l) AS l
        |  FROM read_csv('/root/reference/input/tiny_05.matrixmarket',
        |    header=false, delim='|', quote='', columns={'l': 'VARCHAR'})),
        |mdata AS (SELECT row_number() OVER (ORDER BY ln) AS k, l FROM mraw
        |  WHERE left(l, 1) <> '%' AND length(l) > 0),
        |mentries AS (SELECT
        |    cast(regexp_extract(l, '^(\S+)\s+(\S+)\s+(\S+)', 1) AS BIGINT) - 1 AS i,
        |    cast(regexp_extract(l, '^(\S+)\s+(\S+)\s+(\S+)', 3) AS DOUBLE) AS v
        |  FROM mdata WHERE k > 1),
        |rdeg AS (SELECT 'rb' AS source, i AS id, count(*)::BIGINT AS deg,
        |    round(sum(v), 4) AS wdeg FROM mentries GROUP BY i)
        |SELECT * FROM tdeg UNION ALL SELECT * FROM pdeg
        |UNION ALL SELECT * FROM rdeg""".stripMargin,
    "x84_gexf" ->
      raw"""WITH raw AS (SELECT row_number() OVER () AS ln, trim(l) AS l
        |  FROM read_csv('/root/reference/input/staticTest.gexf',
        |    header=false, delim='|', quote='', columns={'l': 'VARCHAR'})),
        |nodes AS (SELECT row_number() OVER (ORDER BY ln) - 1 AS id,
        |    regexp_extract(l, '<node id="([^"]+)"', 1) AS orig
        |  FROM raw WHERE regexp_matches(l, '^<node id="')),
        |edges AS (SELECT
        |    regexp_extract(l, 'source="([^"]+)"', 1) AS su,
        |    regexp_extract(l, 'target="([^"]+)"', 1) AS tv
        |  FROM raw WHERE regexp_matches(l, '^<edge ')),
        |mapped AS (SELECT nu.id AS u, nv.id AS v FROM edges
        |  JOIN nodes nu ON nu.orig = edges.su
        |  JOIN nodes nv ON nv.orig = edges.tv),
        |inc AS (SELECT u AS id FROM mapped UNION ALL SELECT v FROM mapped),
        |dg AS (SELECT id, count(*) AS deg FROM inc GROUP BY id)
        |SELECT n.id, coalesce(dg.deg, 0) AS deg
        |FROM nodes n LEFT JOIN dg ON dg.id = n.id""".stripMargin,
    "x76_fw" -> {
      // identical min-plus closure, integer-composite encoded:
      // v = dist*512 + hops, min(v) = lexicographic (dist, hops) min —
      // the fewest-hops tie-break — because retained hops ≤ n-1 < 256
      // (positive weights ⇒ minimal walks are simple) so candidate
      // sums stay < 512. 8 squarings cover 2^8 = 256 ≥ any simple path.
      val sqs = (1 to 8).map { k =>
        s"""d$k AS MATERIALIZED (SELECT a.i, b.j, min(a.v + b.v) AS v
           |  FROM d${k - 1} a JOIN d${k - 1} b ON a.j = b.i GROUP BY a.i, b.j)""".stripMargin
      }.mkString(",\n")
      s"""WITH $graphCte,
         |keep AS (SELECT id FROM deg ORDER BY d DESC, id LIMIT 120),
         |es AS (SELECT s.src, s.dst, s.c FROM sym s
         |  JOIN keep a ON a.id = s.src JOIN keep b ON b.id = s.dst),
         |d0 AS (SELECT i, j, min(v) AS v FROM (
         |    SELECT src AS i, dst AS j, c * 512 + 1 AS v FROM es
         |    UNION ALL SELECT id AS i, id AS j, 0 AS v FROM keep) GROUP BY i, j),
         |$sqs
         |SELECT i AS s, j AS t, (v // 512)::BIGINT AS dist,
         |  (v % 512)::BIGINT AS hops FROM d8""".stripMargin
    },
    "x80_maxent" ->
      // LCC size via min-root reachability; |S| = distinct ordered pairs
      // at hop distance 1 (edges) or 2 (wedges) inside the LCC; the
      // layout gates are Spark-side
      s"""WITH RECURSIVE $graphCte,
         |symm AS MATERIALIZED (SELECT src, dst FROM sym),
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |reach(id, root) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT s2.dst, r.root FROM reach r JOIN symm s2 ON s2.src = r.id),
         |comp AS (SELECT id, min(root) AS c FROM reach GROUP BY id),
         |csz AS (SELECT c, count(*) AS n FROM comp GROUP BY c),
         |lcc AS (SELECT id FROM comp
         |        WHERE c = (SELECT c FROM csz ORDER BY n DESC, c ASC LIMIT 1)),
         |p1 AS (SELECT src AS i, dst AS j FROM symm
         |       WHERE src IN (SELECT id FROM lcc)),
         |p2 AS (SELECT DISTINCT a.src AS i, b.dst AS j
         |       FROM symm a JOIN symm b ON a.dst = b.src
         |       WHERE a.src <> b.dst AND a.src IN (SELECT id FROM lcc)),
         |-- explicit dedup: under WITH RECURSIVE, DuckDB 1.0 treats a
         |-- CTE-body top-level UNION as recursive plumbing and skips
         |-- the dedup, so UNION ALL + DISTINCT it is
         |sset AS (SELECT DISTINCT i, j FROM
         |  (SELECT i, j FROM p1 UNION ALL SELECT i, j FROM p2))
         |SELECT (SELECT count(*) FROM lcc)::BIGINT AS n,
         |  (SELECT count(*) FROM sset)::BIGINT AS s_pairs,
         |  1::BIGINT AS improved_ok, 1::BIGINT AS finite_ok,
         |  1::BIGINT AS solves_ok""".stripMargin,
    "x79_pivotmds" ->
      // the layout's input: BFS distances from the 24 lowest-id nodes,
      // re-derived with a recursive CTE; MDS gates are Spark-side
      s"""WITH RECURSIVE $graphCte,
         |symm AS MATERIALIZED (SELECT src, dst FROM sym),
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |srcs AS (SELECT id FROM nodes ORDER BY id LIMIT 24),
         |reach(s, id, dist) AS (
         |  SELECT id, id, 0 FROM srcs
         |  UNION
         |  SELECT r.s, e2.dst, r.dist+1 FROM reach r JOIN symm e2 ON e2.src = r.id
         |  WHERE r.dist < 40),
         |dm AS (SELECT s, id, min(dist) AS dist FROM reach GROUP BY s, id)
         |SELECT (SELECT count(*) FROM nodes)::BIGINT AS n,
         |  (SELECT count(*) FROM srcs)::BIGINT AS k,
         |  (SELECT sum(dist) FROM dm)::BIGINT AS dist_sum,
         |  1::BIGINT AS coords_ok, 1::BIGINT AS eig_ok, 1::BIGINT AS ortho_ok,
         |  1::BIGINT AS var_ok, 1::BIGINT AS topo_ok""".stripMargin,
    "x78_multigrid" ->
      // series–parallel closed form for the customer-ring effective
      // resistances: arcIn·arcOut/(arcIn+arcOut) via prefix sums over
      // the per-edge inverse weights; the mg gates are Spark-side
      // (|R_solver − R_closed| relative tolerance)
      """WITH ringw AS (
        |  SELECT row_number() OVER (ORDER BY c_custkey) - 1 AS pos,
        |         1.0 + (c_custkey % 7) AS w
        |  FROM customer),
        |tot AS (SELECT count(*) AS n, sum(1.0/w) AS total FROM ringw),
        |a1 AS (SELECT sum(1.0/w) AS arc FROM ringw
        |       WHERE pos >= 0 AND pos < (SELECT n // 2 FROM tot)),
        |a2 AS (SELECT sum(1.0/w) AS arc FROM ringw
        |       WHERE pos >= 1 AND pos < (SELECT n // 3 FROM tot))
        |SELECT (SELECT n FROM tot)::BIGINT AS n,
        |  round(a1.arc * ((SELECT total FROM tot) - a1.arc)
        |        / (SELECT total FROM tot), 6) AS r1_closed,
        |  round(a2.arc * ((SELECT total FROM tot) - a2.arc)
        |        / (SELECT total FROM tot), 6) AS r2_closed,
        |  1::BIGINT AS mg1_ok, 1::BIGINT AS mg2_ok
        |FROM a1, a2""".stripMargin,
    "x74_rmsf" ->
      // cut property on the minShared=1 graph: Kruskal heaviest-first
      // adds comps(>w) − comps(≥w) edges at weight class w; summing
      // counts and w·counts gives the (unique) maximum-forest size and
      // weight. Validity gates are Spark-side.
      """WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS c
        |      FROM op a JOIN op b ON a.l_orderkey=b.l_orderkey AND a.l_partkey<b.l_partkey
        |      GROUP BY 1,2),
        |sym AS (SELECT src, dst, c FROM e UNION ALL SELECT dst, src, c FROM e),
        |nodes AS (SELECT DISTINCT src AS id FROM sym),
        |wcls AS (SELECT DISTINCT c AS w FROM e),
        |r1(w, id, comp) AS (
        |  SELECT w.w, n.id, n.id FROM wcls w, nodes n
        |  UNION
        |  SELECT r1.w, s.dst, r1.comp FROM r1 JOIN sym s ON s.src = r1.id AND s.c > r1.w),
        |cc1 AS (SELECT w, id, min(comp) AS comp FROM r1 GROUP BY w, id),
        |above AS (SELECT w, count(DISTINCT comp) AS nc FROM cc1 GROUP BY w),
        |r2(w, id, comp) AS (
        |  SELECT w.w, n.id, n.id FROM wcls w, nodes n
        |  UNION
        |  SELECT r2.w, s.dst, r2.comp FROM r2 JOIN sym s ON s.src = r2.id AND s.c >= r2.w),
        |cc2 AS (SELECT w, id, min(comp) AS comp FROM r2 GROUP BY w, id),
        |atw AS (SELECT w, count(DISTINCT comp) AS nc FROM cc2 GROUP BY w),
        |per AS (SELECT above.w, above.nc - atw.nc AS cnt
        |        FROM above JOIN atw ON above.w = atw.w)
        |SELECT coalesce(sum(cnt), 0)::BIGINT AS rmsf_edges,
        |  coalesce(sum(w * cnt), 0)::BIGINT AS rmsf_weight,
        |  1::BIGINT AS in_umsf_ok, 1::BIGINT AS forest_ok,
        |  1::BIGINT AS seed_ok
        |FROM per""".stripMargin,
    "x73_dyngrow" ->
      // path stream counts re-derived arithmetically (nSteps = 50:
      // nSteps+1 node events, nSteps edge events); BA step-0 seed is a
      // k = 3 path (k nodes, k-1 edges); validity gates are Spark-side
      """SELECT (50 + 1)::BIGINT AS path_nodes, 50::BIGINT AS path_edges,
        |  1::BIGINT AS path_chain_ok, 3::BIGINT AS ba_step0_nodes,
        |  (3 - 1)::BIGINT AS ba_step0_edges, 1::BIGINT AS ba_touch_new_ok,
        |  1::BIGINT AS ba_targets_older_ok, 1::BIGINT AS ba_per_step_ok,
        |  1::BIGINT AS ba_deterministic""".stripMargin,
    "x70_maxcliques" ->
      s"""WITH $graphCte,
         |max2 AS (SELECT e1.src, e1.dst FROM e e1
         |  WHERE NOT EXISTS (SELECT 1 FROM sym a JOIN sym b
         |    ON a.dst = b.dst AND a.src = e1.src AND b.src = e1.dst)),
         |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c3
         |  FROM e e1 JOIN e e2 ON e2.src = e1.dst
         |  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
         |max3 AS (SELECT * FROM tri t
         |  WHERE NOT EXISTS (SELECT 1 FROM sym x JOIN sym y ON x.dst = y.dst
         |    JOIN sym z ON z.dst = y.dst
         |    WHERE x.src = t.a AND y.src = t.b AND z.src = t.c3))
         |SELECT (SELECT count(*) FROM max2)::BIGINT AS n_max2,
         |  (SELECT count(*) FROM max3)::BIGINT AS n_max3,
         |  1::BIGINT AS cliques_valid, 1::BIGINT AS maximal_ok,
         |  1::BIGINT AS edges_covered""".stripMargin,
    "x72_configmodel" ->
      s"""WITH $graphCte
         |SELECT d AS degree, count(*) AS n_nodes,
         |  1::BIGINT AS deg_exact, 1::BIGINT AS randomized
         |FROM deg GROUP BY d""".stripMargin,
    "x71_algdist" -> {
      // identical LCG init + 10 unrolled Jacobi sweeps, ω = 0.5
      val sysIdx = 0 until 4
      val init = sysIdx.map(s =>
        s"((id*1103515245 + ${12345L * (s + 1)}) % 2147483648)/2147483648.0 - 0.5 AS x$s")
        .mkString(", ")
      val steps = (1 to 10).map { k =>
        val avgs = sysIdx.map(s => s"sum(s.c*v.x$s)/sum(s.c) AS a$s").mkString(", ")
        val upd = sysIdx.map(s =>
          s"0.5*n.x$s + 0.5*coalesce(a.a$s, n.x$s) AS x$s").mkString(", ")
        s"""it$k AS MATERIALIZED (SELECT n.id, $upd
           |  FROM it${k - 1} n LEFT JOIN (
           |    SELECT s.src AS id, $avgs
           |    FROM sym s JOIN it${k - 1} v ON v.id = s.dst GROUP BY s.src) a
           |  USING (id))""".stripMargin
      }.mkString(",\n")
      val l2 = sysIdx.map(s => s"(a.x$s - b.x$s)*(a.x$s - b.x$s)").mkString(" + ")
      s"""WITH $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |it0 AS (SELECT id, $init FROM nodes),
         |$steps
         |SELECT e.src, e.dst, round(sqrt($l2), 6) AS score
         |FROM e JOIN it10 a ON a.id = e.src JOIN it10 b ON b.id = e.dst""".stripMargin
    },
    "x36_generators2" ->
      """SELECT gen, 1::BIGINT AS ok1, 1::BIGINT AS ok2 FROM (VALUES
        |  ('ring'), ('dm'), ('havelhakimi'), ('curveball'),
        |  ('pubweb'), ('mocnik'), ('forestfire')) t(gen)""".stripMargin,
    "x64_eigenvector" -> {
      // 30 unrolled weighted mat-vec products A·x over sym (weight c),
      // normalized once at the end — identical to per-step L2
      // normalization in exact arithmetic
      val iters = 30
      val levels = (1 to iters).map { k =>
        s"""v$k AS MATERIALIZED (
           |  SELECT e2.src AS id, sum(v.x * e2.c) AS x
           |  FROM sym e2 JOIN v${k - 1} v ON v.id = e2.dst GROUP BY e2.src)""".stripMargin
      }.mkString(",\n")
      s"""WITH $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |v0 AS (SELECT id, 1.0::DOUBLE AS x FROM nodes),
         |$levels,
         |nrm AS (SELECT sqrt(sum(x*x)) AS z FROM v$iters)
         |SELECT v.id, round(v.x / n.z, 6) AS score FROM v$iters v, nrm n""".stripMargin
    },
    "x65_astar" ->
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |c(id, lbl) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e2.dst, c.lbl FROM c JOIN sym e2 ON e2.src = c.id),
         |comp AS MATERIALIZED (SELECT id, min(lbl) AS comp FROM c GROUP BY id),
         |big AS (SELECT comp AS b FROM comp GROUP BY comp
         |        ORDER BY count(*) DESC, comp ASC LIMIT 1),
         |sub AS MATERIALIZED (SELECT id FROM comp WHERE comp = (SELECT b FROM big)),
         |r(id, dist) AS (
         |  SELECT id, 0 FROM (SELECT min(id) AS id FROM sub)
         |  UNION
         |  SELECT e2.dst, r.dist+1 FROM r JOIN sym e2 ON e2.src=r.id
         |  WHERE r.dist < 30),
         |dmin AS (SELECT id, min(dist) AS dist FROM r GROUP BY id)
         |SELECT (SELECT min(id) FROM sub)::BIGINT AS s, t.id::BIGINT AS t,
         |  d.dist::BIGINT AS dist
         |FROM (SELECT id FROM sub ORDER BY id LIMIT 1 OFFSET 1) t
         |JOIN dmin d ON d.id = t.id""".stripMargin,
    "x66_toposort" ->
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |r(id, d) AS (
         |  SELECT id, 0 FROM nodes WHERE id NOT IN (SELECT dst FROM e)
         |  UNION
         |  SELECT e2.dst, r.d+1 FROM r JOIN e e2 ON e2.src=r.id WHERE r.d < 500)
         |SELECT id, max(d)::BIGINT AS level FROM r GROUP BY id""".stripMargin,
    "x67_randforest" ->
      // min-label CC to fixpoint: any spanning forest has exactly n − c
      // edges, independent of the random draw
      s"""WITH RECURSIVE $graphCte,
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |r(id, comp) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT s.dst, r.comp FROM r JOIN sym s ON s.src = r.id),
         |cc AS (SELECT id, min(comp) AS comp FROM r GROUP BY id)
         |SELECT (SELECT count(*) FROM nodes)::BIGINT AS n_nodes,
         |  count(DISTINCT comp)::BIGINT AS n_components,
         |  ((SELECT count(*) FROM nodes) - count(DISTINCT comp))::BIGINT AS forest_edges,
         |  1::BIGINT AS spanning_ok, 1::BIGINT AS acyclic_ok FROM cc""".stripMargin,
    "x68_umsf" ->
      // cut-property re-derivation on the minShared=1 graph: an edge is
      // in some maximum spanning forest iff its endpoints are in
      // different components of the STRICTLY-heavier subgraph — one
      // min-label CC per distinct weight class, keyed by threshold w
      """WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS c
        |      FROM op a JOIN op b ON a.l_orderkey=b.l_orderkey AND a.l_partkey<b.l_partkey
        |      GROUP BY 1,2),
        |sym AS (SELECT src, dst, c FROM e UNION ALL SELECT dst, src, c FROM e),
        |nodes AS (SELECT DISTINCT src AS id FROM sym),
        |wcls AS (SELECT DISTINCT c AS w FROM e),
        |r(w, id, comp) AS (
        |  SELECT w.w, n.id, n.id FROM wcls w, nodes n
        |  UNION
        |  SELECT r.w, s.dst, r.comp FROM r JOIN sym s ON s.src = r.id AND s.c > r.w),
        |cc AS (SELECT w, id, min(comp) AS comp FROM r GROUP BY w, id),
        |umsf AS (SELECT e1.src, e1.dst, e1.c FROM e e1
        |  JOIN cc a ON a.w = e1.c AND a.id = e1.src
        |  JOIN cc b ON b.w = e1.c AND b.id = e1.dst
        |  WHERE a.comp <> b.comp)
        |SELECT count(*)::BIGINT AS umsf_edges, sum(c)::BIGINT AS umsf_weight,
        |  1::BIGINT AS contains_maxsf FROM umsf""".stripMargin
  )
}
