package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-clique enumeration (reference `clique/MaximalCliques.hpp:28` —
  * degeneracy-ordered Bron-Kerbosch; here the Spark-natural fixed-k
  * variant: orient every edge by (degree, id) and extend cliques one
  * ordered join per level, the same O(m·α)-style fan-out bound that
  * bounds the triangle out-lists at scale, `Triangles`).
  */
object Cliques {

  /** Edges oriented low→high by (degree, id) — each clique is
    * enumerated exactly once, and fan-out per node is bounded by the
    * degeneracy-ish ordering rather than raw degree. */
  private def oriented(g: PropertyGraph): DataFrame = {
    val e = PropertyGraph.canonicalizeUndirected(
      g.adjacency.filter(col("src") =!= col("dst"))).select("src", "dst")
    val adj = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val deg = adj.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    adj
      .join(deg.select(col("id").as("src"), col("d").as("ds")), "src")
      .join(deg.select(col("id").as("dst"), col("d").as("dd")), "dst")
      .filter(col("ds") < col("dd") ||
        (col("ds") === col("dd") && col("src") < col("dst")))
      .select("src", "dst")
  }

  /** All k-cliques as rows `(n1 … nk)` in orientation order, k ∈ 2..5.
    * Each level joins the frontier with the oriented adjacency of the
    * FIRST member and semi-joins the remaining pairs — one shuffle per
    * level, no driver-side state. */
  def cliques(g: PropertyGraph, k: Int): DataFrame = {
    require(k >= 2 && k <= 5, "k-clique join unrolled for k in 2..5")
    val o = oriented(g).persist()
    o.count()
    var cur = o.select(col("src").as("n1"), col("dst").as("n2"))
    for (level <- 3 to k) {
      val prev = (1 until level).map(i => s"n$i")
      val cand = cur.join(
        o.select(col("src").as(prev.head), col("dst").as(s"n$level")),
        prev.head)
      // the candidate must be an oriented out-neighbor of EVERY member
      cur = prev.tail.foldLeft(cand) { (df, m) =>
        df.join(
          o.select(col("src").as(m), col("dst").as(s"n$level")),
          Seq(m, s"n$level"), "left_semi")
      }
    }
    o.unpersist(blocking = false)
    cur
  }

  /** Clique counts per size 2..maxK: `(k, n_cliques)`. */
  def cliqueCounts(g: PropertyGraph, maxK: Int = 4): DataFrame = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    (2 to maxK).map(k => (k.toLong, cliques(g, k).count()))
      .toDF("k", "n_cliques")
  }

  /** ALL maximal cliques (reference `clique/MaximalCliques.hpp:28`,
    * Eppstein–Löffler–Strash degeneracy-ordered Bron–Kerbosch), fully
    * distributed: one subproblem per vertex v that has at least one
    * later-ordered neighbor, holding v's later neighbors (P-candidates)
    * plus the intra-neighborhood edges that involve a later member —
    * exactly the induced subgraph BK(v) can ever touch. A maximal clique
    * is emitted once, by its minimum-order member; a vertex whose
    * neighbors are all earlier emits nothing (each of its cliques is
    * owned by an earlier member, and {v} alone is non-maximal), and a
    * degree-0 vertex is emitted as its own singleton clique via a
    * vertices-anti-join union — matching the reference, which reports
    * {v} for isolated v.
    *
    * Scale shape: the (degree, id) total order comes from a
    * range-partitioned `sortBy` + `zipWithIndex` (no single-partition
    * window); intra edges come from the same degree-oriented wedge join
    * as `Triangles` (√m fan-out bound), so a hub's subproblem row is
    * O(its later-degree + its triangle support), NOT O(degree) — the
    * earlier side (X) is reconstructed from the intra edges, where an
    * earlier neighbor x matters iff it closes a triangle {x, v, later}:
    * any clique through v that x could block contains a later neighbor
    * x must be adjacent to. Returns one row per clique, `members`
    * sorted ascending. */
  def maximalCliques(g: PropertyGraph): DataFrame = {
    import org.apache.spark.sql.{Row => SRow}
    import org.apache.spark.sql.types._
    val spark = g.edges.sparkSession
    val e = PropertyGraph.canonicalizeUndirected(
      g.adjacency.filter(col("src") =!= col("dst")))
      .select("src", "dst")
    val adj = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val deg = adj.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val rankSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("rnk", LongType, nullable = false)))
    val rank = spark.createDataFrame(
      deg.sort("d", "id").rdd.zipWithIndex
        .map { case (r, i) => SRow(r.getLong(0), i + 1L) },
      rankSchema)
    // edges oriented low→high rank; materialized once (used 4×) and
    // lineage-truncated so the zipWithIndex rank is frozen
    val eo = adj
      .join(rank.select(col("id").as("src"), col("rnk").as("srnk")), "src")
      .join(rank.select(col("id").as("dst"), col("rnk").as("drnk")), "dst")
      .filter(col("drnk") > col("srnk"))
      .select(col("src").as("u"), col("dst").as("v"), col("drnk").as("vrnk"))
      .localCheckpoint()
    val laterN = eo.groupBy(col("u").as("id"))
      .agg(collect_list(col("v")).as("later"))
    // triangles in rank order u<v<w: degree-oriented wedge join
    val tri = eo.select(col("u"), col("v"), col("vrnk"))
      .join(eo.select(col("u"), col("v").as("w"), col("vrnk").as("wrnk")), "u")
      .filter(col("vrnk") < col("wrnk"))
      .join(eo.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"), "left_semi")
      .select("u", "v", "w")
    // intra edges per owner, only pairs with a later-than-owner member:
    // owner u keeps (v,w); owner v keeps (u,w); owner w's both-earlier
    // pair (u,v) is never consulted by BK(w) — w's P ⊆ later(w) and X
    // is only ever intersected with neighborhoods of P members.
    val intra = tri.select(col("u").as("id"), col("v").as("a"), col("w").as("b"))
      .unionAll(tri.select(col("v").as("id"), col("u").as("a"), col("w").as("b")))
      .groupBy("id").agg(collect_list(struct(col("a"), col("b"))).as("intra"))
    val sub = laterN.join(intra, Seq("id"), "left")
      .select(col("id"), col("later"), col("intra"))

    val outSchema = StructType(Seq(
      StructField("members", ArrayType(LongType), nullable = false)))
    val rdd = sub.rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val v = r.getLong(0)
        val later = r.getSeq[Long](1)
        val ie = if (r.isNullAt(2)) Seq.empty[(Long, Long)]
          else r.getSeq[SRow](2).map(s => (s.getLong(0), s.getLong(1)))
        val laterSet = later.toSet
        val local = scala.collection.mutable.HashMap[Long, scala.collection.mutable.HashSet[Long]]()
        def link(a: Long, b: Long): Unit = {
          local.getOrElseUpdate(a, scala.collection.mutable.HashSet()) += b
          local.getOrElseUpdate(b, scala.collection.mutable.HashSet()) += a
        }
        later.foreach(w => link(v, w))
        val xSet = scala.collection.mutable.HashSet[Long]()
        ie.foreach { case (a, b) =>
          link(a, b)
          if (a != v && !laterSet(a)) xSet += a
          if (b != v && !laterSet(b)) xSet += b
        }
        val out = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
        def bk(rS: List[Long], pS: Set[Long], xS: Set[Long]): Unit = {
          if (pS.isEmpty && xS.isEmpty) { out += rS.sorted; return }
          val pivot = (pS ++ xS).maxBy(u => (pS & local(u).toSet).size)
          var p = pS; var x = xS
          (pS -- local(pivot)).toSeq.sorted.foreach { w =>
            val nw = local(w).toSet
            bk(w :: rS, p & nw, x & nw)
            p -= w; x += w
          }
        }
        bk(List(v), laterSet, xSet.toSet)
        out.iterator.map(m => SRow(m))
      }
    }
    val bkCliques = spark.createDataFrame(rdd, outSchema)
    // isolated vertices (no incident non-loop edge) are their own
    // maximal cliques — they never form a BK subproblem row
    val singletons = g.vertices
      .select(col("id").cast("long").as("id"))
      .join(adj.select(col("src").as("id")), Seq("id"), "left_anti")
      .select(array(col("id")).as("members"))
    bkCliques.unionAll(singletons)
  }
}
