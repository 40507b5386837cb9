package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Weighted matching via locally-dominant-edge (suitor-style) rounds
  * (reference: `matching/SuitorMatcher.cpp`, `LocalMaxMatcher`,
  * base `Matching.hpp:19`).
  *
  * Each round every unmatched node proposes to its best eligible
  * neighbor (max weight, tie → smaller id); an edge whose endpoints
  * propose to each other is locally dominant and joins the matching —
  * the classic distributed half of the suitor algorithm, a 1/2-
  * approximation of maximum weight matching, deterministic under the
  * fixed tie-break. One join + one window per round.
  */
object Matching {

  /** Matched pairs `(u, v, weight)` with u < v.
    *
    * ONE Spark job per round (see [[bSuitor]] for the pattern): lazy
    * localCheckpoints materialized by the mutual-size count; the matched
    * set accumulates as per-round legs, unioned once at exit. The
    * remaining-edge prune anti-joins against THIS round's mutual
    * endpoints only — edges incident to earlier rounds' matches were
    * already removed in their own round, so pruning against the full
    * matched set (the former code) was redundant work growing per round. */
  def suitor(g: PropertyGraph, maxIter: Int = 50): DataFrame = Fixpoint.scope { st =>
    val spark = g.edges.sparkSession
    var remaining = st.cut(g.adjacency
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("weight")))
    val legs = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var done = false
    var i = 0
    val debugT0 = System.nanoTime()
    while (!done && i < maxIter) {
      if (sys.env.contains("GRAFT_FIXPOINT_DEBUG"))
        System.err.println(f"[suitor] round $i ${(System.nanoTime() - debugT0) / 1e9}%.2fs")
      // best proposal per node via max(struct): (weight desc, dst asc)
      // — a hash agg, no per-partition sort, and avoids a Spark 4
      // analyzer bug self-joining window outputs ("key not found: #N")
      val best = st.cutLazy(remaining
        .groupBy("src")
        .agg(max(struct(col("weight"), (-col("dst")).as("negDst"), col("dst"))).as("b"))
        .select(col("src"), col("b.dst").as("dst"), col("b.weight").as("weight")))
      val mutual = mutualOf(st, best)
      val nMutual = mutual.count()
      st.retire(best)
      if (nMutual == 0) done = true
      else {
        legs += mutual
        val taken = mutual.select(col("u").as("id"))
          .unionAll(mutual.select(col("v").as("id")))
        val next = st.cutLazy(remaining
          .join(taken.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
          .join(taken.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti")
          .select("src", "dst", "weight"))
        st.retire(remaining)
        remaining = next
      }
      i += 1
    }
    unionOfLegs(st, spark, legs)
  }

  /** The locally dominant edges of a round: proposals that are mutual,
    * as `(u, v, weight)` with u < v, lazily cut. */
  private def mutualOf(st: Fixpoint.Scope, best: DataFrame): DataFrame =
    st.cutLazy(best.as("a")
      .join(best.as("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
      .filter(col("a.src") < col("a.dst"))
      .select(col("a.src").as("u"), col("a.dst").as("v"),
        col("a.weight").as("weight")))

  /** The matched pairs of all rounds: a single leg as is, more legs
    * unioned into one cut. */
  private def unionOfLegs(st: Fixpoint.Scope, spark: SparkSession,
      legs: collection.Seq[DataFrame]): DataFrame = {
    import spark.implicits._
    if (legs.isEmpty) Seq.empty[(Long, Long, Double)].toDF("u", "v", "weight")
    else if (legs.size == 1) legs.head
    else st.cut(legs.reduce(_ unionAll _))
  }

  /** b-matching via rounds of mutual-best proposals with residual
    * capacities (reference `matching/BSuitorMatcher.hpp` semantics):
    * each node proposes to its best remaining neighbor while it has
    * capacity; mutual proposals lock the edge and decrement both
    * capacities. Same tie-break discipline as [[suitor]]
    * (weight desc, partner id asc). Returns matched pairs `(u, v,
    * weight)`, u < v, at most `b` per node. */
  def bSuitor(g: PropertyGraph, b: Int, maxIter: Int = 60): DataFrame = Fixpoint.scope { st =>
    val spark = g.edges.sparkSession
    var remaining = st.cut(g.adjacency
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("weight")))
    var cap = st.cut(remaining.select(col("src").as("id")).distinct()
      .withColumn("cap", lit(b.toLong)))
    // ONE Spark job per round: best/mutual and the next round's
    // cap/remaining are LAZY localCheckpoints; the mutual-size count is
    // the action that materializes the whole chained round (the former
    // eager checkpoints + isEmpty probes cost ~7 jobs/round). The
    // matched set is accumulated as per-round legs and unioned once at
    // exit instead of re-checkpointing a growing table every round.
    val legs = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var done = false
    var i = 0
    while (!done && i < maxIter) {
      val capPos = cap.filter(col("cap") > 0)
      val eligible = remaining
        .join(capPos.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(capPos.select(col("id").as("dst")), Seq("dst"), "left_semi")
      val best = st.cutLazy(eligible.groupBy("src")
        .agg(max(struct(col("weight"), (-col("dst")).as("negDst"), col("dst"))).as("b"))
        .select(col("src"), col("b.dst").as("dst"), col("b.weight").as("weight")))
      val mutual = mutualOf(st, best)
      val nMutual = mutual.count() // materializes best + mutual and the
        // lazy cap/remaining checkpoints created last round beneath them
      st.retire(best)
      if (nMutual == 0) done = true
      else {
        legs += mutual
        val used = mutual.select(col("u").as("id"))
          .unionAll(mutual.select(col("v").as("id")))
          .groupBy("id").agg(count(lit(1)).as("used"))
        val nextCap = st.cutLazy(cap.join(used, Seq("id"), "left")
          .select(col("id"), (col("cap") - coalesce(col("used"), lit(0L))).as("cap")))
        val nextRemaining = st.cutLazy(remaining
          .join(mutual.select(col("u").as("src"), col("v").as("dst")),
            Seq("src", "dst"), "left_anti")
          .join(mutual.select(col("v").as("src"), col("u").as("dst")),
            Seq("src", "dst"), "left_anti"))
        st.retire(cap, remaining)
        cap = nextCap; remaining = nextRemaining
      }
      i += 1
    }
    unionOfLegs(st, spark, legs)
  }

  /** Dynamic b-suitor: fold a batch of edge INSERTIONS into an existing
    * b-matching (reference `matching/DynamicBSuitorMatcher.hpp:19`,
    * Angriman et al. dynamic b-suitor). The locally-dominant b-matching
    * is the unique stable b-matching when edge preferences are STRICT
    * (distinct weights, or the (weight, partner-id) tie-break making
    * every preference list strict), so the repair loop — find blocking
    * edges (both endpoints strictly prefer them to their current worst
    * kept match / spare capacity), admit the mutual-best ones, evict
    * over-capacity victims, cascade — terminates in the SAME matching a
    * from-scratch [[bSuitor]] computes, touching only the affected
    * region. Each round is a join + hash-agg keyed by node, no global
    * sort. `matching` is the pre-insertion `(u, v, weight)` pair set;
    * `g` must already CONTAIN the inserted edges. */
  def bSuitorInsert(g: PropertyGraph, matching: DataFrame, b: Int,
      maxIter: Int = 60): DataFrame = Fixpoint.scope { st =>
    var matched = st.cut(matching.select("u", "v", "weight"))
    val adj = st.cut(g.adjacency.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("weight")))
    // two jobs per round (mutual-size count + repaired-matching count);
    // the former eager checkpoints and isEmpty probe cost ~5
    var done = false
    var i = 0
    while (!done && i < maxIter) {
      // each node's kept matches as preference structs; worst kept +
      // spare capacity decide what a blocking edge must beat
      val kept = matched.select(col("u").as("id"), struct(col("weight"),
          (-col("v")).as("negP")).as("pref"))
        .unionAll(matched.select(col("v").as("id"), struct(col("weight"),
          (-col("u")).as("negP")).as("pref")))
      val worst = kept.groupBy("id")
        .agg(min(col("pref")).as("worst"), count(lit(1)).as("nm"))
      // blocking edges: not matched, and each endpoint either has spare
      // capacity or strictly prefers this edge to its worst kept match
      val cand = adj
        .join(matched.select(col("u").as("src"), col("v").as("dst")),
          Seq("src", "dst"), "left_anti")
        .join(matched.select(col("v").as("src"), col("u").as("dst")),
          Seq("src", "dst"), "left_anti")
        .join(worst.select(col("id").as("src"), col("worst").as("ws"),
          col("nm").as("ns")), Seq("src"), "left")
        .join(worst.select(col("id").as("dst"), col("worst").as("wd"),
          col("nm").as("nd")), Seq("dst"), "left")
        .filter(
          (coalesce(col("ns"), lit(0L)) < b ||
            struct(col("weight"), (-col("dst")).as("negP")) > col("ws")) &&
          (coalesce(col("nd"), lit(0L)) < b ||
            struct(col("weight"), (-col("src")).as("negP")) > col("wd")))
      val best = st.cutLazy(cand.groupBy("src")
        .agg(max(struct(col("weight"), (-col("dst")).as("negDst"), col("dst"))).as("b"))
        .select(col("src"), col("b.dst").as("dst"), col("b.weight").as("weight")))
      val mutual = mutualOf(st, best)
      if (mutual.count() == 0) done = true
      else {
        // admit, then evict each over-capacity node's worst matches
        val all = matched.unionAll(mutual)
        val ranked = all.select(col("u").as("id"), col("u"), col("v"),
            col("weight"), struct(col("weight"), (-col("v")).as("negP")).as("pref"))
          .unionAll(all.select(col("v").as("id"), col("u"), col("v"),
            col("weight"), struct(col("weight"), (-col("u")).as("negP")).as("pref")))
          .withColumn("rk", row_number().over(
            Window.partitionBy("id").orderBy(col("pref").desc)))
        val evicted = ranked.filter(col("rk") > b)
          .select("u", "v").distinct()
        val next = st.cutLazy(all.join(evicted, Seq("u", "v"), "left_anti"))
        next.count() // materializes next (and consumes best/mutual)
        st.retire(matched, mutual, best)
        matched = next
      }
      i += 1
    }
    matched
  }

  /** Path-growing matching (reference `matching/PathGrowingMatcher.cpp`,
    * Drake–Hougardy): grow a path from a live min-degree node by always
    * following the heaviest live incident edge, alternately assigning
    * path edges to two matchings M1/M2, killing each visited node; the
    * heavier of M1/M2 is returned — a 1/2-approximation of maximum
    * weight matching.
    *
    * Spark framing: the path order is inherently sequential (each step
    * depends on which nodes the previous step killed), so like the
    * reference — whose graph lives in one address space — this runs
    * driver-side on the collected deduplicated edge list, size-bounded
    * like [[graft.graph.Biconnected]]. [[suitor]] is the distributed
    * 1/2-approximation for graphs beyond driver memory.
    *
    * Deterministic: start node = (min degree, min id); heaviest edge
    * tie-break = smaller neighbor id. Returns `(u, v, weight)`, u < v. */
  def pathGrowing(g: PropertyGraph): DataFrame = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    val es = g.adjacency
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"), col("weight"))
      .groupBy("u", "v").agg(max("weight").as("weight"))
      .as[(Long, Long, Double)].collect()

    val adj = scala.collection.mutable.HashMap[Long,
      scala.collection.mutable.ArrayBuffer[(Long, Double)]]()
    es.foreach { case (u, v, w) =>
      adj.getOrElseUpdate(u, scala.collection.mutable.ArrayBuffer()) += ((v, w))
      adj.getOrElseUpdate(v, scala.collection.mutable.ArrayBuffer()) += ((u, w))
    }
    val degree = scala.collection.mutable.HashMap[Long, Int]()
    adj.foreach { case (id, nbrs) => degree(id) = nbrs.size }
    val alive = scala.collection.mutable.HashSet[Long]() ++ adj.keys
    // min-degree extraction via sorted candidate queue with lazy degree
    // re-check (degrees only decrease; stale entries are skipped)
    val pq = scala.collection.mutable.PriorityQueue.empty[(Int, Long)](
      Ordering.Tuple2(Ordering.Int.reverse, Ordering.Long.reverse))
    adj.keys.foreach(id => pq.enqueue((degree(id), id)))
    val m1 = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val m2 = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    var takeM1 = true

    def kill(v: Long): Unit = {
      alive.remove(v)
      adj(v).foreach { case (u, _) =>
        if (alive.contains(u)) {
          degree(u) -= 1
          if (degree(u) > 0) pq.enqueue((degree(u), u))
        }
      }
    }

    while (pq.nonEmpty) {
      val (d0, start) = pq.dequeue()
      if (alive.contains(start) && degree(start) == d0 && d0 > 0) {
        var v = start
        while (alive.contains(v) && degree(v) > 0) {
          var bestN = -1L
          var bestW = Double.NegativeInfinity
          adj(v).foreach { case (u, w) =>
            if (alive.contains(u) && (w > bestW || (w == bestW && (bestN < 0 || u < bestN)))) {
              bestN = u; bestW = w
            }
          }
          val e = (math.min(v, bestN), math.max(v, bestN), bestW)
          if (takeM1) m1 += e else m2 += e
          takeM1 = !takeM1
          kill(v)
          v = bestN
        }
        if (alive.contains(v)) kill(v) // path end: degree 0, retire it
      }
    }
    val pick = if (m1.map(_._3).sum >= m2.map(_._3).sum) m1 else m2
    pick.toSeq.toDF("u", "v", "weight")
  }
}
