package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components → `(id, component)` with component = min node id
  * in the component (reference: `components/ConnectedComponents.hpp:24`,
  * `ParallelConnectedComponents.hpp:21`; the UnionFind there does not
  * distribute — SURVEY.md §1.1).
  *
  * Two algorithms:
  *   - [[labelProp]]: min-label propagation fixpoint — O(diameter) rounds,
  *     each one shuffle; simple and exact.
  *   - [[run]]: alternating large-star/small-star contractions (Kiveris et
  *     al., "Connected Components in MapReduce and Beyond") — O(log n)
  *     rounds regardless of diameter, the scale-path default for 100 TB
  *     graphs where diameter can be large.
  */
object ConnectedComponents {

  /** Min-label propagation. Convergence via an order-independent
    * bit_xor(xxhash64) fingerprint of the label assignment — overflow-free
    * under ANSI mode even for arbitrary 64-bit ids (a plain
    * `sum(component)` can overflow and throw). */
  def labelProp(g: PropertyGraph, maxIter: Int = 100): DataFrame = {
    val adj = g.adjacency.select("src", "dst")
    val init = g.vertices.select(col("id"), col("id").as("component"))
    Fixpoint.loopUntilStableFingerprint(init, maxIter,
      df => Fixpoint.hashFingerprint(df, "id", "component")._2,
      checkpointEvery = 4) { (labels, _) =>
      val viaNbr = labels.join(adj, labels("id") === adj("src"))
        .select(col("dst").as("id"), col("component"))
      labels.select("id", "component").unionAll(viaNbr)
        .groupBy("id").agg(min("component").as("component"))
    }
  }

  /** Alternating large-star / small-star. State is a symmetric pair set;
    * at fixpoint it is a star forest rooted at each component's min id. */
  def run(g: PropertyGraph, maxIter: Int = 50): DataFrame = {
    val base = g.edges.select(col("src").as("u"), col("dst").as("v"))
      .filter(col("u") =!= col("v"))

    // duplicates are harmless to the min-aggregations, so the symmetric
    // view skips its distinct and only each round's final output dedups
    // — 3 fewer shuffles per round
    def sym(e: DataFrame): DataFrame =
      e.unionAll(e.select(col("v").as("u"), col("u").as("v")))

    // m = min(N(u) ∪ {u}) attached to every pair of the symmetric view
    // by a window over u. The stars' `v > u` / `v <= u` filters reference
    // v, so they stay ABOVE the window and both of a star's consumers
    // read the one hash(u) exchange below it: 3 exchanges per round
    // (largeStar, smallStar, dedup). Not a groupBy(u) min joined back:
    // Catalyst pushes each star's filter into the join side only, which
    // then plans an exchange of its own instead of sharing the
    // aggregate's.
    def withNbrMin(e: DataFrame): DataFrame =
      sym(e).withColumn("m",
        least(col("u"), min(col("v")).over(Window.partitionBy("u"))))

    def largeStar(e: DataFrame): DataFrame =
      withNbrMin(e).filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))

    // every pair of u carries the same m, so `self` repeats (u, m) once
    // per neighbour; the distinct that dedups the round removes them
    def smallStar(e: DataFrame): DataFrame = {
      val s = withNbrMin(e)
      val moved = s.filter(col("v") <= col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      val self = s.select(col("u"), col("m").as("v"))
      moved.unionAll(self).filter(col("u") =!= col("v")).distinct()
    }

    // lineage cut every round: each round references its input several
    // times (sym, both stars), so the plan grows exponentially without
    // truncation. Fused loop: the one-job (count, xor) edge-set
    // fingerprint IS the materializing action.
    val stars = Fixpoint.loopFusedFingerprint(base, maxIter) {
      (e, i) =>
        val round = smallStar(largeStar(e))
        if (i > 0) Fixpoint.dumpLoopPlan("cc_star_round", round)
        round
    } { e => Fixpoint.hashFingerprint(e, "u", "v") }

    // star forest: every non-root points at its root. Roots and isolated
    // vertices are covered by seeding EVERY vertex with itself as a
    // candidate label — min() then picks the root for members (the root
    // is the component minimum at the fixpoint) and the id itself for
    // roots/isolated. One union + one aggregate replaces the former
    // roots/isolated anti-join cascade (7 Exchanges + 3 sort-merge
    // anti-joins → 1 Exchange), identical output. When the vertex set
    // derives from endpoints its distinct is skipped too: the final
    // min-aggregate dedups.
    val selfSeed = g.verticesOpt match {
      case Some(v) => v.select(col("id"), col("id").as("component"))
      case None => g.edges.select(col("src").as("id"))
        .unionAll(g.edges.select(col("dst").as("id")))
        .select(col("id"), col("id").as("component"))
    }
    stars.select(col("u").as("id"), col("v").as("component"))
      .unionAll(selfSeed)
      .groupBy("id").agg(min("component").as("component"))
  }

  /** Component sizes `(component, size)`. */
  def sizes(components: DataFrame): DataFrame =
    components.groupBy("component").agg(count(lit(1)).as("size"))
}
