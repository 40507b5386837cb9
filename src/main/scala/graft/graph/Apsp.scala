package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** All-pairs shortest paths in the Floyd–Warshall semantics class
  * (reference `distance/FloydWarshall.hpp:28`): weighted, directed or
  * undirected, negative edge weights allowed, negative cycles detected,
  * and among equal-weight shortest paths the one with the FEWEST nodes
  * is preferred.
  *
  * The reference triple-loop is a serial O(n³) recurrence on a dense
  * n×n array — the textbook shape Spark cannot (and should not) mimic.
  * The same closure is the matrix power D* under the (min, +) semiring,
  * so this runs ⌈log₂ n⌉ + 1 min-plus SQUARINGS of a COO distance
  * matrix (`algebra/Coo.mxm`'s join-aggregate shape): D ← D ⊗ D, where
  * the 0-weight diagonal makes each squaring subsume the previous state.
  * Each squaring is one shuffle keyed on the contraction index and an
  * (i, j) min-aggregate — fully distributed, whole-stage codegen, and
  * log-depth instead of the reference's n sequential pivot rounds.
  *
  * The value is a `(dist, hops)` struct and the aggregate is the
  * lexicographic `min(struct(...))` — exactly the reference's
  * fewest-nodes tie-break, at zero extra shuffle cost.
  *
  * Scale note: APSP output is inherently Θ(n²) rows (the reference
  * stores the same dense matrix), so — like the reference's O(n³) —
  * this is the small-to-medium dense tool; for large sparse graphs use
  * the per-source [[ShortestPaths]] family or [[HubLabeling]]. On a
  * cluster the squaring join distributes the n² state across executors,
  * which the reference's single shared-memory array cannot.
  *
  * Negative cycles: with the hop bound 2^rounds ≥ n, any vertex on or
  * reachable-into a negative cycle of ≤ n edges shows `dist(v,v) < 0`,
  * the reference's `isNodeInNegativeCycle` contract; distances through
  * such cycles are reported as-converged-so-far, as in the reference.
  */
object Apsp {

  /** `(src, dst, dist, hops)` for every ordered reachable pair
    * (unreachable pairs absent — the reference returns ∞ there);
    * `hops` = edge count of the returned fewest-node shortest path.
    * `maxSquarings` > 0 overrides the ⌈log₂ n⌉ + 1 default. */
  def floydWarshall(g: PropertyGraph, maxSquarings: Int = 0): DataFrame = {
    val n = g.vertices.count()
    val rounds =
      if (maxSquarings > 0) maxSquarings
      else math.ceil(math.log(math.max(2.0, n.toDouble)) / math.log(2.0)).toInt + 1
    // parallel edges collapse to the min weight (reference Graph has
    // simple edges; min is the only APSP-consistent choice)
    val edges = g.adjacency.filter(col("src") =!= col("dst"))
      .groupBy(col("src").as("i"), col("dst").as("j"))
      .agg(min("weight").as("w"))
      .select(col("i"), col("j"),
        struct(col("w").as("d"), lit(1L).as("h")).as("v"))
    val diag = g.vertices.select(col("id").as("i"), col("id").as("j"),
      struct(lit(0.0).as("d"), lit(0L).as("h")).as("v"))
    val init = edges.unionAll(diag).groupBy("i", "j").agg(min("v").as("v"))
    // the one-job fingerprint materializes each squaring's lazy cut; a
    // repeat means the closure is reached (no negative cycle)
    val d = Fixpoint.loopFusedFingerprint(init, rounds) { (cur, _) =>
      cur.select(col("i"), col("j").as("k"), col("v").as("av"))
        .join(cur.select(col("i").as("k"), col("j"), col("v").as("bv")), "k")
        .groupBy("i", "j")
        .agg(min(struct(
          (col("av.d") + col("bv.d")).as("d"),
          (col("av.h") + col("bv.h")).as("h"))).as("v"))
    } { cur => Fixpoint.hashFingerprint(cur, "i", "j", "v.d", "v.h") }
    d.select(col("i").as("src"), col("j").as("dst"),
      col("v.d").as("dist"), col("v.h").as("hops"))
  }

  /** Vertices on a negative cycle: `dist(v, v) < 0` (reference
    * `FloydWarshall::isNodeInNegativeCycle`). */
  def negativeCycleNodes(apsp: DataFrame): DataFrame =
    apsp.filter(col("src") === col("dst") && col("dist") < 0)
      .select(col("src").as("id"))
}
