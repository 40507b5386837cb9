package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spectral graph coloring (reference `networkit/coloring.py:5`
  * `SpectralColoring`) and the Gini coefficient
  * (`networkit/stats.pyx:16`).
  *
  * The reference colors by recursively splitting color classes on the
  * SIGN of adjacency eigenvectors, walking the spectrum from the most
  * negative eigenvalue upward (its `adjacencyEigenvectors` sorts
  * ascending, and the most negative eigenvector is the most
  * bipartite-like split). This port computes the k smallest-eigenvalue
  * eigenvectors by deflated power iteration on the shifted operator
  * σI − A (σ = Gershgorin bound, so the smallest eigenvalue of A is the
  * dominant one of the shift — every step is one distributed MxV), then
  * runs the same split-while-invalid recursion as a DataFrame loop over
  * (id, color, depth) state. Color ids use a binary-trie labeling
  * (children of c are 2c+1 / 2c+2, densified at the end) instead of the
  * reference's sequential counter — a deliberate deviation: the ids are
  * palette indices with no semantics, and trie labels need no global
  * mutable counter. Classes still invalid after the spectrum is
  * exhausted fall back to singleton colors so the returned coloring is
  * ALWAYS valid (the reference would recurse past its eigenvector list
  * and fail).
  */
object Coloring {

  /** Driver-side symmetric k×k Jacobi eigendecomposition (k ≤ ~16 —
    * the Rayleigh–Ritz projection matrix, never data-sized). Returns
    * (eigenvalues, eigenvectors-as-columns). */
  private def jacobiEig(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val k = a0.length
    val a = a0.map(_.clone())
    val q = Array.tabulate(k, k)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = 1.0
    while (sweep < 100 && off > 1e-14) {
      off = 0.0
      for (p <- 0 until k; r <- p + 1 until k) {
        off += a(p)(r) * a(p)(r)
        if (math.abs(a(p)(r)) > 1e-15) {
          val theta = (a(r)(r) - a(p)(p)) / (2 * a(p)(r))
          val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1))
          val c = 1.0 / math.sqrt(t * t + 1); val s = t * c
          for (i <- 0 until k) {
            val aip = a(i)(p); val air = a(i)(r)
            a(i)(p) = c * aip - s * air; a(i)(r) = s * aip + c * air
          }
          for (i <- 0 until k) {
            val api = a(p)(i); val ari = a(r)(i)
            a(p)(i) = c * api - s * ari; a(r)(i) = s * api + c * ari
          }
          for (i <- 0 until k) {
            val qip = q(i)(p); val qir = q(i)(r)
            q(i)(p) = c * qip - s * qir; q(i)(r) = s * qip + c * qir
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(k)(i => a(i)(i)), q)
  }

  /** The `k` smallest-eigenvalue eigenvectors of the (weighted)
    * adjacency matrix, as long-format rows `(depth, id, value)` with
    * depth 0 = most negative eigenvalue (the reference's
    * `spectrum[1][0]`). Blocked subspace iteration on σI − A (σ =
    * Gershgorin bound, so A's smallest eigenvalues are the shift's
    * dominant ones): the k vectors live in ONE array column, each round
    * is a single distributed MxV (posexplode + keyed sum) followed by
    * one k²-entry Gram aggregate whose Cholesky factor re-orthonormalizes
    * the block driver-side — O(1) Spark jobs per round regardless of k,
    * versus k per round for vector-at-a-time deflation. A final
    * Rayleigh–Ritz rotation (k×k Jacobi on the projected operator)
    * separates and orders the individual eigenvectors; signs fixed so
    * the smallest id with a non-negligible component is positive
    * (determinism under any partitioning). */
  def smallestAdjacencyEigenvectors(g: PropertyGraph, k: Int,
      iters: Int = 30, seed: Long = 42): DataFrame =
    smallestEigenvectors(
      g.adjacency.select(col("src").as("i"), col("dst").as("j"),
        col("weight").as("v")),
      g.vertices.select("id"), k, iters, seed, projectOutConstant = false)

  /** Generic kernel behind [[smallestAdjacencyEigenvectors]] and
    * [[Spectral.laplacianEigenvectors]]: the k smallest-eigenvalue
    * eigenvectors of a symmetric COO matrix `(i, j, v)`.
    * `projectOutConstant` deflates the all-ones direction each round —
    * required for the Laplacian, whose smallest eigenvector is the
    * (known) constant, so the k returned vectors start at the Fiedler
    * vector. */
  private[graph] def smallestEigenvectors(matrix0: DataFrame,
      vertices: DataFrame, k: Int, iters: Int, seed: Long,
      projectOutConstant: Boolean): DataFrame = Fixpoint.scope { st =>
    val mat = st.persist(matrix0)
    val nodes = st.persist(vertices.select("id"))
    // Gershgorin: |lambda| <= max_i sum_j |v_ij|
    val sigma = mat.groupBy("i").agg(sum(abs(col("v"))).as("s"))
      .agg(coalesce(max(col("s")), lit(0.0))).head.getDouble(0) + 1.0

    // subtract each component's mean — keeps the block ⊥ 1
    def center(v: DataFrame): DataFrame = {
      if (!projectOutConstant) return v
      val meanAggs = (0 until k).map(i => avg(expr(s"xs[$i]")).as(s"m$i"))
      val row = v.agg(meanAggs.head, meanAggs.tail: _*).head
      val shifted = (0 until k)
        .map(i => s"(xs[$i] - ${row.getDouble(i)})").mkString(", ")
      v.select(col("id"), expr(s"array($shifted)").as("xs"))
    }

    // one MxV of the whole block: (id, xs[k]) -> (id, (σI−M)·xs[k])
    def shiftMul(v: DataFrame): DataFrame = {
      val contrib = mat.join(v.select(col("id").as("j"), col("xs")), "j")
        .select(col("i"), posexplode(col("xs")).as(Seq("pos", "x")), col("v"))
        .groupBy(col("i").as("id"), col("pos"))
        .agg(sum(col("x") * col("v")).as("ax"))
        .groupBy("id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("ax")))),
          s => s.getField("ax")).as("axs"))
      nodes.join(v, "id").join(contrib, Seq("id"), "left")
        .select(col("id"), expr(
          s"""zip_with(xs, coalesce(axs, array_repeat(0D, $k)),
             |  (x, a) -> $sigma * x - a)""".stripMargin).as("xs"))
    }

    // Gram matrix XᵀX as one aggregate, Cholesky → X·R⁻¹ driver-side
    def orthonormalize(v: DataFrame): DataFrame = {
      val gramAggs = for (i <- 0 until k; j <- i until k)
        yield sum(expr(s"xs[$i] * xs[$j]")).as(s"g_${i}_$j")
      val row = v.agg(gramAggs.head, gramAggs.tail: _*).head
      val gram = Array.ofDim[Double](k, k)
      var idx = 0
      for (i <- 0 until k; j <- i until k) {
        gram(i)(j) = row.getDouble(idx); gram(j)(i) = gram(i)(j); idx += 1
      }
      // Cholesky G = RᵀR (upper R), guarded against rank collapse
      val r = Array.ofDim[Double](k, k)
      for (i <- 0 until k) {
        var d = gram(i)(i)
        for (p <- 0 until i) d -= r(p)(i) * r(p)(i)
        r(i)(i) = math.sqrt(math.max(d, 1e-12))
        for (j <- i + 1 until k) {
          var s = gram(i)(j)
          for (p <- 0 until i) s -= r(p)(i) * r(p)(j)
          r(i)(j) = s / r(i)(i)
        }
      }
      // invert upper-triangular R
      val inv = Array.ofDim[Double](k, k)
      for (j <- 0 until k) {
        inv(j)(j) = 1.0 / r(j)(j)
        for (i <- j - 1 to 0 by -1) {
          var s = 0.0
          for (p <- i + 1 to j) s += r(i)(p) * inv(p)(j)
          inv(i)(j) = -s / r(i)(i)
        }
      }
      val combos = (0 until k).map { j =>
        (0 until k).map(i => s"(xs[$i] * ${inv(i)(j)})").mkString(" + ")
      }
      v.select(col("id"), expr(s"array(${combos.mkString(", ")})").as("xs"))
    }

    var v = st.cut(center(nodes.select(col("id"), expr(
      s"""transform(sequence(0, ${k - 1}),
         |  j -> cast(pmod(xxhash64($seed + j, id), 1048576) as double)
         |       / 1048576.0 - 0.5)""".stripMargin).as("xs"))))
    for (_ <- 1 to iters) {
      val v2 = st.cut(orthonormalize(center(shiftMul(v))))
      st.retire(v)
      v = v2
    }
    // Rayleigh–Ritz: H = Xᵀ(σI−M)X, rotate X by H's eigenvectors,
    // descending H eigenvalue = ascending M eigenvalue = depth order
    val z = shiftMul(v)
    val hAggs = for (i <- 0 until k; j <- 0 until k)
      yield sum(expr(s"xs[$i] * zs[$j]")).as(s"h_${i}_$j")
    val joined = v.join(z.select(col("id"), col("xs").as("zs")), "id")
    val hRow = joined.agg(hAggs.head, hAggs.tail: _*).head
    val h = Array.ofDim[Double](k, k)
    var idx = 0
    for (i <- 0 until k; j <- 0 until k) { h(i)(j) = hRow.getDouble(idx); idx += 1 }
    // symmetrize against iteration noise
    for (i <- 0 until k; j <- i + 1 until k) {
      val m = (h(i)(j) + h(j)(i)) / 2; h(i)(j) = m; h(j)(i) = m
    }
    val (ev, q) = jacobiEig(h)
    val order = ev.zipWithIndex.sortBy(-_._1).map(_._2) // descending σ−λ
    val rotCombos = order.map { col0 =>
      (0 until k).map(i => s"(xs[$i] * ${q(i)(col0)})").mkString(" + ")
    }
    val rotated = st.cut(v.select(col("id"),
      expr(s"array(${rotCombos.mkString(", ")})").as("xs")))
    // deterministic sign per depth: smallest id with |value| > eps positive
    val leads = rotated.select(col("id"), posexplode(col("xs")).as(Seq("depth", "value")))
      .filter(abs(col("value")) > 1e-9)
      .groupBy("depth").agg(min_by(col("value"), col("id")).as("lead"))
      .collect().map(r => r.getInt(0) -> (if (r.getDouble(1) < 0) -1.0 else 1.0))
      .toMap
    val signs = (0 until k).map(d => leads.getOrElse(d, 1.0))
    rotated.select(col("id"), posexplode(col("xs")).as(Seq("depth", "value")))
      .select(col("depth"), col("id"),
        (col("value") * element_at(typedLit(signs), col("depth") + 1)).as("value"))
  }

  /** Valid spectral coloring `(id, color)`, colors densified to
    * 0..C−1. `k` bounds the spectrum depth; classes still invalid at
    * the bound split to singletons (documented fallback). */
  def spectralColoring(g: PropertyGraph, k: Int = 8, iters: Int = 30,
      seed: Long = 42): DataFrame = Fixpoint.scope { st =>
    val vecs = st.persist(smallestAdjacencyEigenvectors(g, k, iters, seed))
    val edges = st.persist(g.adjacency.select("src", "dst")
      .filter(col("src") =!= col("dst")))
    // the colors some edge has at both ends
    def invalidIn(state: DataFrame): DataFrame = st.cut(edges
      .join(state.select(col("id").as("src"), col("color").as("cs")), "src")
      .join(state.select(col("id").as("dst"), col("color").as("cd")), "dst")
      .filter(col("cs") === col("cd"))
      .select(col("cs").as("color")).distinct())
    def splittableIn(invalid: DataFrame, state: DataFrame): DataFrame = invalid
      .join(state.select("color", "depth").distinct(), "color")
      .filter(col("depth") < k)
    // state: (id, color, depth) — depth = next eigenvector this class
    // would split on (the reference's split(color, depth) argument)
    var state = st.cut(g.vertices.select(col("id"),
      lit(0L).as("color"), lit(0).as("depth")))
    var invalid = invalidIn(state)
    var splittable = splittableIn(invalid, state)
    while (!splittable.isEmpty) {
      // split every invalid class on the sign of its depth's eigenvector
      // (trie labels 2c+1 / 2c+2 for the >=0 / <0 halves)
      val toSplit = state.join(splittable.select("color"), Seq("color"), "left_semi")
        .join(vecs.select(col("depth"), col("id"), col("value")),
          Seq("depth", "id"))
        .select(col("id"),
          when(col("value") >= 0, col("color") * 2 + 1)
            .otherwise(col("color") * 2 + 2).as("color"),
          (col("depth") + 1).as("depth"))
      val untouched = state.join(splittable.select("color"), Seq("color"), "left_anti")
        .select("id", "color", "depth")
      val state2 = st.cut(untouched.unionAll(toSplit))
      st.retire(state, invalid)
      state = state2
      invalid = invalidIn(state)
      splittable = splittableIn(invalid, state)
    }
    // spectrum exhausted for whatever is left: singleton fallback
    val bad = state.join(invalid, Seq("color"), "left_semi")
    val done = state.join(invalid, Seq("color"), "left_anti")
    // an explicit fallback flag keeps singleton colors disjoint from
    // trie labels at ANY id range (an arithmetic id-offset would
    // collide or overflow for ids ≥ 2⁶³−2⁴⁰); densified via the
    // distributed zipRank, ordered (trie first, fallbacks after)
    val fixed = done.select(col("id"), lit(0L).as("fb"), col("color"))
      .unionAll(bad.select(col("id"), lit(1L).as("fb"), col("id").as("color")))
    val dense = Ranks.zipRank(
      fixed.select(col("fb"), col("color")).distinct(),
      Seq(col("fb"), col("color")), "c2", base = 0L)
    fixed.join(dense, Seq("fb", "color"))
      .select(col("id"), col("c2").as("color"))
  }

  /** Gini coefficient of a value column (reference `stats.pyx:16`):
    * values sorted ascending, height = running sum, area = Σ(height −
    * value/2), fair = total·n/2, gini = (fair − area)/fair. Returns one
    * row `(num, den, gini)` where num/den are the exact integer-valued
    * decomposition 2·(fair − area) and 2·fair — hash-stable across
    * engines, gini = num/den.
    *
    * The running sum is eliminated algebraically: with 1-based ascending
    * rank i, Σ(2·cumᵢ − xᵢ) = Σ xᵢ·(2(n−i)+1), so
    * num = n·S − Σ xᵢ(2n−2i+1) = 2·Σ i·xᵢ − (n+1)·S. Ranks come from a
    * range-partitioned distributed sort + `zipWithIndex` (no
    * single-partition window stage), and rank order among tied values is
    * irrelevant (Σ i·x over a tied block is order-free) — the result is
    * bit-identical to the window-cumsum formulation on integer inputs. */
  def gini(values: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructType, StructField, DoubleType, LongType}
    val spark = values.sparkSession
    val xs = values.select(col(valueCol).cast("double").as("x"))
      .filter(col("x").isNotNull)
    val rankSchema = StructType(Seq(
      StructField("x", DoubleType, nullable = false),
      StructField("rnk", LongType, nullable = false)))
    val ranked = spark.createDataFrame(
      xs.sort("x").rdd.zipWithIndex
        .map { case (r, i) => Row(r.getDouble(0), i + 1L) },
      rankSchema)
    ranked.agg(
        count(lit(1)).as("n"),
        coalesce(sum("x"), lit(0.0)).as("s"),
        coalesce(sum(col("x") * col("rnk") * 2), lit(0.0)).as("rx2"))
      .select(
        (col("rx2") - (col("n") + 1) * col("s")).as("num"),
        (col("n") * col("s")).as("den"))
      .select(col("num"), col("den"),
        when(col("den") =!= 0, col("num") / col("den")).otherwise(0.0).as("gini"))
  }
}
