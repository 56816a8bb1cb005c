package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

/** Connected components as a pure DataFrame fixpoint — the alternating
  * large-star / small-star algorithm (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14): O(log n) rounds,
  * each round two grouped aggregations + joins over the edge list, no
  * RDD conversion and no Pregel machinery.
  *
  * It is graft's one distributed CC: the dedup cluster family and
  * `GraphXBridge.connectedComponents` (gx01) both run on it. Against a
  * Pregel-style label propagation (GraphX's CC, measured ~15 s in the
  * sf1 rehearsal over a 249k-edge near-dup pair graph whose chains
  * converge in a handful of rounds) the DataFrame form keeps the whole
  * loop in Tungsten, converges in O(log n) rounds REGARDLESS of
  * component diameter (star contraction, not frontier propagation),
  * and inherits AQE sizing per round.
  *
  * Semantics: given undirected edges (id1, id2) over LONG ids, returns
  * (id, component) where component = the MINIMUM id in the node's
  * component — identical labeling to GraphX CC, pinned by
  * TraversalSpec's equivalence test. Nodes appear in the output iff
  * they appear in at least one non-loop edge; callers union in
  * singletons.
  *
  * Hybrid execution: the distinct canonical edge count is measured
  * first (one job, also the checkpoint materializer), and a graph that
  * passes [[KernelGate]] on that count runs the driver union-find of
  * [[LocalGraphKernels.minLabels]] instead of the distributed fixpoint.
  * Rationale: each star round is ~8 scheduled stages, and the near-dup
  * pair graphs the dedup gates feed here are KBs at any tested SF — the
  * loop's cost was pure stage latency (measured: d07/d11/p23 ≈
  * 2.0–2.4 s wall on 0.1 MB of shuffle). The gate checks a MEASURED
  * count, so the collect is bounded; a corpus-scale pair graph (near-dup
  * pairs grow with corpus size; sf10 produces 2.5M) over the bound
  * takes the distributed path. Both legs produce identical labels,
  * pinned against GraphX CC and against each other in TraversalSpec.
  */
object StarCC {

  /** (id, component) for every node incident to at least one edge. */
  def components(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    // canonical undirected edge set, self-loops dropped
    val e = edges
      .select(least(col("id1"), col("id2")).cast("long").as("a"),
        greatest(col("id1"), col("id2")).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(eager = false)
    val eCount = e.count() // materializes the lazy checkpoint
    // the checkpoint is new on every call: no count job, nothing cached
    KernelGate("starcc", spark)(_.edges[Long](e, "a", "b", cache = false,
      counted = Some(eCount))
    ).map { d =>
      shims.releaseLocalCheckpoint(e)
      val label = LocalGraphKernels.minLabels(d.n, d.src, d.dst)
      import spark.implicits._
      d.ids.indices.map(i => (d.ids(i), d.ids(label(i))))
        .toDF("id", "component")
    }.getOrElse(starContraction(e, eCount))
  }

  /** The distributed leg: star contraction of the canonical edge set
    * `e0` (locally checkpointed, `n0` rows) to its fixpoint. */
  private def starContraction(e0: DataFrame, n0: Long): DataFrame = {
    var e = e0
    var eCount = n0
    // large-star: every neighbor v > u links to m = min(N(u) ∪ {u});
    // small-star: every neighbor v ≤ u links to m = min of the smaller
    // neighborhood (plus u itself). Alternating the two contracts every
    // component to a star on its minimum in O(log n) rounds.
    def largeStar(cur: DataFrame): DataFrame = {
      val sym = cur.select(col("a").as("u"), col("b").as("v"))
        .unionAll(cur.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("a"),
          greatest(col("v"), col("m")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    def smallStar(cur: DataFrame): DataFrame = {
      // orient every edge toward its LARGER endpoint: (u = max, v = min)
      val oriented = cur.select(col("b").as("u"), col("a").as("v"))
      val mins = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      val relink = oriented.join(mins, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(least(col("v"), col("m")).as("a"),
          greatest(col("v"), col("m")).as("b"))
      relink.unionAll(mins.select(col("m").as("a"), col("u").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    }

    var converged = false
    var rounds = 0
    val maxRounds = 64 // ≫ log₂ of any node count a long id can hold
    while (!converged && rounds < maxRounds) {
      rounds += 1
      val next = smallStar(largeStar(e)).localCheckpoint(eager = false)
      // True fixpoint test (not a checksum) in ONE job per round: both
      // sides are distinct, so set equality ⟺ |E'| == |E| AND every E'
      // row matches an E row. A single left-outer pass yields |E'| and
      // the match count together — and, as the first job computing
      // `next`, it materializes next's lazy checkpoint. The former
      // count+count+anti-isEmpty shape scheduled 3–4 jobs per round,
      // a fixed ~1 s/gate cost at small SF (round-7 verdict item).
      val stats = next.join(
          e.select(col("a"), col("b"), lit(1).as("__in")),
          Seq("a", "b"), "left_outer")
        .agg(count(lit(1)).as("n"), count(col("__in")).as("matched"))
        .head()
      val n = stats.getLong(0)
      converged = n == eCount && stats.getLong(1) == n
      val prev = e
      e = next
      eCount = n
      // INVARIANT (do not reorder): releasing prev's local-checkpoint
      // blocks is safe ONLY because the stats `.head()` above has
      // already run — it is the first job computing `next`, so next's
      // lazy checkpoint is fully materialized and its lineage no longer
      // reaches prev. Local-checkpoint blocks are UNRECOVERABLE once
      // unpersisted: if a future edit skips or moves that action (e.g.
      // short-circuiting the stats job on the last round), this release
      // turns into a runtime "checkpoint block not found" failure, not
      // a recompute. Guarded by shims.assertLocallyCheckpointed.
      shims.assertLocallyCheckpointed(e)
      shims.releaseLocalCheckpoint(prev)
    }
    require(converged, s"StarCC did not converge in $maxRounds rounds")
    // At the fixpoint every edge is (component-min, member): label both
    // endpoints, the min labels itself.
    e.select(col("b").as("id"), col("a").as("component"))
      .unionAll(e.select(col("a").as("id"), col("a").as("component")))
      .groupBy(col("id")).agg(min(col("component")).as("component"))
  }
}
