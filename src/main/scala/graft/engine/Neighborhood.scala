package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Neighborhood-function computation — |{u : dist(v,u) ≤ k}| per vertex —
  * exactly (bounded multi-source expansion) and approximately via
  * HyperBall (Boldi & Vigna 2013, "In-Core Computation of Geometric
  * Centralities with HyperBall"): every vertex carries a mergeable HLL
  * sketch of its reach set, and one hop is one "union the neighbors'
  * sketches" aggregation.
  *
  * Why both: the exact form materializes a (source, vertex) pair per
  * reached vertex — Θ(Σ|ball|) rows, fine for certification at test SF,
  * quadratic-ish on dense 100 TB graphs. HyperBall's state is ONE
  * fixed-size sketch per vertex per round (datasketches HLL, exact in
  * sparse mode until ~2^lgK entries, ~1.6% rsd after), so the 100 TB
  * plan is k self-join-free aggregation rounds over |V| sketches —
  * the neighborhood analogue of q27's count-distinct argument.
  */
object Neighborhood {

  private def undirected(edges: DataFrame): DataFrame = {
    val fwd = edges.select(col("src"), col("dst"))
    fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Sketch precision: 2^11 registers (rsd ≈ 1.04/√2048 ≈ 2.3%) instead
    * of Spark's default lgK = 12 — halves the per-sketch register
    * payload, and HLL register traffic IS this algorithm's data motion
    * (every hop shuffles |E| sketches; ~2.3 GB per sf1 session at
    * lgK = 12). Safe to tune DOWN only because the gx06/gx08/gx11
    * certificates compare every estimate against the exact ball size
    * IN-RESULT with a ≤5% bound, and HLL error for a fixed set under a
    * fixed hash is deterministic: the gates passing at both rehearsal
    * SFs pins this precision as sufficient — any future drift fails the
    * oracle hash loudly, not silently. */
  private val LgConfigK = 11

  /** Hop-0 sketch state: one singleton HLL per vertex, pinned. */
  private def initSketches(g: GraphState): DataFrame =
    g.vertices.groupBy(col("id"))
      .agg(hll_sketch_agg(col("id"), LgConfigK).as("sk")).localCheckpoint()

  /** ONE HyperBall round: union every vertex's sketch into its
    * neighbors', keep isolated vertices' sketches, cut lineage. The
    * single definition every HyperBall-family operator iterates. */
  private def hopStep(sk: DataFrame, e: DataFrame): DataFrame = {
    val nbr = sk.join(e, sk("id") === e("src"))
      .groupBy(col("dst").as("id"))
      .agg(hll_union_agg(col("sk")).as("nsk"))
    sk.join(nbr, Seq("id"), "left")
      .select(col("id"),
        when(col("nsk").isNull, col("sk"))
          .otherwise(hll_union(col("sk"), col("nsk"))).as("sk"))
      .localCheckpoint()
  }

  /** Exact k-hop neighborhood sizes (self included), one row per vertex:
    * (id, n_reach). */
  def exactSizes(g: GraphState, hops: Int): DataFrame = {
    require(hops >= 0)
    val e = undirected(g.edges)
    var reach = g.vertices.select(col("id").as("source"), col("id"))
    var k = 0
    while (k < hops) {
      k += 1
      val expanded = reach.union(
        reach.join(e, reach("id") === e("src"))
          .select(col("source"), col("dst").as("id")))
      // Intermediate hops dedup (bounds the next expansion's input) and
      // cut lineage; the LAST hop folds its dedup into the final
      // count_distinct — one two-stage aggregation instead of
      // distinct-shuffle + checkpoint-materialize + count-shuffle over
      // the largest pair set of the whole expansion.
      reach =
        if (k < hops) expanded.distinct().localCheckpoint()
        else expanded
    }
    reach.groupBy(col("source").as("id"))
      .agg(count_distinct(col("id")).as("n_reach"))
  }

  /** The NEIGHBORHOOD FUNCTION N(k) = Σ_v |ball(v, k)| estimated by
    * HyperBall — the quantity the algorithm exists for (Boldi & Vigna
    * use it for effective diameter / centralities). One row per hop
    * 0..maxHops with the summed sketch estimates; per hop the driver
    * receives ONE scalar. The exact pair expansion is Θ(Σ|ball|) —
    * quadratic once balls reach component size — which is precisely
    * why the sketch path is the only one that survives diameter-scale
    * hops on a 100 TB graph. */
  def neighborhoodFunction(g: GraphState, maxHops: Int): DataFrame = {
    require(maxHops >= 0)
    import g.vertices.sparkSession.implicits._
    val e = undirected(g.edges)
    var sk = initSketches(g)
    def total(): Long = sk.agg(
      sum(hll_sketch_estimate(col("sk"))).cast("long")).collect()(0)
      .getLong(0)
    val out = Seq.newBuilder[(Long, Long)]
    out += ((0L, total()))
    var k = 0
    while (k < maxHops) {
      k += 1
      val next = hopStep(sk, e) // eager — sk is no longer reachable …
      // … so the superseded round's pinned blocks drop NOW, bounding
      // live sketch state to ~1 round instead of all rounds (the
      // family's observed heap floor carried every round's checkpoint
      // until driver GC — PLANS.md r12 ladder)
      org.apache.spark.sql.graft.shims.releaseLocalCheckpoint(sk)
      sk = next
      out += ((k.toLong, total()))
    }
    out.result().toDF("k", "n_est")
  }

  /** HyperBall: per-vertex HLL sketch of the ≤k-hop reach set.
    * Returns (id, estimate LONG). One aggregation + one join per hop;
    * sketch size is fixed, so shuffle volume is |E| sketches per round
    * independent of ball sizes. */
  def hyperBall(g: GraphState, hops: Int): DataFrame = {
    require(hops >= 0)
    val e = undirected(g.edges)
    var sk = initSketches(g)
    var k = 0
    while (k < hops) {
      k += 1
      val next = hopStep(sk, e) // eager; release the superseded round
      org.apache.spark.sql.graft.shims.releaseLocalCheckpoint(sk)
      sk = next
    }
    sk.select(col("id"), hll_sketch_estimate(col("sk")).as("estimate"))
  }

  /** HyperBall with PER-HOP snapshots: one row per vertex with columns
    * est_1..est_maxHops — the ≤k-hop ball-size estimate after each
    * round. The per-hop profile is what distance-distribution
    * centralities (harmonic, closeness) need; running [[hyperBall]]
    * k times would redo the earlier rounds each time. Same state
    * discipline: one fixed-size sketch per vertex per round,
    * localCheckpoint lineage cuts. */
  def hyperBallHops(g: GraphState, maxHops: Int): DataFrame = {
    require(maxHops >= 1)
    val e = undirected(g.edges)
    var sk = initSketches(g)
    var out: DataFrame = null
    var k = 0
    while (k < maxHops) {
      k += 1
      val next = hopStep(sk, e)
      val est = next.select(col("id"),
        hll_sketch_estimate(col("sk")).as(s"est_$k"))
      // roll the per-hop estimates into a CHECKPOINTED (id, est_1..k)
      // frame — |V| rows of doubles, far smaller than sketch state —
      // so the superseded round's sketch AND the previous rolling
      // frame release immediately: the lazy out-join formulation held
      // EVERY round's sketch checkpoint alive until the terminal
      // action, which is the hyperBallHops share of the family's
      // 1 GB/slot heap floor (PLANS.md r12 ladder)
      val newOut =
        if (out == null) est else out.join(est, Seq("id")).localCheckpoint()
      org.apache.spark.sql.graft.shims.releaseLocalCheckpoint(sk)
      if (out != null)
        org.apache.spark.sql.graft.shims.releaseLocalCheckpoint(out)
      sk = next
      out = newOut
    }
    // with ≥2 hops the returned frame is itself a checkpoint, so the
    // final round's sketch state is releasable too; at exactly 1 hop
    // `out` still reads through the sketch — keep it pinned
    if (maxHops > 1)
      org.apache.spark.sql.graft.shims.releaseLocalCheckpoint(sk)
    out
  }
}
