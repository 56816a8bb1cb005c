package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph traversals: bounded BFS, unweighted shortest paths, and
  * variable-length path enumeration (SURVEY.md §2.B D17/D18).
  *
  * The reference's BFS is single-node and buggy (follows `edge_type`
  * instead of `inbound_id`, lib/src/graph_engine/traversal.rs:31-35); we
  * implement the corrected semantics as a driver-orchestrated sequence of
  * distributed joins:
  *
  *  - frontier ⋈ edges per hop (shuffle on the join key; AQE broadcasts
  *    small frontiers),
  *  - `dropDuplicates` + anti-join against the visited set bounds work on
  *    cyclic graphs,
  *  - a lazy `localCheckpoint` per hop cuts the growing lineage so plans
  *    stay compilable at depth (the classic iterative-Spark pitfall).
  *
  * Each traversal has ONE distributed engine. Shortest paths put a driver
  * kernel ([[LocalPathKernel]], through [[KernelGate]]) in front of it for
  * graphs within the kernel bound, so their distributed loop serves large
  * graphs only; BFS and path enumeration have no kernel.
  *
  * Not expressible as a single Catalyst plan (SURVEY §4.2) — this IS the
  * idiomatic Spark shape for iteration, the same one [[GraphXBridge]]'s
  * whole-graph analytics use.
  */
object Traversals {

  /** [[bfs]] depth at or below which the hop loop runs NO driver-side
    * action: the caller's one action evaluates every hop (each hop is
    * still a lineage cut), instead of one loop-control `count()` per hop.
    * BFS has no driver kernel, so at bench SF a shallow BFS (g09,
    * depth 2) pays more in job scheduling than in data; unrolling trades
    * at most `LazyUnrollDepth` empty-frontier stages (cheap: empty
    * exchanges coalesce) for all of that. Deeper BFS keeps the per-hop
    * count: early exit saves hops there, and the periodic `visited` cut
    * keeps a 15-deep plan compilable. */
  private val LazyUnrollDepth = 8

  /** Partition count for every traversal exchange (edge cache + frontier
    * repartitions — must agree for co-partitioned hop joins). */
  private def traversalPartitions(spark: SparkSession): Int =
    math.min(8, spark.sessionState.conf.numShufflePartitions)

  /** Build traversal plans with AQE OFF (restored on exit) — for the
    * SIMPLE shapes only ([[bfs]]/[[paths]], and the iterations of
    * [[GraphXBridge.staticPageRank]]), whose every join is single-key
    * and co-partitioned by an explicit repartition: there
    * AQE has nothing to re-plan and each exchange costs a driver
    * materialization round, so static planning compiles each hop QE to
    * one job (g09 measured 0.66 → 0.48 s, 13 → 10 stages). Planning
    * happens at `localCheckpoint(eager=false)` call time (`toRdd`
    * forces it), so scoping the flag around plan CONSTRUCTION is
    * enough; the caller's outer query still plans under its own AQE
    * setting. Config writes are session-global, matching the
    * driver-sequential way traversals are issued.
    *
    * MEASURED AND REJECTED for the shortest-path engine
    * ([[shortestPathsPairs]]/[[shortestPathsFromTo]]): its compound-key
    * (source,id) anti-joins and reconstruct joins sit on UNION inputs
    * whose partitioning Spark cannot prove statically, so static plans
    * fall back to 32-partition sort-merge exchanges where AQE converts
    * to broadcasts at runtime — cy32 regressed 1.57 → 3.66 s (task
    * time 3.7 → 40 s, widest stage 24 → 136 tasks). AQE's runtime
    * broadcast conversion is load-bearing there; keep it. */
  private[engine] def withStaticPlanning[T](spark: SparkSession)(f: => T)
      : T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getAll.get(key)
    spark.conf.set(key, "false")
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def hopEdges(g: GraphState, edgeTypes: Seq[String],
      undirected: Boolean, reversed: Boolean = false): DataFrame = {
    val base = g.edges.select(col("id"), col("src"), col("dst"),
      col("edge_type"))
    val typed = if (edgeTypes.isEmpty) base
      else base.filter(col("edge_type").isin(edgeTypes: _*))
    val fwd = typed.select(col("id").as("eid"), col("src"), col("dst"))
    val bwd = typed.select(col("id").as("eid"), col("dst").as("src"),
      col("src").as("dst"))
    if (undirected) fwd.union(bwd) else if (reversed) bwd else fwd
  }

  /** Hop-edge table pre-partitioned by `src` and persisted by
    * [[SessionCache]], keyed by the canonicalized plan (same graph +
    * filter + direction → same entry); the registry bounds how many
    * tables stay persisted and unpersists the ones it evicts. An input
    * of the distributed engines only: the driver path kernels collect
    * the unshuffled hop edges instead.
    *
    * Why: every per-hop `localCheckpoint` starts its OWN QueryExecution,
    * and exchange reuse never crosses QueryExecutions — so an N-hop
    * traversal used to re-shuffle the full edge table N times (measured:
    * 3 × 17.9 MB exchanges in one 4-hop allShortestPaths at sf0.1). With
    * the edge side cached already hash-partitioned by the join key, a
    * hop join needs no edge-side exchange once the table is
    * materialized (a hop planned before that shuffles it once more).
    * The frontier side keeps its explicit partitioning on `id` only
    * under static planning ([[bfs]], [[paths]]): under AQE, as the
    * shortest-path engine plans, a lazy local checkpoint's LogicalRDD
    * reports UnknownPartitioning, so each of its hops shuffles its
    * frontier onto `id` (checked by printing each hop's plan). */
  private def partitionedEdges(df: DataFrame): DataFrame = {
    val n = traversalPartitions(df.sparkSession)
    SessionCache.ofPlan("traversal.edges", df, persist = true) {
      // explicit partition count: AQE never coalesces a user-specified
      // repartition, so the count is stable for co-partition matching
      df.repartition(n, col("src"))
    }
  }

  /** Bounded-depth BFS from a set of source vertex ids. Returns
    * (id, depth) with the MINIMUM depth per reached vertex (sources at 0).
    * Equivalently: unweighted shortest-path distance ≤ maxDepth.
    *
    * Past [[LazyUnrollDepth]], ONE eager Spark job per hop: the frontier
    * is marked for a LAZY local checkpoint and the loop-control `count()`
    * is the action that materializes it (LocalRDDCheckpointData persists
    * every partition at the end of the first job that computes the RDD),
    * ending the loop on an empty frontier. At or below it the same hops
    * run with no action at all. The edge side is the shared
    * [[partitionedEdges]] cache and the hop's explicit repartition lands
    * on `id`, so hop joins need no edge-side exchange at any depth. */
  def bfs(g: GraphState, sources: DataFrame, maxDepth: Int,
      edgeType: Option[String] = None, undirected: Boolean = false)
      : DataFrame = withStaticPlanning(sources.sparkSession) {
    val eager = maxDepth > LazyUnrollDepth
    val n = traversalPartitions(sources.sparkSession)
    val edges = partitionedEdges(hopEdges(g, edgeType.toSeq, undirected))
    var visited = sources
      .select(col(sources.columns.head).as("id"), lit(0).as("depth"))
      .dropDuplicates("id")
      .repartition(n, col("id")) // co-partition with the cached edge table
    if (eager) visited = visited.localCheckpoint(eager = false)
    var frontier = visited
    // the eager hop's single job: loop control + checkpoint in one pass
    def live(): Boolean = !eager || frontier.count() > 0
    var more = live()
    var depth = 0
    while (depth < maxDepth && more) {
      depth += 1
      frontier = frontier.hint("shuffle_hash") // build side: co-partitioned frontier, |frontier|/P per task
        .join(edges, frontier("id") === edges("src"))
        .select(col("dst").as("id"), lit(depth).as("depth"))
        .repartition(n, col("id")) // the hop's ONE exchange; satisfies the
        .dropDuplicates("id")      // dedup AND the next hop's join key
        .join(visited.select("id"), Seq("id"), "left_anti")
        .localCheckpoint(eager = false) // cut lineage; frontier is small
      more = live()
      visited = visited.union(frontier)
      // visited's lineage grows one cheap union per hop — only cut it
      // periodically; the lazy cut materializes inside the NEXT hop's
      // job (the anti-join reads visited), costing no extra job
      if (eager && depth % 3 == 0)
        visited = visited.localCheckpoint(eager = false)
    }
    visited
  }

  /** Batched multi-source unweighted shortest paths with distributed path
    * reconstruction. `pairs`: two string columns (source id, target id);
    * returns (src, dst, path ARRAY<STRING> of vertex ids, epath
    * ARRAY<STRING> of edge ids, length) — one row per pair whose target
    * is reachable within maxDepth, no rows otherwise.
    *
    * ALL pairs advance through ONE frontier DataFrame keyed by
    * (source, vertex): a MATCH producing thousands of endpoint pairs runs
    * the same bounded number of distributed hops as a single pair — no
    * per-pair driver loop, no per-hop collect. Predecessors resolve by
    * `min` per (source, vertex), making paths deterministic. See
    * [[frontierPaths]] for the loop and its exits. */
  def shortestPathsPairs(g: GraphState, pairs: DataFrame, maxDepth: Int,
      edgeTypes: Seq[String] = Nil, undirected: Boolean = false,
      all: Boolean = false): DataFrame = {
    // small graphs (r14): driver BFS kernel over the plain forward hop
    // edges — the frontier loop's cost at bench SF is job/planning
    // latency, not data (guide §8); above the shared size bound the
    // distributed loop below, with its partitioned edge table, is the
    // 100 TB path
    LocalPathKernel.pairsPaths(hopEdges(g, edgeTypes, undirected = false),
        undirected, pairs, maxDepth, all).getOrElse {
      val p = pairs
        .select(col(pairs.columns(0)).as("__a"),
          col(pairs.columns(1)).as("__b"))
        .dropDuplicates("__a", "__b")
      val self = p.filter(col("__a") === col("__b"))
        .select(col("__a"), col("__b"), array(col("__a")).as("path"),
          array().cast("array<string>").as("epath"), lit(0L).as("length"))
      // `p` stays lazy: `self` is only read in the final union
      val targets = p.filter(col("__a") =!= col("__b"))
        .select(col("__a").as("source"), col("__b").as("id"))
        .localCheckpoint(eager = false)
      val remaining = targets.count() // materializes the checkpoint
      self.union(frontierPaths(g, targets.select(col("source").as("__a"))
        .dropDuplicates("__a"), targets, remaining, maxDepth, edgeTypes,
        undirected, all))
    }
  }

  /** The distributed shortest-path engine of [[shortestPathsPairs]] and
    * [[shortestPathsFromTo]]: an eager frontier loop from the distinct
    * `srcs` (__a), then ONE end join of the reached set against
    * `targets`, then the fused [[reconstruct]] walk. `targets` holds
    * (source, id) pairs or bare (id) targets of every source; its
    * columns are the join key. `remaining` is how many distinct
    * non-self (source, target) pairs are sought. Returns
    * (__a, __b, path, epath, length) for the pairs found.
    *
    * Each hop is [[spHop]] plus ONE job: a left-outer pass of the new
    * frontier against `targets` yields the frontier size and the new
    * hits together, and, as the first job computing the frontier,
    * materializes its local checkpoint. The tree admits each
    * (source, vertex) once, at its minimal depth, so a found pair never
    * re-counts and the end join equals per-hop hit extraction. The loop
    * exits on an empty frontier, when every pair is found, or at
    * maxDepth; reconstruction walks only to the deepest length found.
    * Sources whose pairs are all found keep expanding until that global
    * exit — no per-source retirement (3 joins + 2 checkpoints per hop
    * it would cost). */
  private def frontierPaths(g: GraphState, srcs: DataFrame,
      targets: DataFrame, remaining: Long, maxDepth: Int,
      edgeTypes: Seq[String], undirected: Boolean, all: Boolean)
      : DataFrame = {
    val edges = partitionedEdges(hopEdges(g, edgeTypes, undirected))
    val keys = targets.columns.toSeq
    val hitMark = targets.withColumn("__hit", lit(1))
    // predecessor table: (source, id, depth, preds ARRAY<STRUCT<pred,
    // prededge>>) — one entry in the single-path mode, every minimal
    // predecessor in all-shortest-paths mode
    val emptyPreds = array()
      .cast("array<struct<pred:string,prededge:string>>")
    var visited = srcs
      .select(col("__a").as("source"), col("__a").as("id"),
        lit(0).as("depth"), emptyPreds.as("preds"))
      .localCheckpoint(eager = false) // materializes inside hop 1's job
    var frontier = visited.select("source", "id")
    var left = remaining
    var frontierNonEmpty = true
    var depth = 0
    var maxLen = 0 // deepest hit depth, tracked driver-side
    while (depth < maxDepth && left > 0 && frontierNonEmpty) {
      depth += 1
      val nxt = spHop(frontier, edges, visited, depth, all)
      // `targets` is unique on its key, so the left-outer join is 1:≤1
      val stats = nxt.join(hitMark, keys, "left_outer")
        .agg(count(lit(1)).as("n"), count(col("__hit")).as("hits"))
        .head()
      val nHits = stats.getLong(1)
      frontierNonEmpty = stats.getLong(0) > 0
      if (nHits > 0) { left -= nHits; maxLen = depth }
      visited = visited.union(nxt)
      // lazy cut: materializes inside the NEXT hop's job via the
      // anti-join read — no standalone re-materialization job
      if (depth % 3 == 0) visited = visited.localCheckpoint(eager = false)
      frontier = nxt.select("source", "id")
    }
    val found = visited.filter(col("depth") > 0)
      .join(targets, keys)
      .select(col("source").as("__a"), col("id").as("__b"),
        col("depth").cast("long").as("length"))
    reconstruct(found, visited, maxLen)
  }

  /** One hop of the shortest-path engine: the `frontier` (source, id)
    * rows ⋈ the src-partitioned `edges`, grouped per (source, dst) into
    * their predecessor entries, minus the (source, id) pairs `visited`
    * holds. Returns the new (source, id, depth, preds) rows under a lazy
    * local checkpoint. Single mode keeps the deterministic predecessor
    * (min vertex, then min edge); `all` mode keeps EVERY minimal one,
    * sorted for a deterministic reconstruction order.
    *
    * The explicit repartition on `dst` satisfies the (source, dst)
    * grouping (subset clustering). It does not reach the next hop:
    * planned under AQE, the lazy checkpoint's LogicalRDD reports
    * UnknownPartitioning, so the next hop's join inserts a second,
    * frontier-sized exchange on `id` (checked by printing each hop's
    * plan at bound 0). The edge cache is not re-shuffled once
    * materialized.
    *
    * Every hop is a lineage cut. A frontier frame has two consumers
    * (the next hop's join and the visited union read by every later
    * anti-join), so without cuts the plan duplicates per hop. MEASURED
    * at 1 hop per cut: the ReusedExchange dedup of duplicated hop
    * subtrees did NOT engage under AQE for this hop shape (cy32 at a cut
    * every 3rd hop: 72 stages / 137 s task time vs 29 / 37 s at every
    * hop) — every un-cut hop re-executed its whole upstream chain. Keep
    * per-hop cuts until exchange reuse across duplicated subtrees is
    * demonstrated. */
  private def spHop(frontier: DataFrame, edges: DataFrame,
      visited: DataFrame, depth: Int, all: Boolean): DataFrame = {
    val pred = struct(col("src").as("pred"), col("eid").as("prededge"))
    val predsAgg =
      if (all) array_sort(collect_set(pred)) else array(min(pred))
    frontier.hint("shuffle_hash")
      .join(edges, frontier("id") === edges("src"))
      .repartition(traversalPartitions(frontier.sparkSession), col("dst"))
      .groupBy(col("source"), col("dst"))
      .agg(predsAgg.as("preds"))
      .select(col("source"), col("dst").as("id"), lit(depth).as("depth"),
        col("preds"))
      .join(visited.select("source", "id"), Seq("source", "id"), "left_anti")
      .localCheckpoint(eager = false)
  }

  /** Backward path reconstruction over the [[frontierPaths]] predecessor
    * table, fused: a finished row (cur == source) joins the depth-0
    * visited entry whose preds array is EMPTY, so explode_outer passes it
    * through unchanged — no fin/working split, one consumer per round,
    * ZERO checkpoints: the whole walk is one QueryExecution in which the
    * per-round `preds` exchanges are identical subplans Spark collapses
    * via ReusedExchange. `found`: (__a source, __b target, length);
    * returns (__a, __b, path, epath, length). */
  private def reconstruct(found: DataFrame, visited: DataFrame,
      rounds: Int): DataFrame = {
    val preds = visited.select(col("source"), col("id"), col("preds"))
    var working = found.select(col("__a"), col("__b"), col("length"),
      array(col("__b")).as("path"),
      array().cast("array<string>").as("epath"), col("__b").as("cur"))
    var i = 0
    while (i < rounds) {
      i += 1
      working = working
        .join(preds, working("cur") === preds("id") &&
          working("__a") === preds("source"))
        .select(col("__a"), col("__b"), col("length"), col("path"),
          col("epath"), col("cur"), explode_outer(col("preds")).as("p"))
        .select(col("__a"), col("__b"), col("length"),
          when(col("p").isNull, col("path"))
            .otherwise(concat(array(col("p.pred")), col("path"))).as("path"),
          when(col("p").isNull, col("epath"))
            .otherwise(concat(array(col("p.prededge")), col("epath")))
            .as("epath"),
          coalesce(col("p.pred"), col("cur")).as("cur"))
    }
    working.select(col("__a"), col("__b"), col("path"), col("epath"),
      col("length"))
  }

  /** Batched shortest paths from EVERY source to EVERY target (cartesian
    * pair semantics) WITHOUT materializing the source×target product —
    * the product of two MATCHed endpoint sets plans as an unbroadcast
    * CartesianProductExec whose partition count is the PRODUCT of its
    * sides (measured: 42×42 = 1764 tasks and 47 s of task time at sf1
    * just to enumerate (customer c:1 × part) pairs the traversal then
    * dedups back down). Here sources drive one frontier expansion and
    * targets join once against the reached set ([[frontierPaths]]); only
    * FOUND pairs ever exist as rows. */
  def shortestPathsFromTo(g: GraphState, sources: DataFrame,
      targets: DataFrame, maxDepth: Int, edgeTypes: Seq[String] = Nil,
      undirected: Boolean = false, all: Boolean = false): DataFrame = {
    // both endpoint sets are multiply consumed (self + frontier / found
    // join) and may sit on expensive scans — one lazy checkpoint each
    // keeps those scans single-execution
    val srcs = sources.select(col(sources.columns.head).as("__a"))
      .dropDuplicates("__a")
      .localCheckpoint(eager = false)
    val tgts = targets.select(col(targets.columns.head).as("__b"))
      .dropDuplicates("__b")
      .localCheckpoint(eager = false)
    // small graphs (r14): driver BFS kernel (see shortestPathsPairs);
    // the probes materialize the endpoint checkpoints either way
    LocalPathKernel.fromTo(hopEdges(g, edgeTypes, undirected = false),
        undirected, srcs, tgts, maxDepth, all).getOrElse {
      val self = srcs.join(tgts, col("__a") === col("__b"))
        .select(col("__a"), col("__b"), array(col("__a")).as("path"),
          array().cast("array<string>").as("epath"), lit(0L).as("length"))
      // |srcs|, |tgts| and |self| in one job (materializes both endpoint
      // checkpoints): a full outer join keeps every row of either side,
      // null ids included, and matches exactly self's pairs
      val n = srcs.withColumn("__s", lit(true))
        .join(tgts.withColumn("__t", lit(true)),
          col("__a") === col("__b"), "full_outer")
        .agg(count(col("__s")), count(col("__t")),
          count(when(col("__s") && col("__t"), true)))
        .head()
      val (nSrc, nTgt, nSelf) = (n.getLong(0), n.getLong(1), n.getLong(2))
      if (nSrc == 0 || nTgt == 0) self
      else self.union(frontierPaths(g, srcs, tgts.select(col("__b")
        .as("id")), nSrc * nTgt - nSelf, maxDepth, edgeTypes,
        undirected, all))
    }
  }

  /** Single-pair convenience over the batched engine (kept for API
    * compatibility; point lookups share the distributed path). */
  def shortestPathBetween(g: GraphState, srcId: String, dstId: String,
      maxDepth: Int, edgeType: Option[String] = None,
      undirected: Boolean = false)(implicit spark: SparkSession)
      : Option[Seq[String]] = {
    import spark.implicits._
    val pairs = Seq((srcId, dstId)).toDF("__a", "__b")
    shortestPathsPairs(g, pairs, maxDepth, edgeType.toSeq, undirected)
      .collect().headOption.map(_.getSeq[String](2))
  }

  /** Variable-length path enumeration `[*minDepth..maxDepth]` (QE:115-118):
    * returns (path ARRAY<STRING>, endId, depth) for every simple path
    * (cycle-guard: a vertex appears at most once per path). Exponential by
    * nature — always bound maxDepth; each expansion is one join. */
  def paths(g: GraphState, sources: DataFrame, minDepth: Int, maxDepth: Int,
      t: Seq[String] = Nil, undirected: Boolean = false,
      reversed: Boolean = false): DataFrame =
      withStaticPlanning(sources.sparkSession) {
    require(maxDepth >= 1 && minDepth >= 1 && minDepth <= maxDepth)
    val n = traversalPartitions(sources.sparkSession)
    val edges = partitionedEdges(hopEdges(g, t, undirected, reversed))
    var cur = sources
      .select(array(col(sources.columns.head)).as("path"),
        array().cast("array<string>").as("epath"),
        col(sources.columns.head).as("endId"), lit(0).as("depth"))
      .repartition(n, col("endId")) // co-partition with the edge cache
    var acc: DataFrame = null
    var depth = 0
    var cnt = cur.count()
    while (depth < maxDepth && cnt > 0) {
      depth += 1
      // Cypher trail semantics: a RELATIONSHIP may not repeat within a
      // path (vertices may — (a)-[e1]->(b)-[e2]->(a) is a valid trail).
      cur = cur.hint("shuffle_hash")
        .join(edges, cur("endId") === edges("src"))
        .filter(!array_contains(col("epath"), col("eid")))
        .select(concat(col("path"), array(col("dst"))).as("path"),
          concat(col("epath"), array(col("eid"))).as("epath"),
          col("dst").as("endId"), lit(depth).as("depth"))
        .repartition(n, col("endId")) // next hop joins co-partitioned
        .localCheckpoint(eager = false)
      cnt = cur.count() // one job: loop control + checkpoint in one pass
      if (depth >= minDepth)
        acc = if (acc == null) cur else acc.union(cur)
    }
    val out = if (acc == null) cur.limit(0) else acc
    out.select(col("path"), col("endId"), col("depth"))
  }
}
