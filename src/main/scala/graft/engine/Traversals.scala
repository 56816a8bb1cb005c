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
  *  - `localCheckpoint` every few hops cuts the growing lineage so plans
  *    stay compilable at depth (the classic iterative-Spark pitfall).
  *
  * Not expressible as a single Catalyst plan (SURVEY §4.2) — this IS the
  * idiomatic Spark shape for iteration; GraphX Pregel (GraphXBridge) is
  * the alternative for whole-graph analytics.
  */
object Traversals {

  /** Depth at or below which traversals build ONE fully-lazy unrolled
    * plan (zero driver-side actions — the caller's action runs the whole
    * traversal as a single Spark job) instead of the per-hop
    * action-driven loop. At local[32] a scheduled job costs ~0.2–0.4 s of
    * pure latency, so a maxDepth-4 shortest-path query pays more in job
    * scheduling than in data movement; unrolling trades at most
    * `threshold` empty-frontier shuffle stages (cheap: AQE coalesces
    * empty exchanges) for all of that. Deeper traversals keep the loop:
    * early exit actually saves hops there, and a 15-deep unrolled plan
    * with no materialization barrier risks compile-time blowup.
    * Conf-overridable (`spark.graft.traversal.lazyUnrollDepth`) for
    * regime A/Bs — set 0 to force the eager early-exit loop at any
    * depth. Round-10 cy32 A/B (idle box, min-of-2 × 2 sessions): lazy
    * 2.5–3.0 s / 32 stages vs eager-forced 3.4–3.9 s / 41 stages — the
    * per-hop loop-control jobs cost more than early exit saves even
    * when expansion dies at depth 2 of 4, so lazy stays the shallow
    * default. */
  private def LazyUnrollDepth: Int =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.traversal.lazyUnrollDepth", "8").toInt

  /** Partition count for every traversal exchange (edge cache + frontier
    * repartitions — must agree for co-partitioned hop joins). */
  private def traversalPartitions(spark: SparkSession): Int =
    math.min(8, spark.sessionState.conf.numShufflePartitions)

  /** Build traversal plans with AQE OFF (restored on exit) — for the
    * SIMPLE traversal shapes only ([[bfs]]/[[paths]]), whose every join
    * is single-key and co-partitioned at [[traversalPartitions]]: there
    * AQE has nothing to re-plan and each exchange costs a driver
    * materialization round, so static planning compiles each hop QE to
    * one job (g09 measured 0.66 → 0.48 s, 13 → 10 stages). Planning
    * happens at `localCheckpoint(eager=false)` call time (`toRdd`
    * forces it), so scoping the flag around plan CONSTRUCTION is
    * enough; the caller's outer query still plans under its own AQE
    * setting. Config writes are session-global, matching the
    * driver-sequential way traversals are issued.
    *
    * MEASURED AND REJECTED for the pairs/tree engines
    * ([[shortestPathsPairs]]/[[spTree]]): their compound-key
    * (source,id) anti-joins and reconstruct joins sit on UNION inputs
    * whose partitioning Spark cannot prove statically, so static plans
    * fall back to 32-partition sort-merge exchanges where AQE converts
    * to broadcasts at runtime — cy32 regressed 1.57 → 3.66 s (task
    * time 3.7 → 40 s, widest stage 24 → 136 tasks). AQE's runtime
    * broadcast conversion is load-bearing there; keep it. */
  private def withStaticPlanning[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, prev)
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
    * tables stay persisted and unpersists the ones it evicts.
    *
    * Why: every per-hop `localCheckpoint` starts its OWN QueryExecution,
    * and exchange reuse never crosses QueryExecutions — so an N-hop
    * traversal used to re-shuffle the full edge table N times (measured:
    * 3 × 17.9 MB exchanges in one 4-hop allShortestPaths at sf0.1). With
    * the edge side cached already hash-partitioned by the join key, and
    * each frontier checkpoint explicitly co-partitioned on `id` (the
    * LogicalRDD a checkpoint produces preserves its child's partitioning),
    * hop joins need NO exchange on either side at any depth. */
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
    * ONE eager Spark job per hop: the frontier is marked for a LAZY
    * local checkpoint and the loop-control `count()` is the action that
    * materializes it (LocalRDDCheckpointData persists every partition at
    * the end of the first job that computes the RDD). The former
    * eager-checkpoint + isEmpty pair cost two scheduled jobs per hop —
    * at local[32] job scheduling, not data, dominates these traversals. */
  def bfs(g: GraphState, sources: DataFrame, maxDepth: Int,
      edgeType: Option[String] = None, undirected: Boolean = false)
      : DataFrame = withStaticPlanning(sources.sparkSession) {
    if (maxDepth <= LazyUnrollDepth)
      return bfsLazy(g, sources, maxDepth, edgeType.toSeq, undirected)
    val n = traversalPartitions(sources.sparkSession)
    val edges = partitionedEdges(hopEdges(g, edgeType.toSeq, undirected))
    var visited = sources
      .select(col(sources.columns.head).as("id"), lit(0).as("depth"))
      .dropDuplicates("id")
      .repartition(n, col("id")) // co-partition with the cached edge table
      .localCheckpoint(eager = false)
    var frontier = visited
    var cnt = frontier.count() // materializes the lazy checkpoint
    var depth = 0
    while (depth < maxDepth && cnt > 0) {
      depth += 1
      frontier = frontier.hint("shuffle_hash") // build side: co-partitioned frontier, |frontier|/P per task
        .join(edges, frontier("id") === edges("src"))
        .select(col("dst").as("id"), lit(depth).as("depth"))
        .repartition(n, col("id")) // the hop's ONE exchange; satisfies the
        .dropDuplicates("id")      // dedup AND the next hop's join key
        .join(visited.select("id"), Seq("id"), "left_anti")
        .localCheckpoint(eager = false) // cut lineage; frontier is small
      cnt = frontier.count() // the hop's single job
      visited = visited.union(frontier)
      // visited's lineage grows one cheap union per hop — only cut it
      // periodically; the lazy cut materializes inside the NEXT hop's
      // job (the anti-join reads visited), costing no extra job
      if (depth % 3 == 0) visited = visited.localCheckpoint(eager = false)
    }
    visited
  }

  /** Hops between lineage cuts in the lazy unrolls. A frontier frame has
    * two consumers (next hop's join + the visited union read by every
    * later anti-join), so without cuts the plan DUPLICATES per hop —
    * but inside ONE QueryExecution the duplicated hop subtrees all end
    * at the same explicit repartition, which Spark collapses via
    * ReusedExchange: they are compiled twice yet EXECUTED once. A cut
    * every 3rd hop bounds plan copies at 2³ while keeping the whole
    * traversal a handful of QueryExecutions — each checkpoint is a
    * whole extra QueryExecution whose sequential stage latency, not
    * data, dominated these traversals at local[32].
    *
    * MEASURED at 1: the ReusedExchange dedup of duplicated hop subtrees
    * did NOT engage under AQE for the shortest-path hop shape (cy32 at
    * cut=3: 72 stages / 137 s task time vs 29 / 37 s at cut=1) — every
    * un-cut hop re-executed its whole upstream chain. Keep per-hop cuts
    * until exchange reuse across duplicated subtrees is demonstrated. */
  private val HopsPerLineageCut = 1

  /** Fully-lazy BFS (maxDepth ≤ [[LazyUnrollDepth]]): the hop chain is
    * unrolled with NO driver actions — the caller's one action evaluates
    * every hop. The edge side is the shared [[partitionedEdges]] cache
    * and the hop's explicit repartition lands on `id`, so hop joins need
    * no edge-side exchange at any depth (formerly each hop re-shuffled
    * the full edge table: exchange reuse never crosses the
    * per-checkpoint QueryExecution boundary). Lineage cuts only every
    * [[HopsPerLineageCut]] hops; `visited` is a plain union of hop
    * frames — never checkpointed. */
  private def bfsLazy(g: GraphState, sources: DataFrame, maxDepth: Int,
      edgeTypes: Seq[String], undirected: Boolean): DataFrame = {
    val n = traversalPartitions(sources.sparkSession)
    val edges = partitionedEdges(hopEdges(g, edgeTypes, undirected))
    var visited = sources
      .select(col(sources.columns.head).as("id"), lit(0).as("depth"))
      .dropDuplicates("id")
      .repartition(n, col("id"))
    var frontier = visited
    var depth = 0
    while (depth < maxDepth) {
      depth += 1
      frontier = frontier.hint("shuffle_hash") // build side: co-partitioned frontier, |frontier|/P per task
        .join(edges, frontier("id") === edges("src"))
        .select(col("dst").as("id"), lit(depth).as("depth"))
        .repartition(n, col("id"))
        .dropDuplicates("id")
        .join(visited.select("id"), Seq("id"), "left_anti")
      if (depth % HopsPerLineageCut == 0)
        frontier = frontier.localCheckpoint(eager = false)
      visited = visited.union(frontier)
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
    * `min` per (source, vertex), making paths deterministic. Sources whose
    * every target is found drop out of the frontier; the loop exits early
    * when no targets remain. Reconstruction walks the predecessor table
    * backward with one join per path hop (≤ the found maximum depth). */
  def shortestPathsPairs(g: GraphState, pairs: DataFrame, maxDepth: Int,
      edgeTypes: Seq[String] = Nil, undirected: Boolean = false,
      all: Boolean = false): DataFrame = {
    // small graphs (r14): driver BFS kernel — the frontier loop's cost
    // at bench SF is job/planning latency, not data (guide §8); above
    // the shared size bound the distributed engines below are the
    // unchanged 100 TB path
    LocalPathKernel.pairsPaths(
        partitionedEdges(hopEdges(g, edgeTypes, undirected)),
        pairs, maxDepth, all) match {
      case Some(df) => return df
      case None =>
    }
    if (maxDepth <= LazyUnrollDepth)
      return shortestPathsPairsLazy(g, pairs, maxDepth, edgeTypes,
        undirected, all)
    val n = traversalPartitions(pairs.sparkSession)
    val edges = partitionedEdges(hopEdges(g, edgeTypes, undirected))
    locally {
      // `p` stays lazy: `self` is only read in the final union and
      // `targets0` is checkpointed right below — one materialization.
      val p = pairs
        .select(col(pairs.columns(0)).as("__a"),
          col(pairs.columns(1)).as("__b"))
        .dropDuplicates("__a", "__b")
      val self = p.filter(col("__a") === col("__b"))
        .select(col("__a"), col("__b"), array(col("__a")).as("path"),
          array().cast("array<string>").as("epath"), lit(0L).as("length"))
      val targets0 = p.filter(col("__a") =!= col("__b"))
        .localCheckpoint(eager = false)
      var remaining = targets0.count() // materializes targets0's checkpoint
      // predecessor table: (source, id, depth, preds ARRAY<STRUCT<pred,
      // prededge>>) — one entry in the single-path mode, every minimal
      // predecessor in all-shortest-paths mode
      val emptyPreds = array()
        .cast("array<struct<pred:string,prededge:string>>")
      var visited = targets0.select(col("__a").as("source"))
        .dropDuplicates("source")
        .select(col("source"), col("source").as("id"), lit(0).as("depth"),
          emptyPreds.as("preds"))
        .repartition(n, col("id")) // co-partition with the edge cache
        .localCheckpoint(eager = false) // materializes inside hop 1's job
      var frontier = visited.select("source", "id")
      var foundParts = List.empty[DataFrame]
      // targets still outstanding: a lazy anti-join accumulation over the
      // (lazily checkpointed) hit batches — never more than maxDepth deep
      var tl = targets0
      var depth = 0
      var maxLen = 0L // deepest hit depth, tracked driver-side
      var frontierNonEmpty = remaining > 0
      while (depth < maxDepth && remaining > 0 && frontierNonEmpty) {
        depth += 1
        // single mode: the deterministic predecessor (min vertex, then
        // min edge). all mode: EVERY minimal predecessor entry, sorted
        // for deterministic reconstruction order.
        val predsAgg =
          if (all) array_sort(collect_set(
            struct(col("src").as("pred"), col("eid").as("prededge"))))
          else array(min(
            struct(col("src").as("pred"), col("eid").as("prededge"))))
        // the explicit repartition on `dst` is the hop's one exchange: it
        // satisfies the (source,dst) grouping (subset clustering) AND —
        // renamed to `id` and preserved through the checkpoint — the next
        // hop's join key against the src-partitioned edge cache
        val nxt = frontier.hint("shuffle_hash")
          .join(edges, frontier("id") === edges("src"))
          .repartition(n, col("dst"))
          .groupBy(col("source"), col("dst"))
          .agg(predsAgg.as("preds"))
          .select(col("source"), col("dst").as("id"), lit(depth).as("depth"),
            col("preds"))
          .join(visited.select("source", "id"), Seq("source", "id"),
            "left_anti")
          .localCheckpoint(eager = false)
        // THE hop's one eager job: a single left-outer pass over nxt
        // yields both the frontier size (loop control) and the hit count
        // — and, as the first job computing nxt, materializes its local
        // checkpoint. The former shape (eager checkpoint + hits
        // checkpoint + count + isEmpty) scheduled 4 jobs per hop; on a
        // frontier-bounded query the job overhead WAS the latency.
        val tlMark = tl.select(col("__a"), col("__b"), lit(1).as("__hit"))
        val stats = nxt.join(tlMark,
            nxt("source") === tlMark("__a") && nxt("id") === tlMark("__b"),
            "left_outer") // (source,id) and (__a,__b) both unique: 1:≤1
          .agg(count(lit(1)).as("n"), count(col("__hit")).as("hits"))
          .head()
        val nTotal = stats.getLong(0)
        val nHits = stats.getLong(1)
        visited = visited.union(nxt)
        // lazy cut: materializes inside the NEXT hop's job via the
        // anti-join read — no standalone re-materialization job
        if (depth % 3 == 0) visited = visited.localCheckpoint(eager = false)
        if (nHits > 0) {
          val hits = nxt
            .join(tl, nxt("source") === tl("__a") && nxt("id") === tl("__b"))
            .select(col("__a"), col("__b"), col("depth").cast("long")
              .as("length"))
            .localCheckpoint(eager = false) // computed in next hop's job
          foundParts ::= hits
          tl = tl.join(hits.select("__a", "__b"), Seq("__a", "__b"),
            "left_anti")
          remaining -= nHits
          maxLen = depth.toLong
          // sources with no outstanding targets stop expanding
          frontier = nxt.select("source", "id").join(
            tl.select(col("__a").as("source")), Seq("source"), "left_semi")
        } else frontier = nxt.select("source", "id")
        frontierNonEmpty = nTotal > 0
      }
      if (foundParts.isEmpty) return self
      val found = foundParts.reduce(_.union(_))
      // Walk predecessors backward, all pairs at once, in ONE dataflow: a
      // finished row (cur == source) joins the depth-0 visited entry,
      // whose preds array is EMPTY, so explode_outer passes it through
      // unchanged — rows self-retire with no fin/working split. `working`
      // therefore has a SINGLE consumer per round: the plan grows
      // linearly, and only a periodic lineage cut is needed to bound
      // compile depth for deep reconstructions (each cut is one more
      // QueryExecution of sequential stage latency, so don't cut more
      // often than plan depth demands). In all mode the explode fans one
      // partial path out per predecessor — every minimal route
      // reconstructs in the same bounded round count.
      val preds = visited.select(col("source"), col("id"), col("preds"))
      var working = found.select(col("__a"), col("__b"), col("length"),
        array(col("__b")).as("path"),
        array().cast("array<string>").as("epath"), col("__b").as("cur"))
      var i = 0L
      while (i < maxLen) {
        i += 1
        working = working
          .join(preds, working("cur") === preds("id") &&
            working("__a") === preds("source"))
          .select(col("__a"), col("__b"), col("length"), col("path"),
            col("epath"), col("cur"), explode_outer(col("preds")).as("p"))
          .select(col("__a"), col("__b"), col("length"),
            when(col("p").isNull, col("path"))
              .otherwise(concat(array(col("p.pred")), col("path")))
              .as("path"),
            when(col("p").isNull, col("epath"))
              .otherwise(concat(array(col("p.prededge")), col("epath")))
              .as("epath"),
            coalesce(col("p.pred"), col("cur")).as("cur"))
        if (i % 4 == 0) working = working.localCheckpoint(eager = false)
      }
      self.union(working.select(col("__a"), col("__b"), col("path"),
        col("epath"), col("length")))
    }
  }

  /** Lazily-unrolled shortest-path TREE from a set of sources: per-hop
    * frontier expansion with min-depth dedup, ZERO driver-side actions.
    * `sources` must have a single column; returns the predecessor table
    * (source, id, depth, preds ARRAY<STRUCT<pred,prededge>>) with one row
    * per (source, reached vertex) at its MINIMAL depth (sources at 0,
    * empty preds). The edge side is the shared [[partitionedEdges]]
    * cache and each hop checkpoint is explicitly partitioned on its join
    * key, so a hop's QueryExecution has exactly one (tiny) exchange —
    * the full edge table is never re-shuffled. No per-hop hit
    * extraction / target retirement: the lazy unroll runs all maxDepth
    * hops regardless, so retirement bookkeeping (formerly 3 joins + 2
    * checkpoints per hop) bought nothing — callers join targets against
    * the returned tree once. In `all` mode every minimal predecessor at
    * the SAME depth is kept. */
  private def spTree(g: GraphState, sources: DataFrame, maxDepth: Int,
      edgeTypes: Seq[String], undirected: Boolean, all: Boolean)
      : DataFrame = {
    val n = traversalPartitions(sources.sparkSession)
    val edges = partitionedEdges(hopEdges(g, edgeTypes, undirected))
    val emptyPreds = array()
      .cast("array<struct<pred:string,prededge:string>>")
    var visited = sources
      .select(col(sources.columns.head).as("source"))
      .dropDuplicates("source")
      .select(col("source"), col("source").as("id"), lit(0).as("depth"),
        emptyPreds.as("preds"))
      .repartition(n, col("id"))
    var frontier = visited.select("source", "id")
    var depth = 0
    while (depth < maxDepth) {
      depth += 1
      val predsAgg =
        if (all) array_sort(collect_set(
          struct(col("src").as("pred"), col("eid").as("prededge"))))
        else array(min(
          struct(col("src").as("pred"), col("eid").as("prededge"))))
      // repartition on `dst` satisfies the (source,dst) grouping (subset
      // clustering) and, renamed to `id`, the next hop's join key
      var nxt = frontier.hint("shuffle_hash")
        .join(edges, frontier("id") === edges("src"))
        .repartition(n, col("dst"))
        .groupBy(col("source"), col("dst"))
        .agg(predsAgg.as("preds"))
        .select(col("source"), col("dst").as("id"), lit(depth).as("depth"),
          col("preds"))
        .join(visited.select("source", "id"), Seq("source", "id"),
          "left_anti")
      if (depth % HopsPerLineageCut == 0)
        nxt = nxt.localCheckpoint(eager = false)
      visited = visited.union(nxt)
      frontier = nxt.select("source", "id")
    }
    visited
  }

  /** Backward path reconstruction over a [[spTree]] predecessor table,
    * fused: a finished row (cur == source) joins the depth-0 visited
    * entry whose preds array is EMPTY, so explode_outer passes it
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

  /** Fully-lazy batched shortest paths over an explicit pair list
    * (maxDepth ≤ [[LazyUnrollDepth]]): [[spTree]] from the distinct
    * sources, then ONE end-join of the reached set against the pair set
    * (equivalent to per-hop hit extraction: the tree admits each
    * (source, vertex) exactly once, at minimal depth), then the fused
    * [[reconstruct]] walk.
    *
    * MEASURED AND REJECTED: bounding the reconstruct rounds by the
    * actual deepest found length (one driver `max(length)` action on a
    * checkpointed `found`) — the extra QueryExecution costs more than
    * the pass-through rounds it saves (cy32 1.99 → 2.55 s, sp01
    * 1.24 → 1.58 s; a self-retired row's round is a broadcast-join
    * no-op, the action is ~3 stages of scheduling latency). */
  private def shortestPathsPairsLazy(g: GraphState, pairs: DataFrame,
      maxDepth: Int, edgeTypes: Seq[String], undirected: Boolean,
      all: Boolean): DataFrame = {
    val p = pairs
      .select(col(pairs.columns(0)).as("__a"),
        col(pairs.columns(1)).as("__b"))
      .dropDuplicates("__a", "__b")
      .localCheckpoint(eager = false)
    val self = p.filter(col("__a") === col("__b"))
      .select(col("__a"), col("__b"), array(col("__a")).as("path"),
        array().cast("array<string>").as("epath"), lit(0L).as("length"))
    val targets = p.filter(col("__a") =!= col("__b"))
    val visited = spTree(g, targets.select(col("__a")), maxDepth,
      edgeTypes, undirected, all)
    val found = visited.filter(col("depth") > 0)
      .join(targets, col("source") === col("__a") && col("id") === col("__b"))
      .select(col("__a"), col("__b"), col("depth").cast("long").as("length"))
    self.union(reconstruct(found, visited, maxDepth))
  }

  /** Batched shortest paths from EVERY source to EVERY target (cartesian
    * pair semantics) WITHOUT materializing the source×target product —
    * the product of two MATCHed endpoint sets plans as an unbroadcast
    * CartesianProductExec whose partition count is the PRODUCT of its
    * sides (measured: 42×42 = 1764 tasks and 47 s of task time at sf1
    * just to enumerate (customer c:1 × part) pairs the traversal then
    * dedups back down). Here sources drive one tree expansion and
    * targets join once against the reached set; only FOUND pairs ever
    * exist as rows — in BOTH regimes: the lazy unroll up to
    * [[LazyUnrollDepth]], and an eager per-hop loop past it (early exit
    * on empty frontier or all pairs found; no per-source retirement —
    * a source whose targets are all found keeps expanding until the
    * GLOBAL exit, the price of never building the pair table). */
  def shortestPathsFromTo(g: GraphState, sources: DataFrame,
      targets: DataFrame, maxDepth: Int, edgeTypes: Seq[String] = Nil,
      undirected: Boolean = false, all: Boolean = false): DataFrame = {
    // both endpoint sets are multiply consumed (self + tree / found
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
    LocalPathKernel.fromTo(
        partitionedEdges(hopEdges(g, edgeTypes, undirected)),
        srcs, tgts, maxDepth, all) match {
      case Some(df) => return df
      case None =>
    }
    val self = srcs.join(tgts, col("__a") === col("__b"))
      .select(col("__a"), col("__b"), array(col("__a")).as("path"),
        array().cast("array<string>").as("epath"), lit(0L).as("length"))
    if (maxDepth > LazyUnrollDepth)
      return fromToEager(g, srcs, tgts, self, maxDepth, edgeTypes,
        undirected, all)
    val visited = spTree(g, srcs, maxDepth, edgeTypes, undirected, all)
    val found = visited.filter(col("depth") > 0)
      .join(tgts, col("id") === col("__b"))
      .select(col("source").as("__a"), col("__b"),
        col("depth").cast("long").as("length"))
    self.union(reconstruct(found, visited, maxDepth))
  }

  /** Eager from-to engine (maxDepth > [[LazyUnrollDepth]]): the spTree
    * hop shape driven by a per-hop loop-control job, exiting early when
    * the frontier empties or every (source, target) pair is accounted
    * for. The hop's one action is a single left-outer pass of the new
    * frontier against the target set, yielding frontier size AND newly
    * found pair count together (the tree admits each (source, vertex)
    * once, at minimal depth, so found pairs never re-count).
    * Reconstruction walks only to the deepest FOUND length — tracked
    * driver-side for free by the loop. */
  private def fromToEager(g: GraphState, srcs: DataFrame, tgts: DataFrame,
      self: DataFrame, maxDepth: Int, edgeTypes: Seq[String],
      undirected: Boolean, all: Boolean): DataFrame = {
    val spark = srcs.sparkSession
    val n = traversalPartitions(spark)
    val edges = partitionedEdges(hopEdges(g, edgeTypes, undirected))
    val nSrc = srcs.count() // materializes both endpoint checkpoints
    val nTgt = tgts.count()
    if (nSrc == 0 || nTgt == 0) return self
    var remaining = nSrc * nTgt - self.count()
    val emptyPreds = array()
      .cast("array<struct<pred:string,prededge:string>>")
    var visited = srcs.select(col("__a").as("source"))
      .select(col("source"), col("source").as("id"), lit(0).as("depth"),
        emptyPreds.as("preds"))
      .repartition(n, col("id")) // co-partition with the edge cache
      .localCheckpoint(eager = false) // materializes inside hop 1's job
    var frontier = visited.select("source", "id")
    var depth = 0
    var maxLen = 0
    var frontierNonEmpty = remaining > 0
    val tMark = tgts.select(col("__b"), lit(1).as("__hit"))
    while (depth < maxDepth && remaining > 0 && frontierNonEmpty) {
      depth += 1
      val predsAgg =
        if (all) array_sort(collect_set(
          struct(col("src").as("pred"), col("eid").as("prededge"))))
        else array(min(
          struct(col("src").as("pred"), col("eid").as("prededge"))))
      val nxt = frontier.hint("shuffle_hash")
        .join(edges, frontier("id") === edges("src"))
        .repartition(n, col("dst"))
        .groupBy(col("source"), col("dst"))
        .agg(predsAgg.as("preds"))
        .select(col("source"), col("dst").as("id"), lit(depth).as("depth"),
          col("preds"))
        .join(visited.select("source", "id"), Seq("source", "id"),
          "left_anti")
        .localCheckpoint(eager = false)
      // the hop's ONE job: frontier size + new-pair count in one pass
      // (targets unique on __b, so the left-outer join is 1:≤1)
      val stats = nxt.join(tMark, nxt("id") === tMark("__b"), "left_outer")
        .agg(count(lit(1)).as("n"), count(col("__hit")).as("hits"))
        .head()
      val nTotal = stats.getLong(0)
      val nHits = stats.getLong(1)
      visited = visited.union(nxt)
      if (depth % 3 == 0) visited = visited.localCheckpoint(eager = false)
      if (nHits > 0) { remaining -= nHits; maxLen = depth }
      frontier = nxt.select("source", "id")
      frontierNonEmpty = nTotal > 0
    }
    val found = visited.filter(col("depth") > 0)
      .join(tgts, col("id") === col("__b"))
      .select(col("source").as("__a"), col("__b"),
        col("depth").cast("long").as("length"))
    self.union(reconstruct(found, visited, maxLen))
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
