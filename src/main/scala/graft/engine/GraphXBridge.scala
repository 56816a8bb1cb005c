package graft.engine

import scala.util.DynamicVariable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Whole-graph analytics as DataFrame loops (joins and group-bys per
  * round), each with one distributed engine, behind a [[KernelGate]]
  * driver kernel where one exists. The name is historical — these ran
  * on GraphX once — and stays because the gates, the Cypher procedures
  * and the benchmark driver call the analytics through it.
  *
  * The string-id entry points map vertex ids to stable Long ids via
  * xxhash64 — deterministic across runs, collision probability
  * ~n²/2⁶⁴ (negligible below ~10⁹ vertices). An edge with a null
  * endpoint joins nothing: it is dropped before hashing, because
  * xxhash64(NULL) is 42 and would connect every such edge through one
  * phantom vertex.
  */
object GraphXBridge {

  /** Edges whose endpoints are both non-null. */
  private def linked(g: GraphState): DataFrame =
    g.edges.filter(col("src").isNotNull && col("dst").isNotNull)

  /** Connected components (undirected), back as (id, component) with the
    * component labeled by its minimum member hash. The vertex set is
    * the vertices plus the edge endpoints; only the rows of `g.vertices`
    * come back. */
  def connectedComponents(g: GraphState)(implicit spark: SparkSession)
      : DataFrame = {
    val hashedV = g.vertices.select(xxhash64(col("id")).as("vid"))
    val hashedE = linked(g).select(xxhash64(col("src")).as("s"),
      xxhash64(col("dst")).as("d"))
    // small graphs (r13): union-find over the bounded hashed edge list
    val cc = LocalGraphKernels.connectedComponentsLong(hashedV, hashedE)
      .getOrElse {
        val star = StarCC.components(hashedE.toDF("id1", "id2"))
          .select(col("id").as("vid"), col("component"))
        // StarCC labels edge endpoints only (self-loops dropped): every
        // other vertex is a component of its own
        star.unionAll(hashedV.distinct()
          .join(star.select(col("vid")), Seq("vid"), "left_anti")
          .select(col("vid"), col("vid").as("component")))
      }
    val mapping = g.vertices.select(xxhash64(col("id")).as("vid"), col("id"))
    cc.join(mapping, Seq("vid")).select(col("id"), col("component"))
  }

  /** SCC of a BOUNDED graph — condensations whose vertex count is
    * capped by a vocabulary (event-type transition digraphs, label
    * co-occurrence graphs), never by corpus size — computed
    * driver-side with Tarjan's algorithm, back as (id, component_id)
    * labeled by the component's minimum member id — an
    * engine-independent labeling, so an oracle computing SCCs any other
    * way agrees on the labels. There is no distributed SCC: GraphX's
    * Pregel SCC, its former alternative, spent ~77 scheduled stages on
    * a 10-vertex condensation (measured on gx07: 1.5–1.9 s steady of
    * pure stage latency for 5 result rows), and every caller's graph is
    * vocabulary-bounded. A condensation's edge list is at most
    * vocabulary², so collecting it is the same bounded-driver
    * discipline as the s10 greedy phase — and the `require` makes a
    * corpus-scale graph fail loudly here rather than silently
    * serializing through the driver. */
  def stronglyConnectedBounded(g: GraphState, maxVertices: Int = 4096)
      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val ids = g.vertices.select(col("id").cast("string"))
      .distinct().as[String].collect().sorted
    require(ids.length <= maxVertices, s"stronglyConnectedBounded: " +
      s"${ids.length} vertices exceed the $maxVertices driver bound")
    val idx = ids.zipWithIndex.toMap
    val adj = Array.fill(ids.length)(List.empty[Int])
    // semi-join BOTH endpoints against the (bounded) vertex set BEFORE
    // the distinct+collect: the vertex bound caps what reaches the
    // driver at |V|², even when the edge table itself is corpus-scale
    // (an unfiltered collect-then-drop would serialize every edge
    // through the driver first)
    val vset = g.vertices.select(col("id").cast("string").as("__vid"))
      .distinct()
    g.edges.select(col("src").cast("string").as("__s"),
        col("dst").cast("string").as("__d"))
      .join(vset.withColumnRenamed("__vid", "__s"), Seq("__s"), "left_semi")
      .join(vset.withColumnRenamed("__vid", "__d"), Seq("__d"), "left_semi")
      .select(col("__s"), col("__d")) // using-joins reorder keys first
      .distinct().as[(String, String)].collect()
      .foreach { case (s, d) =>
        for (si <- idx.get(s); di <- idx.get(d)) adj(si) ::= di }
    val n = ids.length
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val sccStack = scala.collection.mutable.ArrayBuffer.empty[Int]
    val comp = Array.fill(n)(-1)
    var counter = 0
    var nComp = 0
    // Tarjan with an explicit DFS stack (no recursion: a vocabulary
    // bound of 4096 could still chain past the JVM stack depth)
    val work = scala.collection.mutable.Stack.empty[(Int, Iterator[Int])]
    def open(v: Int): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      sccStack += v; onStack(v) = true
      work.push((v, adj(v).iterator))
    }
    for (root <- 0 until n if index(root) < 0) {
      open(root)
      while (work.nonEmpty) {
        val (v, it) = work.top
        if (it.hasNext) {
          val w = it.next()
          if (index(w) < 0) open(w)
          else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          work.pop()
          if (work.nonEmpty) {
            val p = work.top._1
            low(p) = math.min(low(p), low(v))
          }
          if (low(v) == index(v)) {
            var w = -1
            while (w != v) {
              w = sccStack.remove(sccStack.length - 1)
              onStack(w) = false
              comp(w) = nComp
            }
            nComp += 1
          }
        }
      }
    }
    val minId = new Array[String](nComp)
    for (v <- 0 until n) {
      val c = comp(v)
      if (minId(c) == null || ids(v) < minId(c)) minId(c) = ids(v)
    }
    (0 until n).map(v => (ids(v), minId(comp(v))))
      .toDF("id", "component_id")
  }

  /** Fixed-iteration PageRank, back as (id, rank), with GraphX's
    * `staticPageRank` semantics as a DataFrame loop on the string ids:
    * the vertex set is the vertices plus the edge endpoints, ranks start
    * at 1, each edge carries rank · (1/outDeg) with parallel edges and
    * self-loops counted in outDeg, each iteration sets
    * rank = reset + (1−reset)·Σ(in) — so a dangling vertex's mass is
    * lost — and the final ranks are scaled by |V|/Σrank. One row per
    * vertex of `g.vertices` comes back. Deterministic for a given graph
    * and iteration count, so the result is oracle-checkable: a
    * source-only vertex settles at `reset` after one iteration and its
    * downstream vertices settle one iteration later, giving closed
    * forms for DAG layers.
    *
    * The iterations form ONE statically planned lazy plan that
    * carries Σ(in) forward, with one exchange per iteration: the
    * partially aggregated per-dst sum. The weighted edges and the
    * vertex set are hash-partitioned on their join keys with the same
    * explicit count, so the edge ⟕ sum and vertex ⟕ sum joins need
    * none, and without AQE no exchange is a job of its own: the Σrank
    * job runs every iteration. (Under AQE, with a checkpoint per
    * iteration, the gx02 graph took 13 jobs and 1.5 s.) The checkpoint
    * at the end lets the Σrank job and the output share the
    * iterations. */
  def staticPageRank(g: GraphState, numIter: Int, resetProb: Double = 0.15)
      (implicit spark: SparkSession): DataFrame = {
    def rank(in: Column): Column =
      lit(resetProb) + lit(1.0 - resetProb) * coalesce(in, lit(0.0))
    val pinned = Traversals.withStaticPlanning(spark) {
      val n = spark.sessionState.conf.numShufflePartitions
      val e = linked(g).select(col("src"), col("dst"))
      // inV: the id is a row of g.vertices, not only an edge endpoint
      val ids = g.vertices.filter(col("id").isNotNull)
        .select(col("id"), lit(true).as("inV"))
        .unionAll(e.select(col("src"), lit(false)))
        .unionAll(e.select(col("dst"), lit(false)))
        .repartition(n, col("id"))
        .groupBy(col("id")).agg(max(col("inV")).as("inV"))
      // w = 1/outDeg; a checkpoint keeps the src partitioning
      val weighted = e.repartition(n, col("src"))
        .withColumn("w", lit(1.0) / count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
        .localCheckpoint(eager = false)
      // Σ(in) per vertex; the first iteration's messages carry rank 1
      var in = weighted.groupBy(col("dst").as("id"))
        .agg(sum(col("w")).as("in"))
      for (_ <- 2 to numIter)
        in = weighted
          .join(in.hint("shuffle_hash"), col("src") === col("id"),
            "left_outer")
          .groupBy(col("dst").as("id"))
          .agg(sum(rank(col("in")) * col("w")).as("in"))
      (if (numIter == 0) ids.withColumn("rank", lit(1.0))
       else ids.join(in.hint("shuffle_hash"), Seq("id"), "left_outer")
         .select(col("id"), col("inV"), rank(col("in")).as("rank")))
        .localCheckpoint(eager = false)
    }
    val total = pinned.agg(coalesce(sum(col("rank")), lit(0.0)),
      count(lit(1))).head()
    val scale = total.getLong(1).toDouble / total.getDouble(0)
    pinned.filter(col("inV"))
      .select(col("id"), (col("rank") * scale).as("rank"))
  }

  /** Degrees (in+out), back as DataFrame. Pure DataFrame aggregation
    * (r13): one union + one count aggregate; the semi-join drops edge
    * endpoints absent from the vertex set, and the degree is an
    * IntegerType. */
  def degrees(g: GraphState)(implicit spark: SparkSession): DataFrame =
    g.edges.select(col("src").as("id"))
      .unionAll(g.edges.select(col("dst").as("id")))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("int").as("degree"))
      .join(g.vertices.select(col("id")), Seq("id"), "left_semi")
      .select(col("id"), col("degree"))

  /** Weighted single/multi-source shortest distances (directed) over
    * Long-id edges (src, dst, weight DOUBLE ≥ 0), read positionally.
    * The vertex set is the edge endpoints: a source outside it drops.
    * Returns only reached vertices as (id, distance); an edge with a
    * null endpoint or weight is inert.
    *
    * Distributed leg: frontier Bellman-Ford. Each round joins the
    * vertices whose distance improved in the last round to their
    * out-edges, takes min(d + w) per dst and keeps the strict
    * improvements as the next frontier; the round's one count job is
    * the stop test. O(shortest-path hop depth) rounds, each a local
    * join and group-by — never a global all-pairs structure. */
  def weightedSssp(edges: DataFrame, sources: Seq[Long])
      (implicit spark: SparkSession): DataFrame =
    // small graphs (r13): driver-side (min, +) relaxation to the same
    // fixpoint (IEEE + is monotone — order-free)
    LocalGraphKernels.weightedSssp(edges, sources).getOrElse {
      import spark.implicits._
      val c = edges.columns
      val e = edges.select(col(c(0)).cast("long").as("s"),
          col(c(1)).cast("long").as("d"), col(c(2)).cast("double").as("w"))
        .na.drop()
        .localCheckpoint(eager = false)
      val ends = e.select(col("s").as("id")).unionAll(e.select(col("d")))
      var dist = sources.distinct.toDF("id")
        .join(ends, Seq("id"), "left_semi")
        .withColumn("distance", lit(0.0))
        .localCheckpoint(eager = false)
      var frontier = dist
      var n = 1L
      while (n > 0) {
        val improved = frontier.join(e, col("id") === col("s"))
          .groupBy(col("d").as("id"))
          .agg(min(col("distance") + col("w")).as("distance"))
          .join(dist.select(col("id"), col("distance").as("old")),
            Seq("id"), "left_outer")
          .filter(col("old").isNull || col("distance") < col("old"))
          .select(col("id"), col("distance"))
          .localCheckpoint(eager = false)
        n = improved.count() // materializes this round's checkpoints
        if (n > 0) {
          dist = dist
            .join(improved.select(col("id")), Seq("id"), "left_anti")
            .unionAll(improved)
            .localCheckpoint(eager = false)
          frontier = improved
        }
      }
      dist
    }

  /** [[weightedSssp]] over the STRING-id property graph — the Cypher
    * `CALL graft.sssp.weighted(...)` surface. Weight of an edge is its
    * `weightProp` property cast to double, defaulting to 1.0 when the
    * property is absent or non-numeric (an unweighted edge costs one
    * hop); negative weights are rejected up front (the relaxation
    * assumes Dijkstra preconditions). Returns (id STRING, cost DOUBLE)
    * for every vertex reachable from `source` along forward edges.
    * Eager: the weight guard and the relaxation both execute before
    * this returns. */
  def weightedShortestFrom(g: GraphState, source: String,
      weightProp: String)(implicit spark: SparkSession): DataFrame = {
    val wcol = coalesce(
      element_at(col("properties"), weightProp).try_cast("double"),
      lit(1.0))
    val edges = linked(g).select(xxhash64(col("src")).as("s"),
      xxhash64(col("dst")).as("d"), wcol.as("w"))
    // probes of a Cypher CALL: run as its statement chose
    val minW = CompileGate.interpreted(edges.agg(min(col("w")))).head()
    require(minW.isNullAt(0) || minW.getDouble(0) >= 0.0,
      s"graft.sssp.weighted: negative weight in property '$weightProp'")
    val srcVid = CompileGate.interpreted(
      spark.range(1).select(xxhash64(lit(source)))).head().getLong(0)
    val dist = weightedSssp(edges, Seq(srcVid))
      .select(col("id").as("vid"), col("distance").as("cost"))
    g.vertices.select(xxhash64(col("id")).as("vid"), col("id"))
      .join(dist, Seq("vid"))
      .select(col("id"), col("cost"))
  }

  /** Degree-oriented DataFrame triangle count (Suri–Vassilvitskii):
    * orient every undirected edge from the endpoint with the smaller
    * (degree, id) to the larger, making an acyclic orientation where
    * each triangle {a≺b≺c} appears exactly once as a→b, a→c, b→c.
    * Out-degree under this orientation is ≤ O(√m), so the wedge
    * self-join is bounded even around heavy-hitter vertices — the
    * property that survives a 100× scale-up. Stays entirely in
    * DataFrame joins (codegen + AQE), no per-vertex adjacency sets.
    * Input contract: canonical Long-id edges (src < dst, distinct). */
  def triangleTotalDF(edges: DataFrame)
      (implicit spark: SparkSession): DataFrame =
    // per-edge adjacency intersection: triangle a≺b≺c is found exactly
    // once, on edge a→b (c ∈ adj⁺(a) ∩ adj⁺(b)). Wedges are never
    // materialized — the 41M-wedge shuffle the join formulation pays at
    // sf0.1 becomes a per-row array_intersect over ≤√(2m)-sized lists.
    // (r13: a broadcast-CSR kernel variant was measured SLOWER here —
    // 1.18 → 1.75 s at sf0.1, BENCH_FULL_r13b vs r13c — because the
    // full per-edge |N(u) ∩ N(v)| scan does ~4× the oriented
    // intersection's arboricity-bounded work and the oriented plan was
    // already shuffle-light; reverted, unlike edgeTriangleSupport whose
    // kernel IS faster since the distributed form must also ship
    // per-edge credit rows.)
    withOrientedIntersections(edges)
      .select(size(array_intersect(col("un"), col("vn"))).as("c"))
      .agg(sum(col("c")).cast("long").as("n_triangles"))

  /** Shared degree-orientation core of [[triangleTotalDF]] and
    * [[edgeTriangleSupport]]: orient every undirected edge from the
    * smaller (deg, id) endpoint — the tie-break makes the orientation
    * acyclic, which the once-per-triangle guarantee depends on — and
    * return one row per ORIENTED edge (u, v) carrying both endpoints'
    * out-neighbor lists (un, vn). Out-degree under this orientation is
    * O(√m), bounding the intersection work at heavy hubs. */
  private def withOrientedIntersections(edges: DataFrame): DataFrame = {
    val oriented = orientEdges(edges)
    joinOrientedAdj(oriented, orientedAdjacency(oriented))
  }

  /** The orientation itself: one row per undirected edge, pointed from
    * its smaller (deg, id) endpoint, as (u, v). */
  private def orientEdges(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("id").as("src"), col("deg").as("sdeg")), "src")
      .join(deg.select(col("id").as("dst"), col("deg").as("ddeg")), "dst")
    val srcFirst = col("sdeg") < col("ddeg") ||
      (col("sdeg") === col("ddeg") && col("src") < col("dst"))
    withDeg.select(
      when(srcFirst, col("src")).otherwise(col("dst")).as("u"),
      when(srcFirst, col("dst")).otherwise(col("src")).as("v"))
  }

  /** Out-adjacency under the orientation: (u, nbrs = sorted-insertion
    * list of v's). O(√m)-bounded per row. */
  private def orientedAdjacency(oriented: DataFrame): DataFrame =
    oriented.groupBy(col("u")).agg(collect_list(col("v")).as("nbrs"))

  /** Attach both endpoints' out-neighbor lists to each oriented edge —
    * the array-carrying join whose v-side exchange ships ~Σ|adj⁺|
    * entries (the volume the trisupport bucketing bounds). */
  private def joinOrientedAdj(oriented: DataFrame, adj: DataFrame)
      : DataFrame =
    oriented
      .join(adj.select(col("u"), col("nbrs").as("un")), Seq("u"))
      .join(adj.select(col("u").as("v"), col("nbrs").as("vn")), Seq("v"))

  /** k-core: the maximal subgraph where every vertex keeps degree ≥ k,
    * by iterative peeling — each round drops vertices whose CURRENT
    * degree is below k and the edges touching them, until a fixpoint.
    * Rounds are whole-graph semi-joins (no per-vertex state on the
    * driver); localCheckpoint cuts lineage like the BFS loop, so the
    * plan stays flat however many rounds the peel takes. Input contract
    * matches [[triangleTotalDF]]: canonical (src < dst, distinct) edges.
    * Returns surviving vertices with their within-core degree. */
  def kCore(edges: DataFrame, k: Int)
      (implicit spark: SparkSession): DataFrame = {
    // small graphs (r13): driver-side synchronous peel to the same
    // fixpoint — the per-round count/semi-join/checkpoint jobs go away
    LocalGraphKernels.kCore(edges, k).getOrElse {
      // symmetric doubled representation: degree(v) = row count at id=v
      var cur = edges.select(col("src").as("id"), col("dst").as("other"))
        .unionAll(edges.select(col("dst").as("id"), col("src").as("other")))
        .localCheckpoint()
      var prev = -1L
      var n = cur.count()
      while (n != prev && n > 0) {
        prev = n
        val keep = cur.groupBy(col("id")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select(col("id"))
        cur = cur.join(keep, Seq("id"))
          .join(keep.select(col("id").as("other")), Seq("other"))
          .select(col("id"), col("other")).localCheckpoint()
        n = cur.count()
      }
      cur.groupBy(col("id"))
        .agg(count(lit(1)).cast("long").as("core_degree"))
    }
  }

  /** Synchronous label propagation (community detection), fully
    * deterministic: every round, each vertex adopts the label most
    * frequent among its neighbors' previous-round labels, ties broken
    * by MINIMUM label (GraphX's own LabelPropagation breaks ties by
    * map-iteration order — not reproducible, so this is the
    * DataFrame re-expression with a pinned tie-break). Initial label =
    * vertex id. Input contract matches [[kCore]]: canonical
    * (src < dst, distinct) undirected edges.
    *
    * Scale shape: per round, a (id,label) count aggregate and a per-id
    * argmax — `min(struct(-c, label))`, i.e. max count then min label
    * in one hash aggregate — BOTH with map-side partial combine, so
    * each exchange ships combined rows, never the raw edge-scale join
    * output. (Measured and rejected: an explicit repartition(id) to
    * make both aggregates exchange-free — it moves the RAW join output
    * and forfeits the partial combine; shuffle 78 → 92 MB and task
    * time 2–3× at sf0.1.) Lazy per-round checkpoints cut lineage and
    * materialize inside the next consumer's job. */
  def labelPropagation(edges: DataFrame, rounds: Int)
      (implicit spark: SparkSession): DataFrame = {
    // small graphs (r13): driver-side CSR kernel — rounds × (join +
    // 2 aggregates + checkpoint) become a few M array ops
    LocalGraphKernels.labelPropagation(edges, rounds).getOrElse {
      val sym = edges.select(col("src").as("id"), col("dst").as("nbr"))
        .unionAll(edges.select(col("dst").as("id"), col("src").as("nbr")))
        .localCheckpoint()
      var labels = sym.select(col("id")).distinct()
        .withColumn("label", col("id"))
      for (_ <- 1 to rounds) {
        labels = sym
          .join(labels.withColumnRenamed("id", "nbr"), Seq("nbr"))
          .groupBy(col("id"), col("label"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("id"))
          .agg(min(struct((-col("c")).as("nc"), col("label").as("l")))
            .as("m"))
          .select(col("id"), col("m.l").as("label"))
          .localCheckpoint(eager = false)
      }
      labels
    }
  }

  /** Personalized PageRank in EXACT integer arithmetic: ranks are
    * integer mass (seed mass 10¹² per seed), each iteration pushes
    * `(rank div deg) div 2` along every edge and re-injects
    * `seedMass div 2` at the seeds — i.e. α = 1/2 with floor division,
    * so every intermediate value is a BIGINT and the result is
    * bit-identical on any engine and any aggregation order (doubles
    * would make cross-engine PPR unverifiable; floor-div loses < 1
    * unit of mass per edge per round, irrelevant for ranking).
    *
    * Input contract matches [[kCore]]: canonical undirected edges;
    * `seeds` is a 1-column (`id`) frame. Returns (id, rank) for
    * vertices with positive rank after `iters` rounds.
    *
    * Scale shape: per round, one broadcast-sized rank frame joined to
    * the edge list and one per-vertex sum — the standard distributed
    * power iteration; degree frame computed once and reused. */
  def personalizedPageRankInt(edges: DataFrame, seeds: DataFrame,
      iters: Int, seedMass: Long = 1000000000000L)
      (implicit spark: SparkSession): DataFrame = {
    // small graphs (r13): driver-side kernel, same exact-integer
    // arithmetic (floor-div push, α = 1/2) — see LocalGraphKernels
    LocalGraphKernels.pprInt(edges, seeds, iters, seedMass).getOrElse {
      val sym = edges.select(col("src").as("id"), col("dst").as("nbr"))
        .unionAll(edges.select(col("dst").as("id"), col("src").as("nbr")))
        .localCheckpoint()
      val deg = sym.groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .localCheckpoint()
      val seedIds = deg.join(seeds, Seq("id"), "left_semi")
        .select(col("id")).localCheckpoint()
      var r = seedIds.withColumn("rank", lit(seedMass))
      for (_ <- 1 to iters) {
        val contrib = r.join(deg, Seq("id"))
          .select(col("id"), expr("rank div deg").as("c"))
          .join(sym, Seq("id"))
          .groupBy(col("nbr").as("id"))
          .agg(sum(col("c")).as("s"))
        r = contrib
          .join(seedIds.withColumn("is_seed", lit(1L)), Seq("id"), "outer")
          .select(col("id"),
            (expr("coalesce(s, 0L) div 2") +
              when(col("is_seed") === 1L, lit(seedMass / 2))
                .otherwise(lit(0L))).as("rank"))
          .filter(col("rank") > 0).localCheckpoint()
      }
      r
    }
  }

  /** Per-edge TRIANGLE SUPPORT (the k-truss building block): for each
    * canonical (src < dst) edge, |N(src) ∩ N(dst)| — the number of
    * triangles the edge closes. DEGREE-ORIENTED (Suri–Vassilvitskii,
    * same orientation as [[triangleTotalDF]]): every undirected edge
    * points from its smaller (deg, id) endpoint, making an acyclic
    * orientation whose out-degree is O(√m) even at heavy hubs; each
    * triangle a≺b≺c is discovered exactly ONCE, on edge a→b with
    * c ∈ adj⁺(a) ∩ adj⁺(b), and then credits all three of its edges.
    * Wedge work is arboricity-bounded — the unoriented formulation's
    * Σ_w deg(w)² blow-up on hot hubs never happens, which is what
    * survives a 100× scale-up. Σ support = 3 × triangle count is the
    * gx03 consistency identity. Input (src, dst) distinct canonical;
    * output (src, dst, support) with zero-support edges preserved. */
  def edgeTriangleSupport(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    // small graphs (r13): broadcast-CSR kernel — per-edge |N(u) ∩ N(v)|
    // computed in place, no orientation joins, no array-carrying
    // exchange, no credit shuffle (measured: gx14 sf0.1 260 MB shuffle
    // → ~0)
    LocalGraphKernels.triangleSupport(edges).getOrElse {
      val b = triSupportBuckets(spark, edges)
      if (b <= 1) {
        // single pass — bit-identical to the pre-bucketing plan:
        // one row per TRIANGLE (u≺v≺w in orientation order) …
        val tri = withOrientedIntersections(edges)
          .select(col("u"), col("v"),
            explode(array_intersect(col("un"), col("vn"))).as("w"))
        // … credits its three edges in canonical ID order, one pass
        val sup = trianglesToCredits(tri).groupBy(col("src"), col("dst"))
          .agg(count(lit(1)).as("support"))
        edges.join(sup, Seq("src", "dst"), "left")
          .select(col("src"), col("dst"),
            coalesce(col("support"), lit(0L)).as("support"))
      } else {
        // Disk-bounded sequential passes over the DISCOVERY-edge key
        // space (the gx18 recipe applied to gx14's intersection shuffle
        // — r12 rehearsal: sf1 2.6 GB → sf10 54 GB single-pass, the
        // spill-superlinearity signature that preceded gx18's sf10 disk
        // death one SF later). Pass i keeps only oriented edges with
        // pmod(xxhash64(u,v), B) = i — an EXACT partition of the
        // discovery edges, and every triangle a≺b≺c is discovered
        // exactly once (on its unique orientation-minimal edge a→b), so
        // per-pass credit counts merge to the exact support by simple
        // addition. Per-pass shuffle (the v-side array-carrying join +
        // that pass's credit exchange) drops to ~volume/B; the oriented
        // and adjacency frames are pinned DISK_ONLY so the B re-reads
        // don't re-run the degree joins and don't occupy the unified
        // pool's storage half exactly when the passes' aggregation
        // needs execution memory (the gx18 sf10 lesson).
        val dk = org.apache.spark.storage.StorageLevel.DISK_ONLY
        val oriented = orientEdges(edges).localCheckpoint(eager = true, dk)
        val adj = orientedAdjacency(oriented)
          .localCheckpoint(eager = true, dk)
        val partials = (0 until b).map { i =>
          val oi = oriented.filter(
            pmod(xxhash64(col("u"), col("v")), lit(b.toLong))
              === lit(i.toLong))
          val tri = joinOrientedAdj(oi, adj)
            .select(col("u"), col("v"),
              explode(array_intersect(col("un"), col("vn"))).as("w"))
          // EAGER per pass: pass i's shuffle files are unreferenced —
          // and droppable — before pass i+1 writes
          val part = trianglesToCredits(tri)
            .groupBy(col("src"), col("dst"))
            .agg(count(lit(1)).as("psup"))
            .localCheckpoint(eager = true, dk)
          System.gc() // see topLinkPredictions' passes
          graft.util.Dbg(spark, s"[trisupport] bucket $i/$b done")
          part
        }
        // merge = per-edge sum of the per-pass counts (exact by the
        // partition argument above); materialized eagerly so every
        // pass-local pin can be released NOW instead of lingering until
        // ContextCleaner catches up (ADVICE r12)
        val sup = partials.reduce(_ unionAll _)
          .groupBy(col("src"), col("dst"))
          .agg(sum(col("psup")).as("support"))
          .localCheckpoint(eager = true, dk)
        (Seq(oriented, adj) ++ partials).foreach(
          org.apache.spark.sql.graft.shims.releaseLocalCheckpoint)
        edges.join(sup, Seq("src", "dst"), "left")
          .select(col("src"), col("dst"),
            coalesce(col("support"), lit(0L)).as("support"))
      }
    }
  }

  /** One (src, dst) credit row per triangle edge, canonical ID order —
    * the shared explode both trisupport paths aggregate. */
  private def trianglesToCredits(tri: DataFrame): DataFrame = tri
    .select(explode(array(
      struct(least(col("u"), col("v")).as("src"),
        greatest(col("u"), col("v")).as("dst")),
      struct(least(col("u"), col("w")).as("src"),
        greatest(col("u"), col("w")).as("dst")),
      struct(least(col("v"), col("w")).as("src"),
        greatest(col("v"), col("w")).as("dst")))).as("t"))
    .select(col("t.src").as("src"), col("t.dst").as("dst"))

  /** Forced pass count for [[edgeTriangleSupport]]'s intersection
    * shuffle (0 = auto from the adjacency-volume census vs the shared
    * disk budget); tests bind it to pin the passes against one.
    * [[kTruss]] inherits it per round. */
  private[engine] val triSupportPasses = new DynamicVariable[Int](0)

  /** Measured at sf10 (PLANS.md round 13): the single-pass operator
    * wrote 54.0 GB of shuffle; the census below gives the adjacency
    * entries that join ships. Conservative compressed-bytes-per-entry
    * so the budget errs toward more (cheaper) passes. */
  private val BytesPerAdjEntry = 8.0

  /** Pass count for [[edgeTriangleSupport]]: forced, else census
    * the v-side array-join volume — Σ over oriented edges (u,v) of
    * |adj⁺(u)| + |adj⁺(v)| = Σ_w od(w)·(od(w) + in(w)) — from two
    * O(m)→O(|V|) degree aggregates (no adjacency materialization),
    * against the shared scratch budget. Unknown budget → single pass
    * (never a silent 64-pass cap — ADVICE r12). */
  private def triSupportBuckets(spark: SparkSession, edges: DataFrame)
      : Int = {
    val forced = triSupportPasses.value
    if (forced > 0) forced
    else diskBudgetBytes(spark) match {
      case None => 1
      case Some(budget) =>
        val o = orientEdges(edges)
        val od = o.groupBy(col("u"))
          .agg(count(lit(1)).cast("double").as("od"))
        val ind = o.groupBy(col("v").as("u"))
          .agg(count(lit(1)).cast("double").as("ind"))
        val r = od.join(ind, Seq("u"), "left")
          .agg(sum(col("od") *
            (col("od") + coalesce(col("ind"), lit(0.0))))).head()
        val entries = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
        val b = math.min(64, math.max(1,
          math.ceil(entries * BytesPerAdjEntry / budget).toInt))
        graft.util.Dbg(spark,
          f"[trisupport] adj_entries=$entries%.3g buckets=$b")
        b
    }
  }

  /** k-TRUSS decomposition (synchronous peel to a fixpoint): repeatedly
    * drop edges whose triangle support is below k−2 until stable — the
    * cohesive-subgraph refinement of edgeTriangleSupport (every k-truss
    * edge survives; a k-truss is the maximal subgraph where every edge
    * sits in ≥ k−2 triangles OF the subgraph). Each round is one
    * support computation + filter with a localCheckpoint lineage cut;
    * rounds are bounded by `maxRounds` (the TPC-H co-purchase slices
    * converge in ≤ 20; Σ per-round wedge work is the cost driver —
    * the same degree-orientation note as edgeTriangleSupport governs
    * 100 TB use, and each round inherits edgeTriangleSupport's
    * disk-bounded bucketed passes when its CURRENT edge set's census
    * exceeds the scratch budget — the peel shrinks the graph, so
    * later rounds naturally drop back to single-pass). Returns the
    * surviving canonical edge list. */
  def kTruss(edges: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    var cur = edges.select(col("src"), col("dst")).localCheckpoint()
    var n = cur.count()
    var round = 0
    var stable = false
    while (!stable && round < maxRounds && n > 0) {
      cur = edgeTriangleSupport(cur)
        .filter(col("support") >= k - 2)
        .select(col("src"), col("dst"))
        .localCheckpoint()
      val n2 = cur.count()
      stable = n2 == n
      n = n2
      round += 1
    }
    cur
  }

  /** DEGREE ASSORTATIVITY (Newman's r): the Pearson correlation of
    * (deg(u), deg(v)) over the directed doubling of the edge list —
    * positive when hubs attach to hubs. Degrees are exact integers, so
    * the moments (n, Σx, Σy, Σxy, Σx², Σy²) sum EXACTLY as
    * DECIMAL(38,0) and the correlation derives from one double cast in
    * a fixed formula (the q46 Det-moment recipe on a graph input) —
    * bit-identical under any aggregation order. One degree aggregate +
    * two joins + one 6-accumulator agg; output a single
    * (n_pairs, assortativity) row, truncated to 4dp. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val sym = edges.select(col("src").as("id"), col("dst").as("nbr"))
      .unionAll(edges.select(col("dst").as("id"), col("src").as("nbr")))
    val deg = sym.groupBy(col("id")).agg(count(lit(1)).as("deg"))
    def big(c: Column): Column = c.cast(DecimalType(38, 0))
    val pairs = sym
      .join(deg.select(col("id"), col("deg").as("dx")), Seq("id"))
      .join(deg.select(col("id").as("nbr"), col("deg").as("dy")),
        Seq("nbr"))
    val m = pairs.agg(
      count(lit(1)).cast("double").as("n"),
      sum(big(col("dx"))).cast("double").as("sx"),
      sum(big(col("dy"))).cast("double").as("sy"),
      sum(big(col("dx")) * big(col("dy"))).cast("double").as("sxy"),
      sum(big(col("dx")) * big(col("dx"))).cast("double").as("sxx"),
      sum(big(col("dy")) * big(col("dy"))).cast("double").as("syy"))
    // same degenerate guards as the q46 moment recipe: clamp 1-ulp-
    // negative variances, NULL (not NaN) on a zero-variance graph
    val varX = greatest(col("n") * col("sxx") - col("sx") * col("sx"),
      lit(0.0))
    val varY = greatest(col("n") * col("syy") - col("sy") * col("sy"),
      lit(0.0))
    m.select(col("n").cast("long").as("n_pairs"),
      (floor((col("n") * col("sxy") - col("sx") * col("sy")) /
        nullif(sqrt(varX) * sqrt(varY), lit(0.0)) * 10000)
        .cast("double") / 10000).as("assortativity"))
  }

  /** Neighborhood-overlap LINK PREDICTION over non-adjacent candidate
    * pairs: common-neighbor count, Jaccard overlap in integer basis
    * points, and preferential attachment — the three classic exact-
    * integer scores (Adamic-Adar's 1/log(deg) weighting is float and
    * engine-order-dependent, deliberately not the gate surface).
    * Candidates are exactly the pairs sharing ≥1 neighbor (never
    * all-pairs), minus existing edges (an anti-join — prediction
    * targets NEW links). Degrees join back post-aggregation (two small
    * frames).
    *
    * Wedge enumeration: ONE adjacency aggregation per center vertex,
    * then ordered pairs explode map-side from the sorted neighbor list
    * — exactly C(deg(w), 2) rows per center, with map-side partial
    * aggregation before the (id1, id2) shuffle. The sym⋈sym self-join
    * this replaces shuffled Σ deg(w)² wedge rows and generated both
    * orders only to filter half away. Exact all-pairs common-neighbor
    * counts are intrinsically Σ_w C(deg(w), 2) — every wedge must be
    * counted, unlike triangle counting where orientation dedups — so
    * at 100 TB the hub mitigation is `maxCenterDegree`: centers with
    * more than that many neighbors contribute NO wedges (top-degree
    * centers add near-zero Jaccard evidence per pair — a center of
    * degree d spreads evidence 1/C(d,2) thin — and their pairs predict
    * trivially by preferential attachment alone). With the cap,
    * `common` is a documented LOWER bound for pairs whose only shared
    * neighbors are super-hubs; degrees and pref_attach stay exact.
    * Default = no cap (exact — the gate-checked configuration).
    *
    * EAGER at plan construction (like mmrDiversifiedTopK): the degree
    * frame is localCheckpoint()ed and the id-range packability probe
    * runs Spark jobs before this returns — plan-only inspection of the
    * result still pays the symmetrized-degree computation. */
  def linkPredictionScores(edges: DataFrame,
      maxCenterDegree: Int = Int.MaxValue): DataFrame = {
    val (cand, deg) = linkCandidates(edges, maxCenterDegree)
    scoreCandidates(cand, deg)
  }

  /** Shared preparation for the link-prediction family: the capped
    * per-center sorted adjacency frame, the (localCheckpoint()ed)
    * symmetric-degree frame, and the id-packability verdict. */
  private case class WedgePrep(adj: DataFrame, deg: DataFrame,
      edges: DataFrame, integral: Boolean, packable: Boolean)

  private def prepareWedges(edges: DataFrame, maxCenterDegree: Int)
      : WedgePrep = {
    val sym = edges.select(col("src").as("id"), col("dst").as("nbr"))
      .unionAll(edges.select(col("dst").as("id"), col("src").as("nbr")))
    // |V|-sized and referenced three times (packability probe + both
    // score joins): materialize once — the probe forces an action
    // anyway, so this adds no job
    val deg = sym.groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // cap applied BEFORE the adjacency aggregation (semi-join on the
    // center's degree) so a super-hub's neighbor array never
    // materializes anywhere
    val centers = sym.select(col("nbr").as("w"), col("id"))
    val bounded =
      if (maxCenterDegree == Int.MaxValue) centers
      else centers.join(
        deg.filter(col("deg") <= maxCenterDegree)
          .select(col("id").as("w")), Seq("w"), "left_semi")
    val adj = bounded.groupBy(col("w"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
    // When ids are integral and fit 32 bits (checked against the
    // ALREADY-NEEDED degree frame — one tiny job), the pair key packs
    // into a single long: one-word hash/compare instead of a two-field
    // row buys ~20% in the aggregate.
    val integral = Seq("src", "dst").forall(c =>
      edges.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType => true
        case _ => false
      })
    // Guard at 2³¹ (not 2³²): keeping pk non-negative preserves
    // pk-order == (id1, id2)-order for tie-breaks AND keeps the unpack
    // trivially sign-safe (ids in [2³¹, 2³²) would wrap pk negative
    // and a signed shift would sign-extend id1 back negative).
    val packable = integral && {
      val r = deg.agg(min(col("id").cast("long")),
        max(col("id").cast("long"))).head()
      !r.isNullAt(0) && r.getLong(0) >= 0 && r.getLong(1) < (1L << 31)
    }
    WedgePrep(adj, deg, edges, integral, packable)
  }

  /** (ids[i], ids[j]) for i<j: posexplode anchors id1, slice emits its
    * ordered partners — C(deg,2) rows, generated inside the scan
    * stage. */
  private def rawPairsOf(adj: DataFrame): DataFrame = adj
    .select(posexplode(col("ids")).as(Seq("i", "id1")), col("ids"))
    .select(col("id1"),
      explode(expr("slice(ids, i + 2, size(ids))")).as("id2"))

  /** Aggregated non-adjacent (id1, id2, common) candidate pairs from a
    * prepared adjacency. `bucket = Some((b, i))` restricts BOTH the
    * wedge stream and the edge anti-join side to pair keys with
    * pmod(key, b) == i — an exact partition of the pair space, applied
    * map-side BEFORE the by-key exchange so a pass's shuffle writes
    * only ~wedges/b rows (the disk bound [[topLinkPredictions]]'
    * sequential passes rely on).
    *
    * Aggregation discipline (measured, PLANS.md "Round 6 — gx18
    * full-graph link prediction", sf0.1 full graph: 148M wedges over
    * 101M distinct pairs): pair multiplicity
    * is ~1.5, so the default partial+final aggregate hashes every
    * wedge map-side to save almost nothing — repartitioning by the
    * key FIRST satisfies the aggregate's distribution and the planner
    * emits ONE complete HashAggregate (46 s → 15 s end-to-end).
    *
    * Existing-edge removal rides the SAME partitioning: a left-anti
    * SHUFFLED-HASH join (hint) against the pair-key — the default
    * sort-merge anti would SORT the ~|pairs| aggregate output just to
    * drop |E| of them, and an unconditional broadcast of the edge
    * list would not survive a 100 TB edge table. Shuffle-hash builds
    * a per-partition table of only the edges landing in that
    * partition and streams the aggregate side untouched (its
    * partitioning from the aggregate above already satisfies the
    * join's distribution — no extra exchange, no sort). */
  private def candFrom(p: WedgePrep, adj: DataFrame,
      bucket: Option[(Int, Int)],
      aggParts: Option[Int] = None): DataFrame = {
    val rawPairs = rawPairsOf(adj)
    if (p.packable) {
      val pkOf = (a: Column, b: Column) =>
        shiftleft(a.cast("long"), 32) + b.cast("long")
      val pick = (df: DataFrame) => bucket.fold(df) { case (b, i) =>
        df.filter(pmod(col("pk"), lit(b.toLong)) === lit(i.toLong))
      }
      val rawPk0 = pick(rawPairs
        .select(pkOf(col("id1"), col("id2")).as("pk")))
      // scale-adaptive aggregation partitioning (r13, guide §2.2):
      // at the session's cores-sized partition count a 1.48e9-wedge
      // sf1 run puts ~46M buffered rows in EVERY concurrently-running
      // PackedKeyCount partition — 32 × 368 MB of flat buffers on an
      // 8 g local[32] heap is a guaranteed OOM (reproduced on the
      // pre-r13 tree). When the census-derived volume wants more
      // partitions than the session default, repartition by pk to the
      // derived count — the count aggregate's required distribution is
      // already satisfied, so this is the SAME single exchange with a
      // data-derived width, not an extra one.
      val rawPk = aggParts.fold(rawPk0)(n =>
        rawPk0.repartition(n, col("pk")))
      // Count-by-packed-key through the dedicated physical operator
      // (open-addressed long→long table — see PackedCountAgg's
      // scaladoc for the measured HashAggregateExec gap); its
      // required distribution plants the same single by-key exchange
      // the explicit repartition used to. The generic plan is the
      // reference tests compare it with.
      val aggPk =
        if (packedCount.value)
          org.apache.spark.sql.graft.PackedCountAgg
            .countByKey(rawPk, "common")
        else (if (aggParts.isDefined) rawPk
              else rawPk.repartition(col("pk")))
          .groupBy(col("pk")).agg(count(lit(1)).as("common"))
      val edgePk = pick(p.edges
        .select(pkOf(col("src"), col("dst")).as("pk")))
      aggPk.join(edgePk.hint("shuffle_hash"), Seq("pk"), "left_anti")
        .select(shiftrightunsigned(col("pk"), 32).as("id1"),
          col("pk").bitwiseAND(lit((1L << 32) - 1)).as("id2"),
          col("common"))
    } else {
      // non-packable bucket key: xxhash64 over both id columns — the
      // same expression on both sides, so a pair and its edge land in
      // the same bucket (only distribution, not order, depends on it)
      val pick = (df: DataFrame) => bucket.fold(df) { case (b, i) =>
        df.filter(pmod(xxhash64(col("id1"), col("id2")),
          lit(b.toLong)) === lit(i.toLong))
      }
      // output id type must be a function of the input TYPE, not of
      // runtime id values (packability) — integral ids always come
      // back as LongType from either branch
      val (o1, o2) =
        if (p.integral) (col("id1").cast("long").as("id1"),
          col("id2").cast("long").as("id2"))
        else (col("id1"), col("id2"))
      aggParts.fold(pick(rawPairs).repartition(col("id1"), col("id2")))(
          n => pick(rawPairs).repartition(n, col("id1"), col("id2")))
        .groupBy(col("id1"), col("id2"))
        .agg(count(lit(1)).as("common"))
        .join(pick(p.edges
            .select(col("src").as("id1"), col("dst").as("id2")))
          .hint("shuffle_hash"), Seq("id1", "id2"), "left_anti")
        .select(o1, o2, col("common"))
    }
  }

  /** Shared candidate generation for the link-prediction family:
    * returns (cand = non-adjacent (id1, id2, common) pairs, deg). */
  private def linkCandidates(edges: DataFrame, maxCenterDegree: Int)
      : (DataFrame, DataFrame) = {
    val p = prepareWedges(edges, maxCenterDegree)
    (candFrom(p, p.adj, None), p.deg)
  }

  /** `small = true` (the top-k paths: cand is ≤ k rows) keeps BOTH
    * degree joins broadcast-built from the candidate side — without the
    * second hint the planner sort-merge-joined the k-row intermediate
    * against the |V|-row degree frame (2 exchanges + 2 sorts for 50
    * rows, r13 plan audit). The all-candidates path (gx13) must never
    * broadcast its ~|wedge|-sized cand frame. */
  private def scoreCandidates(cand: DataFrame, deg: DataFrame,
      small: Boolean = false): DataFrame = {
    val j1 = cand
      .join(deg.select(col("id").as("id1"), col("deg").as("d1")),
        Seq("id1"))
    val j1h = if (small) broadcast(j1) else j1
    j1h
      .join(deg.select(col("id").as("id2"), col("deg").as("d2")),
        Seq("id2"))
      .select(col("id1"), col("id2"), col("common"),
        floor(lit(10000) * col("common") /
          (col("d1") + col("d2") - col("common"))).cast("long")
          .as("jaccard_bp"),
        (col("d1") * col("d2")).as("pref_attach"))
  }

  /** FULL-GRAPH top-k new-edge candidates — the production link-
    * prediction ask ("the k most likely missing edges"), shaped so the
    * ~Σ C(deg,2) candidate-pair set is AGGREGATED but never sorted,
    * joined wide, or materialized past the top-k: the limit runs
    * directly on (id1, id2, common) via TakeOrderedAndProject
    * (partition-local top-k, then a k-row driver merge — no global
    * sort exchange), and the degree/Jaccard/pref-attach score columns
    * join AFTER the cut, against k rows instead of ~100M. Ranking is
    * by common desc with (id1, id2) tie-breaks — a total order, fully
    * pinned. Ordering only needs `common`, so deferring the degree
    * joins is lossless. Eager at plan construction — see
    * [[linkPredictionScores]].
    *
    * Disk-bounded at scale (the round-11 sf10 lesson: ONE pass over
    * the full wedge stream writes Σ C(deg,2) × ~8 B of shuffle before
    * a single pair aggregates away — 39 GB at sf5, disk death at
    * sf10): when the wedge census (one tiny agg over the degree frame
    * Spark already materialized) projects shuffle beyond the budget,
    * the pair-key space is processed in B SEQUENTIAL passes — pass i
    * keeps only keys with pmod(key, B) = i (an exact partition, so
    * per-bucket top-k merge = global top-k; tie order (common desc,
    * id1, id2) is total) and peak shuffle disk drops to ~wedges/B.
    * Total aggregate work is unchanged; the wedge GENERATION (a narrow
    * codegen'd explode over the localCheckpoint()ed adjacency) is
    * re-run per pass — CPU, not disk. Each pass materializes its
    * k-row top via localCheckpoint (eager), so pass i's shuffle files
    * are unreferenced — and ContextCleaner-collectable — before pass
    * i+1 writes. B comes from [[linkPredPasses]] (forced) or the
    * census vs [[LinkPredBudgetKey]] (default: 35% of the usable space
    * on the first spark.local.dir — on a real cluster, set the budget
    * to aggregate executor scratch instead). */
  def topLinkPredictions(edges: DataFrame, k: Int,
      maxCenterDegree: Int = Int.MaxValue): DataFrame = {
    val spark = edges.sparkSession
    val byRank = Seq(col("common").desc, col("id1"), col("id2"))
    // small graphs (r13): broadcast-CSR kernel — the Σ C(deg,2) wedge
    // stream (148M rows / 1.0 GB shuffle at sf0.1, measured) is counted
    // in place per id1-chunk and only per-chunk top-k rows ever leave a
    // task; the degree frame for scoring rides the same CSR, so the
    // prepareWedges jobs (sym shuffle, checkpoint, packability probe)
    // never run. Uncapped centers only (the cap changes which wedges
    // exist).
    val kernel =
      if (maxCenterDegree == Int.MaxValue)
        LocalGraphKernels.topCommonNeighbors(edges, k).map {
          case (top, degDf) =>
            scoreCandidates(top, degDf, small = true).orderBy(byRank: _*)
        }
      else None
    kernel.getOrElse {
      val p = prepareWedges(edges, maxCenterDegree)
      val capped =
        if (maxCenterDegree == Int.MaxValue) p.deg
        else p.deg.filter(col("deg") <= maxCenterDegree)
      // double, not long: the census is an estimate and Σ deg² on a
      // 100 TB graph would overflow a long under ANSI
      val wedges = {
        val r = capped.agg(sum(col("deg").cast("double")
          * (col("deg") - 1) / 2)).head()
        if (r.isNullAt(0)) 0.0 else r.getDouble(0)
      }
      val b = linkPredBuckets(spark, wedges)
      // per-pass aggregation width from the same census (each pass sees
      // ~wedges/B rows)
      val parts = linkPredAggPartitions(spark, wedges / b)
      graft.util.Dbg(spark,
        f"[linkpred] wedges=$wedges%.3g buckets=$b aggParts=$parts")
      if (b <= 1) {
        val top = candFrom(p, p.adj, None, parts)
          .orderBy(byRank: _*).limit(k)
        scoreCandidates(broadcast(top), p.deg, small = true).orderBy(byRank: _*)
      } else {
        // B passes re-read the adjacency: pin it so the sym-groupBy
        // shuffle behind it runs once, not B times — DISK_ONLY, because
        // a multi-GB adjacency held MEMORY_AND_DISK occupies the
        // unified pool's storage half exactly when the passes'
        // aggregation needs execution memory (observed at sf10/8 g:
        // pass 3 died UNABLE_TO_ACQUIRE_MEMORY with the adjacency
        // cached; sequential disk reads are noise next to the explode)
        val adj = p.adj.localCheckpoint(eager = true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
        val tops = (0 until b).map { i =>
          val t = candFrom(p, adj, Some((b, i)), parts)
            .orderBy(byRank: _*).limit(k)
            .localCheckpoint() // EAGER: pass i completes (k rows) here
          // the pass's shuffle files are dropped by ContextCleaner once
          // their dependencies are unreachable — nudge the collector
          // before the next pass starts writing, so peak scratch stays
          // ~volume/B (r12 sf10 rehearsal: disk returns to baseline
          // between passes); bucketed mode only
          System.gc()
          graft.util.Dbg(spark, s"[linkpred] bucket $i/$b done")
          t
        }
        // materialize the k-row merged top eagerly so the multi-GB
        // DISK_ONLY adjacency and every pass's pinned top can be
        // released NOW — in a long-lived session the blocks otherwise
        // linger until the driver GCs the frames (ADVICE r12)
        val top = tops.reduce(_ unionAll _).orderBy(byRank: _*).limit(k)
          .localCheckpoint()
        (adj +: tops).foreach(
          org.apache.spark.sql.graft.shims.releaseLocalCheckpoint)
        scoreCandidates(broadcast(top), p.deg, small = true).orderBy(byRank: _*)
      }
    }
  }

  /** Target bytes per pair-aggregation partition for
    * [[topLinkPredictions]] (packed 8 B/wedge rows buffered in
    * PackedKeyCount's flat drain): small enough that a full complement
    * of concurrently-running partitions fits any reasonable executor
    * heap (32 × 64 MB = 2 GB of buffers at local[32]), large enough that
    * sf0.1-sized runs (148M wedges → 18 partitions < the 32-partition
    * session default) keep their existing plans. */
  private val LinkPredAggPartitionBytes = 64L << 20

  /** Census-derived width for the pair-count exchange: None (= keep
    * the session count) unless the projected volume wants MORE
    * partitions than the session default — never fewer (shrinking
    * below the core count would serialize small runs), capped at 16384
    * (beyond that the per-partition overhead dominates and the honest
    * answer is bucketed passes). */
  private def linkPredAggPartitions(spark: SparkSession,
      wedgesPerPass: Double): Option[Int] = {
    val session = spark.sessionState.conf.numShufflePartitions
    val n = math.ceil(wedgesPerPass * BytesPerWedge /
      LinkPredAggPartitionBytes)
    if (n <= session || n.isNaN) None
    else Some(math.min(n, 16384.0).toInt)
  }

  /** Forced pass count for [[topLinkPredictions]]' wedge aggregation
    * (0 = auto from the wedge census vs disk budget); tests bind it to
    * pin the passes against one. */
  private[engine] val linkPredPasses = new DynamicVariable[Int](0)

  /** Whether the link-prediction wedge count (`candFrom`) runs through
    * `PackedCountAgg` (default) or the generic aggregate; tests bind
    * it to false to compare the two. */
  private[engine] val packedCount = new DynamicVariable[Boolean](true)

  /** Conf: shuffle-disk budget in bytes for the auto bucket choice —
    * shared by every disk-bounded bucketed operator ([[topLinkPredictions]],
    * [[edgeTriangleSupport]]); unset/0 = 35% of usable space on the
    * first spark.local.dir. */
  val LinkPredBudgetKey = "spark.graft.linkpred.shuffleBudgetBytes"

  /** Measured at sf1 (PLANS.md round 7): ~1.3B packed-long wedges →
    * 10.3 GB lz4-compressed shuffle ≈ 8 B/wedge. */
  private val BytesPerWedge = 8.0

  /** Shared scratch budget for the bucketed operators: explicit conf,
    * else 35% of the usable space on the first spark.local.dir. None
    * when that path is unmeasurable (getUsableSpace == 0 — e.g. a
    * driver whose spark.local.dir names executor-only paths on a real
    * cluster): callers then fall back to a SINGLE pass rather than
    * silently jumping to the 64-pass cap on a 1-byte budget, and the
    * warning prints unconditionally — this is a misconfiguration
    * signal, not a debug trace (ADVICE r12). */
  private def diskBudgetBytes(spark: SparkSession): Option[Double] =
    spark.conf.get(LinkPredBudgetKey, "0").toLong match {
      case e if e > 0 => Some(e.toDouble)
      case _ =>
        val dir = spark.sparkContext.getConf.get("spark.local.dir",
          System.getProperty("java.io.tmpdir", "/tmp")).split(',').head
        val usable = new java.io.File(dir).getUsableSpace
        if (usable <= 0L) {
          System.err.println(s"[graft] scratch budget unknown " +
            s"(getUsableSpace($dir) = 0) — bucketed operators fall " +
            s"back to single-pass; set $LinkPredBudgetKey to the " +
            "aggregate executor scratch explicitly")
          None
        } else Some(usable * 0.35)
    }

  private def linkPredBuckets(spark: SparkSession, wedges: Double): Int = {
    val forced = linkPredPasses.value
    if (forced > 0) forced
    else diskBudgetBytes(spark) match {
      case None => 1
      case Some(budget) =>
        // cap at 64: beyond that the B× wedge regeneration dominates
        // and the honest answer is more scratch disk, not more passes
        math.min(64, math.max(1,
          math.ceil(wedges * BytesPerWedge / budget).toInt))
    }
  }

  /** Deterministic uniform random walks — the graph-ML sampling
    * pre-pass (DeepWalk / node2vec p=q=1 corpus generation, GNN
    * neighbor sampling). `rand()`-driven walks are irreproducible
    * across reruns, engines, and cluster sizes, which makes the
    * emitted walk corpus un-auditable; here the step-t choice from
    * vertex c of walk (start, w) is
    *
    *   argmin over neighbors n of  md5("start:w:t:n") ++ lpad(n)
    *
    * — a pure function of the walk identity, uniform over neighbors
    * (md5 prefix ordering is uniform), collision-free (the appended
    * zero-padded n makes keys distinct per neighbor), and expressible
    * identically in any engine with md5 (the [[SamplingOps.hashKey]]
    * hex-space discipline).
    *
    * Input contract matches [[kCore]]: canonical undirected edges
    * (src,dst), doubled internally; `starts` is a 1-column (`id`)
    * frame. Emits one row per (start, w in [0, walksPerNode)):
    * (start, w, final_node, path) with path the full "->"-joined
    * vertex sequence. A dead-end vertex (possible only if `starts`
    * contains isolated ids) holds the walk in place.
    *
    * Scale shape: per step, one equi-join of the walk frontier against
    * the doubled edge list on the current vertex plus one per-walk
    * argmin — the standard distributed frontier walk (|starts|·W rows
    * per step, never materializing all length-t paths times fan-out).
    * Hub vertices fan a frontier row out deg(hub) ways before the
    * argmin collapses it back to one — the partial_min aggregation
    * absorbs this map-side; extreme hubs would take the same salting
    * note as edgeTriangleSupport. */
  def deterministicWalks(edges: DataFrame, starts: DataFrame,
      walksPerNode: Int, steps: Int)
      (implicit spark: SparkSession): DataFrame = {
    require(walksPerNode >= 1 && steps >= 1,
      "walksPerNode and steps must be positive")
    val sym = edges.select(col("src").as("id"), col("dst").as("nbr"))
      .unionAll(edges.select(col("dst").as("id"), col("src").as("nbr")))
      .localCheckpoint()
    var walk = starts
      .select(col("id").cast("bigint").as("start"))
      .withColumn("w",
        explode(sequence(lit(0L), lit(walksPerNode - 1L))))
      .withColumn("cur", col("start"))
      .withColumn("path", col("start").cast("string"))
    for (t <- 1 to steps) {
      val key = concat(
        md5(concat_ws(":",
          col("start").cast("string"), col("w").cast("string"),
          lit(t.toString), col("nbr").cast("string"))),
        lpad(col("nbr").cast("string"), 20, "0"))
      walk = walk
        .join(sym.withColumnRenamed("id", "cur"), Seq("cur"), "left")
        .groupBy(col("start"), col("w"), col("cur"), col("path"))
        .agg(min_by(col("nbr"), key).as("next"))
        .select(col("start"), col("w"),
          coalesce(col("next"), col("cur")).as("cur"),
          when(col("next").isNotNull,
            concat(col("path"), lit("->"), col("next").cast("string")))
            .otherwise(col("path")).as("path"))
    }
    walk.select(col("start"), col("w"),
      col("cur").as("final_node"), col("path"))
  }

  /** Deterministic neighbor sampling — the GraphSAGE-style fan-out cap
    * (keep at most k neighbors per vertex before aggregation /
    * mini-batch construction). The kept subset is the k neighbors with
    * the smallest md5("id:nbr") keys: a uniform k-subset that is a pure
    * function of the edge, so resampling a grown graph keeps previously
    * sampled neighbors stable (reservoir-like stability that `rand()`
    * ordering cannot give), and any engine replays it exactly.
    *
    * Input contract matches [[kCore]]: canonical undirected edges,
    * doubled internally. Returns (id, rk, nbr) with rk = 1..k in key
    * order — callers wanting the plain sampled edge list drop rk.
    *
    * Scale shape: one ranking over the doubled edge list partitioned
    * by vertex — Spark 4 plans the rank-≤-k filter as WindowGroupLimit
    * (partial per-partition top-k before the shuffle), so hub vertices
    * ship k rows, not deg(hub). */
  def sampleNeighbors(edges: DataFrame, k: Int)
      (implicit spark: SparkSession): DataFrame = {
    require(k >= 1, "k must be positive")
    val sym = edges.select(col("src").as("id"), col("dst").as("nbr"))
      .unionAll(edges.select(col("dst").as("id"), col("src").as("nbr")))
    val key = concat(
      md5(concat_ws(":", col("id").cast("string"),
        col("nbr").cast("string"))),
      lpad(col("nbr").cast("string"), 20, "0"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(key)
    sym.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("id"), col("rk"), col("nbr"))
  }
}
