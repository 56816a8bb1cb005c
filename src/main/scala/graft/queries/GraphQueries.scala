package graft.queries

import org.apache.spark.sql.functions._

import graft.ir._
import graft.engine.QueryCompiler
import graft.sources.{Tables, TpchGraph}

/** Queries routed through the indradb-mirror IR + QueryCompiler over the
  * TPC-H graph projection (graft.sources.TpchGraph), each with a purely
  * relational DuckDB oracle over the base tables — so the graph engine's
  * pipe/join semantics are hash-checked against ground truth.
  */
object GraphQueries {

  /** AllVertex + label filter (D2 label scan) via RangeVertex. */
  val g01 = QueryDef.sql("g01_label_scan",
    """SELECT 'c:' || c_custkey AS id FROM customer ORDER BY id""") {
    (s, dir) =>
      val g = TpchGraph(Tables(s, dir))
      QueryCompiler(g).compile(RangeVertex(t = Some("customer")))
        .select(col("id")).orderBy(col("id"))
  }

  /** D3 property-equality lookup: customers in BUILDING segment. */
  val g02 = QueryDef.sql("g02_property_value",
    """SELECT 'c:' || c_custkey AS id, c_name AS name FROM customer
      |WHERE c_mktsegment = 'BUILDING' ORDER BY id""".stripMargin) {
    (s, dir) =>
      val g = TpchGraph(Tables(s, dir))
      QueryCompiler(g)
        .compile(VertexWithPropertyValue("mktsegment", "BUILDING"))
        .select(col("id"),
          element_at(col("properties"), "name").as("name"))
        .orderBy(col("id"))
  }

  /** D11 one-hop traversal: a specific customer's orders
    * (SpecificVertex → outbound PLACED edges → outbound vertices). */
  val g03 = QueryDef.sql("g03_one_hop",
    """SELECT 'o:' || o_orderkey AS id FROM orders
      |WHERE o_custkey = 1 ORDER BY id""".stripMargin) { (s, dir) =>
    val g = TpchGraph(Tables(s, dir))
    val q = SpecificVertex(Seq("c:1"))
      .outbound(t = Some("PLACED")).outbound()
    QueryCompiler(g).compile(q).select(col("id")).orderBy(col("id"))
  }

  /** Two-hop pipe + terminal Count (D6 on a traversal): distinct parts
    * reachable from BUILDING-segment customers. */
  val g04 = QueryDef.sql("g04_two_hop_count",
    """SELECT CAST(count(*) AS BIGINT) AS count FROM (
      |  SELECT DISTINCT l_partkey FROM lineitem
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  WHERE c_mktsegment = 'BUILDING')""".stripMargin) { (s, dir) =>
    val g = TpchGraph(Tables(s, dir))
    val q = VertexWithPropertyValue("mktsegment", "BUILDING")
      .outbound(t = Some("PLACED")).outbound()  // orders
      .outbound(t = Some("CONTAINS")).outbound() // parts (distinct by id)
      .count
    QueryCompiler(g).compile(q)
  }

  /** Property-presence filter over edges (indexing semantics without the
    * NotIndexed error, SURVEY §2.A): every CONTAINS edge carries
    * `linenumber`. */
  val g05 = QueryDef.sql("g05_edge_prop_presence",
    "SELECT CAST(count(*) AS BIGINT) AS count FROM lineitem") { (s, dir) =>
    val g = TpchGraph(Tables(s, dir))
    QueryCompiler(g).compile(EdgeWithPropertyPresence("linenumber").count)
  }

  /** Inbound pipe (reverse adjacency, rdb/managers.rs:226-231): orders
    * containing parts of one brand. */
  val g06 = QueryDef.sql("g06_inbound_hop",
    """SELECT DISTINCT 'o:' || l_orderkey AS id
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#11' ORDER BY id""".stripMargin) { (s, dir) =>
    val g = TpchGraph(Tables(s, dir))
    val q = VertexWithPropertyValue("brand", "Brand#11")
      .inbound(t = Some("CONTAINS")).inbound()
    QueryCompiler(g).compile(q).select(col("id")).orderBy(col("id"))
  }

  /** PipeProperty projection (queries.rs:524-545): explode nation
    * properties to (id, name, value) rows. */
  val g07 = QueryDef.sql("g07_pipe_property",
    """SELECT 'n:' || n_nationkey AS id, 'name' AS name, n_name AS value
      |FROM nation ORDER BY id""".stripMargin) { (s, dir) =>
    val g = TpchGraph(Tables(s, dir))
    QueryCompiler(g)
      .compile(RangeVertex(t = Some("nation")).properties())
      .orderBy(col("id"), col("name"))
  }

  /** Edge scan grouped by type (D10 + degree-by-type). */
  val g08 = QueryDef.sql("g08_edge_type_counts",
    """SELECT edge_type, n FROM (
      |  SELECT 'PLACED' AS edge_type, count(*) AS n FROM orders
      |  UNION ALL SELECT 'CONTAINS', count(*) FROM lineitem
      |  UNION ALL SELECT 'IN_NATION',
      |    (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
      |  UNION ALL SELECT 'IN_REGION', count(*) FROM nation)
      |ORDER BY edge_type""".stripMargin) { (s, dir) =>
    val g = TpchGraph(Tables(s, dir))
    QueryCompiler(g).compile(AllEdge)
      .groupBy(col("edge_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("edge_type"))
  }

  /** Distributed BFS (D17 infrastructure) vs a hand-unrolled relational
    * oracle: undirected 2-hop neighborhood of nation 0, counted by depth.
    */
  val g09 = QueryDef.sql("g09_bfs_depths",
    """SELECT depth, count(*) AS n FROM (
      |  SELECT 'n:0' AS id, 0 AS depth
      |  UNION ALL SELECT 'c:' || c_custkey, 1 FROM customer
      |    WHERE c_nationkey = 0
      |  UNION ALL SELECT 's:' || s_suppkey, 1 FROM supplier
      |    WHERE s_nationkey = 0
      |  UNION ALL SELECT 'r:' || n_regionkey, 1 FROM nation
      |    WHERE n_nationkey = 0
      |  UNION ALL SELECT 'n:' || n2.n_nationkey, 2 FROM nation n1
      |    JOIN nation n2 ON n1.n_regionkey = n2.n_regionkey
      |    WHERE n1.n_nationkey = 0 AND n2.n_nationkey <> 0
      |  UNION ALL SELECT 'o:' || o_orderkey, 2 FROM orders
      |    JOIN customer ON c_custkey = o_custkey WHERE c_nationkey = 0
      |) GROUP BY depth ORDER BY depth""".stripMargin) { (s, dir) =>
    import s.implicits._
    val g = TpchGraph(Tables(s, dir))
    graft.engine.Traversals.bfs(g, Seq("n:0").toDF("id"),
        maxDepth = 2, undirected = true)
      .groupBy(col("depth")).agg(count(lit(1)).as("n"))
      .orderBy(col("depth"))
  }

  /** Batched multi-source shortest paths (D17 engine) vs a hand-unrolled
    * relational oracle: every customer's directed shortest path to every
    * region — reachable only via its nation (customer→nation→region), so
    * the path and length-2 are fully determined relationally. All
    * customer×region pairs run in ONE frontier (no per-pair loop). */
  val sp01 = QueryDef.sql("sp01_shortest_paths",
    """SELECT 'c:' || c_custkey AS src, 'r:' || n_regionkey AS dst,
      |  'c:' || c_custkey || '>n:' || c_nationkey || '>r:' || n_regionkey
      |    AS path,
      |  CAST(2 AS BIGINT) AS length
      |FROM customer JOIN nation ON n_nationkey = c_nationkey
      |ORDER BY src, dst""".stripMargin) { (s, dir) =>
    val g = TpchGraph(Tables(s, dir))
    val custs = g.vertices.filter(col("label") === "customer")
      .select(col("id").as("src"))
    val regions = g.vertices.filter(col("label") === "region")
      .select(col("id").as("dst"))
    // cartesian pair semantics WITHOUT materializing customer×region
    // rows: sources drive one tree expansion, targets join the reached
    // set once (only found pairs ever exist as rows)
    graft.engine.Traversals.shortestPathsFromTo(g, custs, regions,
      maxDepth = 2, edgeTypes = Seq("IN_NATION", "IN_REGION"))
      .select(col("__a").as("src"), col("__b").as("dst"),
        array_join(col("path"), ">").as("path"), col("length"))
      .orderBy(col("src"), col("dst"))
  }

  /** The nation/region membership subgraph, the gx01/gx02 fixture:
    * small, fixed shape at every SF (TPC-H nations/regions are constant),
    * so whole-graph analytics have relationally-derivable ground truth. */
  private def membershipSubgraph(s: org.apache.spark.sql.SparkSession,
      dir: String): graft.engine.GraphState = {
    val full = TpchGraph(Tables(s, dir))
    graft.engine.GraphState(
      full.vertices.filter(col("label").isin("nation", "region")),
      full.edges.filter(col("edge_type") === "IN_REGION"))
  }

  /** Connected components, oracle-anchored: on the nation→region
    * membership graph the weak components are exactly the per-region
    * groups. The engine labels a component by its minimum internal
    * (hashed) vertex id — engine-specific — so components are
    * RE-labeled with their minimum member id STRING (a pure relabeling,
    * deterministic, engine-independent), which DuckDB derives
    * relationally. */
  val gx01 = QueryDef.sql("gx01_connected_components",
    """WITH m AS (SELECT n_regionkey AS rk,
      |            min('n:' || n_nationkey) AS component_id
      |          FROM nation GROUP BY 1)
      |SELECT id, component_id FROM (
      |  SELECT 'n:' || n_nationkey AS id, component_id
      |  FROM nation JOIN m ON n_regionkey = rk
      |  UNION ALL
      |  SELECT 'r:' || r_regionkey AS id, component_id
      |  FROM region JOIN m ON r_regionkey = rk)
      |ORDER BY id""".stripMargin) { (s, dir) =>
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val cc = graft.engine.GraphXBridge
      .connectedComponents(membershipSubgraph(s, dir))
    val labels = cc.groupBy(col("component"))
      .agg(min(col("id")).as("component_id"))
    cc.join(labels, Seq("component"))
      .select(col("id"), col("component_id")).orderBy(col("id"))
  }

  /** Fixed-iteration PageRank (GraphX `staticPageRank` semantics),
    * oracle-anchored: on the nation→region DAG the ranks reach a closed
    * form after 2 iterations (sources settle at reset, sinks one step
    * later), and the result is normalized so Σranks = |V| — both
    * derivable in SQL.
    * floor4 absorbs the (≤1 ulp) difference between the iterative and
    * closed-form arithmetic paths. */
  val gx02 = QueryDef.sql("gx02_static_pagerank",
    s"""WITH pre AS (
       |  SELECT 'n:' || n_nationkey AS id, CAST(0.15 AS DOUBLE) AS pre
       |  FROM nation
       |  UNION ALL
       |  SELECT 'r:' || r_regionkey AS id,
       |    0.15 + 0.85 * 0.15 *
       |      (SELECT count(*) FROM nation WHERE n_regionkey = r_regionkey)
       |  FROM region),
       |t AS (SELECT CAST(count(*) AS DOUBLE) AS nv, sum(pre) AS tot
       |      FROM pre)
       |SELECT id, ${graft.queries.Det.floor4Sql("pre * nv / tot")} AS rank
       |FROM pre, t ORDER BY id""".stripMargin) { (s, dir) =>
    implicit val sp: org.apache.spark.sql.SparkSession = s
    graft.engine.GraphXBridge
      .staticPageRank(membershipSubgraph(s, dir), numIter = 3)
      .select(col("id"), Det.floor4(col("rank")).as("rank"))
      .orderBy(col("id"))
  }

  /** Triangle counting over the co-purchase projection: parts
    * are linked when they appear in the same order; the oracle counts
    * canonical (x<y<z) edge triples with a three-way self-join. The
    * projection itself is the interesting scale step — C(k,2) pairs per
    * order stay bounded because order sizes are; the count then runs on
    * the degree-oriented DataFrame formulation (wedge fan-out bounded by
    * the orientation, whole-stage codegen). */
  val gx03 = QueryDef.sql("gx03_triangle_count",
    """WITH e AS (
      |  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
      |  FROM lineitem l1 JOIN lineitem l2
      |    ON l1.l_orderkey = l2.l_orderkey
      |   AND l1.l_partkey < l2.l_partkey)
      |SELECT CAST(count(*) AS BIGINT) AS n_triangles
      |FROM e a JOIN e b ON b.src = a.src AND b.dst > a.dst
      |JOIN e c ON c.src = a.dst AND c.dst = b.dst""".stripMargin) {
    (s, dir) =>
      implicit val sp: org.apache.spark.sql.SparkSession = s
      graft.engine.GraphXBridge.triangleTotalDF(coPurchaseEdges(s, dir))
  }

  /** Canonical (src < dst, distinct) co-purchase projection: parts are
    * linked when they appear in the same order. Kept per (session, dir)
    * by the session cache with a lineage cut — four gates (gx03/gx05/
    * gx09/gx10) iterate over this graph, and re-deriving the self-join
    * + distinct per gate dominated their wall time; at production scale
    * this materialization is a one-time bucketed-parquet write (the
    * TpchGraph discipline). */
  private[graft] def coPurchaseEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.engine.SessionCache.getOrCompute(s, ("coPurchaseEdges", dir)) {
      val l = Tables(s, dir).lineitem
        .select(col("l_orderkey"), col("l_partkey"))
      l.join(l.select(col("l_orderkey"), col("l_partkey").as("p2")),
          Seq("l_orderkey"))
        .filter(col("l_partkey") < col("p2"))
        .select(col("l_partkey").cast("long").as("src"),
          col("p2").cast("long").as("dst"))
        .distinct()
        .localCheckpoint()
    }

  /** k-core of the co-purchase graph (iterative peeling to a fixpoint).
    * The oracle replays the same synchronous peel as a capped recursive
    * CTE over the doubled symmetric edge list — window-function degrees
    * keep the recursive term referencing the working table once. The
    * peel converges in ~2 rounds on this graph (cap 16 is 8× margin);
    * Spark iterates to the true fixpoint, so the two agree exactly. */
  val gx05 = QueryDef.sql("gx05_kcore",
    """WITH RECURSIVE e AS (
      |  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
      |  FROM lineitem l1 JOIN lineitem l2
      |    ON l1.l_orderkey = l2.l_orderkey
      |   AND l1.l_partkey < l2.l_partkey),
      |surv(round, id, other) AS (
      |  SELECT 0, src, dst FROM e
      |  UNION ALL
      |  SELECT 0, dst, src FROM e
      |  UNION ALL
      |  SELECT round + 1, id, other FROM (
      |    SELECT round, id, other,
      |      count(*) OVER (PARTITION BY id) AS d1,
      |      count(*) OVER (PARTITION BY other) AS d2
      |    FROM surv WHERE round < 16) t
      |  WHERE d1 >= 130 AND d2 >= 130)
      |SELECT id, CAST(count(*) AS BIGINT) AS core_degree
      |FROM surv WHERE round = 16
      |GROUP BY id ORDER BY id""".stripMargin) { (s, dir) =>
    implicit val sp: org.apache.spark.sql.SparkSession = s
    graft.engine.GraphXBridge.kCore(coPurchaseEdges(s, dir), 130)
      .orderBy(col("id"))
  }

  /** Weighted SSSP (Bellman-Ford relaxation) over the purchase
    * DAG — customer→order edges weigh 1, order→part edges weigh the
    * line quantity; ids are disambiguated into disjoint mod-3 spaces.
    * The engine relaxes over the FULL graph from one source; the oracle
    * derives the reachable closure's closed form (min commutes with the
    * monotone +1.0, so the two evaluation orders agree exactly on
    * doubles). */
  val gx04 = QueryDef.sql("gx04_weighted_sssp",
    """WITH o AS (SELECT o_orderkey, o_custkey FROM orders
      |           WHERE o_custkey = 1)
      |SELECT id, distance FROM (
      |  SELECT CAST(3 AS BIGINT) AS id, CAST(0.0 AS DOUBLE) AS distance
      |  UNION ALL
      |  SELECT o_orderkey * 3 + 1, 1.0 FROM o
      |  UNION ALL
      |  SELECT l_partkey * 3 + 2, 1.0 + min(l_quantity)
      |  FROM lineitem JOIN o ON l_orderkey = o_orderkey
      |  GROUP BY l_partkey)
      |ORDER BY id""".stripMargin) { (s, dir) =>
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val t = Tables(s, dir)
    val custToOrder = t.orders.select(
      (col("o_custkey").cast("long") * 3).as("src"),
      (col("o_orderkey").cast("long") * 3 + 1).as("dst"),
      lit(1.0).as("w"))
    val orderToPart = t.lineitem.select(
      (col("l_orderkey").cast("long") * 3 + 1).as("src"),
      (col("l_partkey").cast("long") * 3 + 2).as("dst"),
      col("l_quantity").cast("double").as("w"))
    graft.engine.GraphXBridge
      .weightedSssp(custToOrder.unionByName(orderToPart), Seq(3L))
      .orderBy(col("id"))
  }

  /** Deterministic synchronous label propagation (2 rounds) over the
    * co-purchase graph: adopt the most frequent neighbor label, ties →
    * minimum label (GraphX's own LPA tie-breaks by map order — not
    * reproducible — so the engine is the DataFrame re-expression). The
    * oracle replays both rounds with window argmax; the hash pins every
    * vertex's community label, including every tie-break. */
  val gx09 = QueryDef.sql("gx09_label_propagation",
    """WITH e0 AS (
      |  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
      |  FROM lineitem l1 JOIN lineitem l2
      |    ON l1.l_orderkey = l2.l_orderkey
      |   AND l1.l_partkey < l2.l_partkey),
      |sym AS (SELECT src AS id, dst AS nbr FROM e0
      |        UNION ALL SELECT dst, src FROM e0),
      |l0 AS (SELECT DISTINCT id, id AS label FROM sym),
      |c1 AS (SELECT s.id, l.label, count(*) AS c
      |       FROM sym s JOIN l0 l ON l.id = s.nbr GROUP BY 1, 2),
      |l1 AS (SELECT id, label FROM (
      |        SELECT id, label, row_number() OVER (PARTITION BY id
      |          ORDER BY c DESC, label) AS rn FROM c1) WHERE rn = 1),
      |c2 AS (SELECT s.id, l.label, count(*) AS c
      |       FROM sym s JOIN l1 l ON l.id = s.nbr GROUP BY 1, 2),
      |l2 AS (SELECT id, label FROM (
      |        SELECT id, label, row_number() OVER (PARTITION BY id
      |          ORDER BY c DESC, label) AS rn FROM c2) WHERE rn = 1)
      |SELECT CAST(id AS BIGINT) AS id, CAST(label AS BIGINT) AS label
      |FROM l2 ORDER BY id""".stripMargin) { (s, dir) =>
    implicit val sp: org.apache.spark.sql.SparkSession = s
    graft.engine.GraphXBridge
      .labelPropagation(coPurchaseEdges(s, dir), rounds = 2)
      .orderBy(col("id"))
  }

  /** Personalized PageRank (3 exact-integer power iterations, α = 1/2,
    * floor division) from the parts customer 1 purchased, over the
    * co-purchase graph. Integer mass makes the per-vertex rank — not a
    * float approximation of it — the thing the oracle hash-checks;
    * the DuckDB side replays the same three push rounds. */
  val gx10 = QueryDef.sql("gx10_personalized_pagerank",
    """WITH e0 AS (
      |  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
      |  FROM lineitem l1 JOIN lineitem l2
      |    ON l1.l_orderkey = l2.l_orderkey
      |   AND l1.l_partkey < l2.l_partkey),
      |sym AS (SELECT src AS id, dst AS nbr FROM e0
      |        UNION ALL SELECT dst, src FROM e0),
      |deg AS (SELECT id, count(*) AS deg FROM sym GROUP BY id),
      |seeds AS (SELECT DISTINCT l_partkey AS id FROM lineitem
      |          JOIN orders ON o_orderkey = l_orderkey
      |          WHERE o_custkey = 1),
      |sg AS (SELECT d.id FROM deg d JOIN seeds s ON s.id = d.id),
      |r0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS rank FROM sg),
      |p1 AS (SELECT sym.nbr AS id, sum(r0.rank // deg.deg) AS s
      |       FROM r0 JOIN deg USING (id) JOIN sym USING (id)
      |       GROUP BY 1),
      |r1 AS (SELECT * FROM (
      |        SELECT coalesce(p1.id, sg.id) AS id,
      |          (coalesce(p1.s, 0) // 2) + (CASE WHEN sg.id IS NOT NULL
      |            THEN 500000000000 ELSE 0 END) AS rank
      |        FROM p1 FULL JOIN sg ON sg.id = p1.id) WHERE rank > 0),
      |p2 AS (SELECT sym.nbr AS id, sum(r1.rank // deg.deg) AS s
      |       FROM r1 JOIN deg USING (id) JOIN sym USING (id)
      |       GROUP BY 1),
      |r2 AS (SELECT * FROM (
      |        SELECT coalesce(p2.id, sg.id) AS id,
      |          (coalesce(p2.s, 0) // 2) + (CASE WHEN sg.id IS NOT NULL
      |            THEN 500000000000 ELSE 0 END) AS rank
      |        FROM p2 FULL JOIN sg ON sg.id = p2.id) WHERE rank > 0),
      |p3 AS (SELECT sym.nbr AS id, sum(r2.rank // deg.deg) AS s
      |       FROM r2 JOIN deg USING (id) JOIN sym USING (id)
      |       GROUP BY 1),
      |r3 AS (SELECT * FROM (
      |        SELECT coalesce(p3.id, sg.id) AS id,
      |          (coalesce(p3.s, 0) // 2) + (CASE WHEN sg.id IS NOT NULL
      |            THEN 500000000000 ELSE 0 END) AS rank
      |        FROM p3 FULL JOIN sg ON sg.id = p3.id) WHERE rank > 0)
      |SELECT CAST(id AS BIGINT) AS id, CAST(rank AS BIGINT) AS rank
      |FROM r3 ORDER BY id""".stripMargin) { (s, dir) =>
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val t = Tables(s, dir)
    val seeds = t.lineitem
      .join(t.orders.filter(col("o_custkey") === 1),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey").cast("long").as("id")).distinct()
    graft.engine.GraphXBridge
      .personalizedPageRankInt(coPurchaseEdges(s, dir), seeds, iters = 3)
      .orderBy(col("id"))
  }

  /** The undirected membership subgraph (customer/supplier —IN_NATION→
    * nation —IN_REGION→ region) that gx06/gx08/gx11 all iterate over —
    * kept per (session, dir) with lineage cuts, like the co-purchase
    * projection. */
  private def membershipGraph(s: org.apache.spark.sql.SparkSession,
      dir: String): graft.engine.GraphState =
    graft.engine.SessionCache.getOrCompute(s, ("membershipGraph", dir)) {
      val full = TpchGraph(Tables(s, dir))
      graft.engine.GraphState(
        full.vertices.filter(col("label").isin(
          "customer", "supplier", "nation", "region")).localCheckpoint(),
        full.edges.filter(col("edge_type").isin(
          "IN_NATION", "IN_REGION")).localCheckpoint())
    }

  /** The shared per-hop HyperBall run over the membership graph —
    * gx06 reads hop 2's per-vertex estimates, gx08 the per-hop totals,
    * gx11 all four hops; one sketch iteration serves all three
    * (identical values: hopStep is the single round definition). */
  private def membershipHops(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.engine.SessionCache.getOrCompute(s, ("membershipHops", dir)) {
      graft.engine.Neighborhood
        .hyperBallHops(membershipGraph(s, dir), 4)
        .localCheckpoint()
    }

  /** HARMONIC CENTRALITY via HyperBall (Boldi & Vigna's headline
    * application): H(v) = Σ_{u≠v} 1/d(v,u), computed here in EXACT
    * integer space as H×12 = 12·b₁ + 6·b₂ + 4·b₃ + 3·b₄ (b_k = #
    * vertices at distance exactly k; the membership graph's diameter
    * is 4, and 12 is lcm(1..4) — no float division anywhere). The
    * engine derives the exact layer counts from the ontology's
    * counting identities IN-PLAN (the gx08 stance: the generic exact
    * path is the Θ(Σ|ball|) pair explosion that sketches exist to
    * avoid) and runs the REAL per-hop HyperBall sketches, certifying
    * every hop's estimate within 5% of the exact ball size — so the
    * hash pins both the centrality algebra and the sketch quality. */
  val gx11 = QueryDef.sql("gx11_harmonic_centrality",
    """WITH mn AS (
      |  SELECT n_nationkey AS nk, n_regionkey AS rk,
      |    coalesce(c.cn, 0) + coalesce(s.sn, 0) AS m
      |  FROM nation
      |  LEFT JOIN (SELECT c_nationkey, count(*) AS cn FROM customer
      |             GROUP BY 1) c ON c_nationkey = n_nationkey
      |  LEFT JOIN (SELECT s_nationkey, count(*) AS sn FROM supplier
      |             GROUP BY 1) s ON s_nationkey = n_nationkey),
      |rg AS (SELECT rk, count(*) AS kr, sum(m) AS mr FROM mn
      |       GROUP BY rk)
      |SELECT 'c:' || c_custkey AS id,
      |  CAST(12 + 6 * m + 4 * (kr - 1) + 3 * (mr - m) AS BIGINT)
      |    AS h12,
      |  CAST(1 AS BIGINT) AS certified
      |FROM customer
      |JOIN mn ON mn.nk = c_nationkey
      |JOIN rg ON rg.rk = mn.rk
      |ORDER BY id""".stripMargin) { (s, dir) =>
    val t = Tables(s, dir)
    val est = membershipHops(s, dir)
    // exact per-customer layer counts from the counting identities:
    // reach₁=2 (self+nation), reach₂=2+m, reach₃=1+m+kr, reach₄=1+kr+mr
    val mn = t.nation.select(col("n_nationkey").as("nk"),
        col("n_regionkey").as("rk"))
      .join(t.customer.groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("cn")), Seq("nk"), "left")
      .join(t.supplier.groupBy(col("s_nationkey").as("nk"))
        .agg(count(lit(1)).as("sn")), Seq("nk"), "left")
      .select(col("nk"), col("rk"),
        (coalesce(col("cn"), lit(0L)) + coalesce(col("sn"), lit(0L)))
          .as("m"))
    val rgW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rk"))
    val j = mn.withColumn("kr", count(lit(1)).over(rgW))
      .withColumn("mr", sum(col("m")).over(rgW))
    val exact = t.customer
      .select(concat(lit("c:"), col("c_custkey")).as("id"),
        col("c_nationkey").as("nk"))
      .join(broadcast(j), Seq("nk"))
      .select(col("id"),
        (lit(12L) + col("m") * 6 + (col("kr") - 1) * 4 +
          (col("mr") - col("m")) * 3).as("h12"),
        lit(2L).as("r1"), (col("m") + 2).as("r2"),
        (col("m") + col("kr") + 1).as("r3"),
        (col("kr") + col("mr") + 1).as("r4"))
    def ok(estC: org.apache.spark.sql.Column,
        exactC: org.apache.spark.sql.Column) =
      abs(estC - exactC) <= exactC * 0.05
    exact.join(est, Seq("id"))
      .select(col("id"), col("h12"),
        (ok(col("est_1"), col("r1")) && ok(col("est_2"), col("r2")) &&
          ok(col("est_3"), col("r3")) && ok(col("est_4"), col("r4")))
          .cast("long").as("certified"))
      .orderBy(col("id"))
  }

  /** GraphXBridge.degrees in the gate (was spec-only): the customer
    * degree histogram over the full TPC-H graph — a customer's degree
    * is 1 (its nation edge) + its order count, so the histogram is
    * relationally derivable; hash-matching it pins the degree
    * aggregation and its semi-join against the vertex set. */
  val gx12 = QueryDef.sql("gx12_degree_histogram",
    """WITH d AS (
      |  SELECT c_custkey, 1 + count(o_orderkey) AS degree
      |  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |  GROUP BY c_custkey)
      |SELECT CAST(degree AS BIGINT) AS degree,
      |  CAST(count(*) AS BIGINT) AS n_customers
      |FROM d GROUP BY degree ORDER BY degree""".stripMargin) {
    (s, dir) =>
    implicit val sp: org.apache.spark.sql.SparkSession = s
    graft.engine.GraphXBridge.degrees(TpchGraph(Tables(s, dir)))
      .filter(col("id").startsWith("c:"))
      .groupBy(col("degree").cast("long").as("degree"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("degree"))
  }

  /** gst01's bucketed graph store, saved once per (JVM, dir) under a
    * dir-keyed catalog table name (the store write is the fixture; the
    * gate measures the traversal answered FROM the store). Returns the
    * table-name prefix to load. */
  private def gst01Stage(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val name = s"gst01_g${math.abs(dir.hashCode).toString}"
    Fixtures.staged("gst01_store", dir) { tmp =>
      graft.sources.GraphStore.saveBucketed(
        TpchGraph(Tables(s, dir)), s, name, tmp, buckets = 8)
    }
    name
  }

  /** The persistence round-trip IN the correctness gate: the graph
    * projection is written as the production layout (vertices
    * partitioned by label for scan pruning, edges bucketed+sorted by src
    * so traversal joins co-locate), reloaded from disk, and a traversal
    * is answered from the STORED graph — hash-checked against the same
    * relational oracle as the in-memory path (g03). Proves the
    * bucketed-store path end-to-end, not just in plan asserts. */
  val gst01 = QueryDef.sql("gst01_bucketed_store_hop",
    """SELECT 'o:' || o_orderkey AS id FROM orders
      |WHERE o_custkey = 1 ORDER BY id""".stripMargin) { (s, dir) =>
    val name = gst01Stage(s, dir)
    val stored = graft.sources.GraphStore.loadBucketed(s, name)
    val q = SpecificVertex(Seq("c:1"))
      .outbound(t = Some("PLACED")).outbound()
    QueryCompiler(stored).compile(q).select(col("id")).orderBy(col("id"))
  }.withStage(gst01Stage(_, _))

  /** HyperBall neighborhood function (Boldi & Vigna), certified: the
    * 2-hop reach size of every customer over the undirected membership
    * subgraph (customer/supplier —IN_NATION→ nation —IN_REGION→
    * region), where the closed form is c_n + s_n + 2 (same-nation
    * customers incl. self, same-nation suppliers, the nation, its
    * region). Spark emits the EXACT size plus a bit certifying the
    * HLL-sketch estimate within 5% — on these ball sizes the
    * datasketches HLL is still in its exact sparse regime, so the bit
    * is deterministically 1. The sketch path is the 100 TB plan:
    * per-round state is one fixed-size sketch per vertex, never the
    * (source, vertex) pair explosion a generic exact path pays.
    *
    * The exact side uses the gx08/gx11 stance — layer counts derived
    * from counting identities IN-PLAN (here: one aggregation of the
    * IN_NATION edge frame; ball₂(member) = members(nation) + 2). The
    * generic Θ(Σ|ball|) expansion (now the test oracle
    * `NeighborhoodOracles.exactSizes` of TraversalSpec and ScaleSpec's
    * ground-truth checks) was the sf1 rehearsal's
    * worst superliner: ~1B pair rows and 109–273 s at 160k members —
    * exactly the explosion the sketch exists to avoid, so certifying
    * the sketch against it at scale defeats the point. */
  val gx06 = QueryDef.sql("gx06_hyperball",
    """WITH cn AS (SELECT c_nationkey AS nk, count(*) AS c_n
      |           FROM customer GROUP BY 1),
      |sn AS (SELECT s_nationkey AS nk, count(*) AS s_n
      |       FROM supplier GROUP BY 1)
      |SELECT 'c:' || c_custkey AS id,
      |  CAST(c_n + coalesce(s_n, 0) + 2 AS BIGINT) AS n_reach,
      |  CAST(1 AS BIGINT) AS certified
      |FROM customer
      |JOIN cn ON c_nationkey = cn.nk
      |LEFT JOIN sn ON c_nationkey = sn.nk
      |ORDER BY id""".stripMargin) { (s, dir) =>
    // Pinned memoized subgraph: both expansions reference the
    // vertex/edge frames in every hop's join AND across the exact/est
    // plans — unpinned, each of those jobs re-scans and re-codegens the
    // whole TpchGraph union-of-tables DAG (the dominant cost here). At
    // cluster scale this is persist()-to-memory; localCheckpoint is the
    // local[n] equivalent with lineage cut.
    val g = membershipGraph(s, dir)
    // exact 2-hop ball size via the in-plan counting identity: every
    // IN_NATION source's ball is {same-nation members (self incl.),
    // the nation, its region} — one edge-frame aggregation, no
    // (source, vertex) expansion
    val inNation = g.edges.filter(col("edge_type") === "IN_NATION")
      .select(col("src"), col("dst"))
    val exact = inNation
      .join(inNation.groupBy(col("dst")).agg(count(lit(1)).as("m")),
        Seq("dst"))
      .select(col("src").as("id"), (col("m") + lit(2L)).as("n_reach"))
    val est = membershipHops(s, dir)
      .select(col("id"), col("est_2").as("estimate"))
    exact.join(est, Seq("id"))
      .filter(col("id").startsWith("c:"))
      .select(col("id"), col("n_reach"),
        (abs(col("estimate") - col("n_reach")) <=
          col("n_reach") * 0.05).cast("long").as("certified"))
      .orderBy(col("id"))
  }

  /** Strongly connected components of the event-type TRANSITION digraph
    * (user-journey condensation): per-user event sequences (window lag,
    * scalable construction — the only wide op over the raw events) are
    * reduced to distinct above-average transitions, and a driver-side
    * Tarjan SCC labels each type with its component's minimum member.
    * The oracle recomputes SCCs from first principles: a recursive-CTE
    * reachability closure intersected with its transpose (mutual
    * reachability), min-labeled — engine-independent by the min-member
    * relabeling. */
  val gx07 = QueryDef.sql("gx07_scc_transitions",
    """WITH RECURSIVE seq AS (
      |  SELECT event_type, lag(event_type) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |t AS (SELECT prev, event_type, count(*) AS c FROM seq
      |      WHERE prev IS NOT NULL GROUP BY 1, 2),
      |e AS (SELECT 't:' || prev AS src, 't:' || event_type AS dst
      |      FROM t WHERE c * (SELECT count(*) FROM t)
      |                   > (SELECT sum(c) FROM t)),
      |v AS (SELECT DISTINCT 't:' || event_type AS id FROM events),
      |reach AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON e2.src = r.dst),
      |mutual AS (
      |  SELECT r1.src AS id, r1.dst AS peer FROM reach r1
      |  JOIN reach r2 ON r1.src = r2.dst AND r1.dst = r2.src)
      |SELECT v.id, least(coalesce(min(m.peer), v.id), v.id)
      |    AS component_id
      |FROM v LEFT JOIN mutual m ON m.id = v.id
      |GROUP BY v.id ORDER BY v.id""".stripMargin) { (s, dir) =>
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val ev = Tables(s, dir).events
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val seq = ev.select(col("event_type"),
      lag(col("event_type"), 1).over(w).as("prev"))
    val t = seq.filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val tot = t.agg(sum(col("c")).as("tot"), count(lit(1)).as("n"))
    val e = t.crossJoin(broadcast(tot))
      .filter(col("c") * col("n") > col("tot"))
      .select(concat(lit("t:"), col("prev")).as("src"),
        concat(lit("t:"), col("event_type")).as("dst"),
        lit("NEXT").as("edge_type"))
    val vtx = ev
      .select(concat(lit("t:"), col("event_type")).as("id")).distinct()
      .withColumn("label", lit("etype"))
    // the transition digraph is a CONDENSATION: its vertex count is the
    // event-type vocabulary (constant at every SF), so the bounded
    // driver-side Tarjan runs it (TraversalSpec pins it ≡ GraphX's
    // stronglyConnectedComponents, min-member relabeled)
    val scc = graft.engine.GraphXBridge.stronglyConnectedBounded(
      graft.engine.GraphState(vtx, e))
    scc.orderBy(col("id"))
  }

  /** NEIGHBORHOOD FUNCTION + effective diameter via HyperBall — the
    * algorithm's actual purpose (Boldi & Vigna 2013). N(k) = Σ|ball(k)|
    * for k = 0..4 over the undirected membership graph: the EXACT pair
    * expansion is Θ(Σ|ball|), which at k = 4 is Σ_r T_r² ≈ |V|²/|R| —
    * the quadratic blowup that makes sketches the only 100 TB path —
    * so the exact side derives from the ontology's counting identities
    * (per-nation/region member algebra, the same closed-form style as
    * gx06/gx02), and the HLL estimates certify within 5% per hop with
    * integer-exact comparisons. The effective diameter (min k with
    * N(k) ≥ 0.9·N(4)) is computed FROM THE ESTIMATES and must match
    * the closed form's. */
  val gx08 = QueryDef.sql("gx08_effective_diameter",
    """WITH mn AS (
      |  SELECT n_nationkey AS nk, n_regionkey AS rk,
      |    coalesce(c.cn, 0) + coalesce(s.sn, 0) AS m
      |  FROM nation
      |  LEFT JOIN (SELECT c_nationkey, count(*) AS cn FROM customer
      |             GROUP BY 1) c ON c_nationkey = n_nationkey
      |  LEFT JOIN (SELECT s_nationkey, count(*) AS sn FROM supplier
      |             GROUP BY 1) s ON s_nationkey = n_nationkey),
      |rg AS (SELECT rk, count(*) AS kr, sum(m) AS mr FROM mn
      |       GROUP BY rk),
      |j AS (SELECT mn.nk, mn.rk, mn.m, rg.kr, rg.mr,
      |        rg.mr + rg.kr + 1 AS t
      |      FROM mn JOIN rg USING (rk)),
      |nf AS (
      |  SELECT CAST(0 AS BIGINT) AS k,
      |    CAST((SELECT sum(m) FROM j) + (SELECT count(*) FROM j)
      |      + (SELECT count(*) FROM rg) AS BIGINT) AS n_reach
      |  UNION ALL SELECT 1, CAST((SELECT sum(3*m + 2) FROM j)
      |    + (SELECT sum(1 + kr) FROM rg) AS BIGINT)
      |  UNION ALL SELECT 2,
      |    CAST((SELECT sum(m*(m+2) + m + kr + 1) FROM j)
      |    + (SELECT sum(mr + kr + 1) FROM rg) AS BIGINT)
      |  UNION ALL SELECT 3,
      |    CAST((SELECT sum(m*(m + kr + 1) + t) FROM j)
      |    + (SELECT sum(mr + kr + 1) FROM rg) AS BIGINT)
      |  UNION ALL SELECT 4, CAST((SELECT sum(m*t + t) FROM j)
      |    + (SELECT sum(mr + kr + 1) FROM rg) AS BIGINT)),
      |eff AS (SELECT min(k) AS ek FROM nf
      |  WHERE n_reach * 10 >= 9 * (SELECT n_reach FROM nf WHERE k = 4))
      |SELECT k, n_reach, CAST(1 AS BIGINT) AS certified,
      |  CAST((SELECT ek FROM eff) AS BIGINT) AS eff_diameter
      |FROM nf ORDER BY k""".stripMargin) { (s, dir) =>
    val t = Tables(s, dir)
    // HLL estimates (bounded: maxHops+1 rows, collected)
    val hopsDf = membershipHops(s, dir)
    val estRow = hopsDf.agg(count(lit(1)).as("e0"),
      sum(col("est_1")).as("e1"), sum(col("est_2")).as("e2"),
      sum(col("est_3")).as("e3"), sum(col("est_4")).as("e4"))
      .collect()(0)
    val est = (0 to 4).map(i => i.toLong -> estRow.getLong(i)).toMap
    val est4 = est(4L)
    val effEst = (0L to 4L).filter(k => est(k) * 10 >= 9 * est4).min
    // exact N(k) from the same counting identities as the oracle
    val mn = t.nation.select(col("n_nationkey").as("nk"),
        col("n_regionkey").as("rk"))
      .join(t.customer.groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("cn")), Seq("nk"), "left")
      .join(t.supplier.groupBy(col("s_nationkey").as("nk"))
        .agg(count(lit(1)).as("sn")), Seq("nk"), "left")
      .select(col("nk"), col("rk"),
        (coalesce(col("cn"), lit(0L)) + coalesce(col("sn"), lit(0L)))
          .as("m"))
    val rgW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rk"))
    val j = mn.withColumn("kr", count(lit(1)).over(rgW))
      .withColumn("mr", sum(col("m")).over(rgW))
      .withColumn("t", col("mr") + col("kr") + lit(1L))
      .localCheckpoint() // reused by all five N(k) aggregates
    val rg = j.groupBy(col("rk")).agg(max(col("kr")).as("kr"),
      max(col("mr")).as("mr"), max(col("t")).as("t"))
    // all five N(k) terms in TWO jobs (one per frame), not ten
    // sequential scalar collects
    val jRow = j.agg(
      (sum(col("m")) + count(lit(1))).cast("long").as("j0"),
      sum(col("m") * 3 + 2).cast("long").as("j1"),
      sum(col("m") * (col("m") + 2) + col("m") + col("kr") + 1)
        .cast("long").as("j2"),
      sum(col("m") * (col("m") + col("kr") + 1) + col("t"))
        .cast("long").as("j3"),
      sum(col("m") * col("t") + col("t")).cast("long").as("j4"))
      .collect()(0)
    val rgRow = rg.agg(
      count(lit(1)).cast("long").as("r0"),
      sum(col("kr") + 1).cast("long").as("r1"),
      sum(col("t")).cast("long").as("rt"))
      .collect()(0)
    val nReach: Map[Long, Long] = Map(
      0L -> (jRow.getLong(0) + rgRow.getLong(0)),
      1L -> (jRow.getLong(1) + rgRow.getLong(1)),
      2L -> (jRow.getLong(2) + rgRow.getLong(2)),
      3L -> (jRow.getLong(3) + rgRow.getLong(2)),
      4L -> (jRow.getLong(4) + rgRow.getLong(2)))
    import s.implicits._
    (0L to 4L).map { k =>
      val exact = nReach(k)
      // 5% certification with integer-exact arithmetic
      val cert = if (math.abs(est(k) - exact) * 20 <= exact) 1L else 0L
      (k, exact, cert, effEst)
    }.toDF("k", "n_reach", "certified", "eff_diameter")
  }

  /** gx13 runs on the co-purchase subgraph induced by partkeys < 2000
    * (the FULL graph at the driver's sf0.01 gate — sf0.01 has exactly
    * 2000 parts — so correctness covers the whole graph; the slice only
    * bounds bench sf0.1). The bound is INTRINSIC to exact all-pairs
    * link prediction, not a plan defect: the full sf0.1 answer is
    * ~100M candidate pairs (measured in PLANS.md "Round 5 —
    * environment re-validation": 1.196M edges → 99.9M pairs, 43 s
    * warm), i.e. the output itself is
    * wedge-sized. Same bounded-gate discipline as the s-family's
    * 10-query slices. gx14 is UN-pinned: the degree-oriented support
    * operator runs the full sf0.1 graph in ~0.4 s. */
  private def coPurchaseSub(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    coPurchaseEdges(s, dir)
      .filter(col("src") < 2000 && col("dst") < 2000)

  /** Link prediction over the co-purchase subgraph: exact-integer
    * common-neighbor / Jaccard-bp / preferential-attachment scores for
    * non-adjacent pairs, top-50 by (common desc, id1, id2) — a total
    * order, so every predicted pair and score is pinned. Shares the
    * memoized projection with gx03/05/09/10. */
  val gx13 = QueryDef.sql("gx13_link_prediction",
    """WITH e AS (
      |  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
      |  FROM lineitem l1 JOIN lineitem l2
      |    ON l1.l_orderkey = l2.l_orderkey
      |   AND l1.l_partkey < l2.l_partkey
      |   AND l1.l_partkey < 2000 AND l2.l_partkey < 2000),
      |sym AS (SELECT src AS id, dst AS nbr FROM e
      |        UNION ALL SELECT dst, src FROM e),
      |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
      |        FROM sym GROUP BY id),
      |common AS (
      |  SELECT a.id AS id1, b.id AS id2, CAST(count(*) AS BIGINT)
      |    AS common
      |  FROM sym a JOIN sym b ON a.nbr = b.nbr AND a.id < b.id
      |  GROUP BY 1, 2),
      |cand AS (
      |  SELECT c.* FROM common c
      |  LEFT JOIN e ON e.src = c.id1 AND e.dst = c.id2
      |  WHERE e.src IS NULL)
      |SELECT id1, id2, common,
      |  CAST(floor(10000 * common / (d1.deg + d2.deg - common))
      |    AS BIGINT) AS jaccard_bp,
      |  d1.deg * d2.deg AS pref_attach
      |FROM cand
      |JOIN deg d1 ON d1.id = id1
      |JOIN deg d2 ON d2.id = id2
      |ORDER BY common DESC, id1, id2 LIMIT 50""".stripMargin) { (s, dir) =>
    graft.engine.GraphXBridge.linkPredictionScores(coPurchaseSub(s, dir))
      .select(col("id1"), col("id2"), col("common"), col("jaccard_bp"),
        col("pref_attach"))
      .orderBy(col("common").desc, col("id1"), col("id2"))
      .limit(50)
  }

  /** Per-edge triangle support histogram (the k-truss peeling input):
    * support → edge count over every canonical co-purchase edge of the
    * FULL graph (un-pinned — the degree-oriented operator runs the
    * whole sf0.1 graph in ~0.4 s), zero-support edges included.
    * Σ support·n_edges = 3 × gx03's triangle total — the cross-gate
    * consistency identity. */
  val gx14 = QueryDef.sql("gx14_triangle_support",
    """WITH e AS (
      |  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
      |  FROM lineitem l1 JOIN lineitem l2
      |    ON l1.l_orderkey = l2.l_orderkey
      |   AND l1.l_partkey < l2.l_partkey),
      |sym AS (SELECT src AS id, dst AS nbr FROM e
      |        UNION ALL SELECT dst, src FROM e),
      |sup AS (
      |  SELECT e.src, e.dst, CAST(count(*) AS BIGINT) AS support
      |  FROM e
      |  JOIN sym a ON a.id = e.src
      |  JOIN sym b ON b.id = e.dst AND b.nbr = a.nbr
      |  GROUP BY 1, 2)
      |SELECT support, CAST(count(*) AS BIGINT) AS n_edges FROM (
      |  SELECT e.src, e.dst, coalesce(sup.support, 0) AS support
      |  FROM e LEFT JOIN sup ON sup.src = e.src AND sup.dst = e.dst)
      |GROUP BY support ORDER BY support""".stripMargin) { (s, dir) =>
    graft.engine.GraphXBridge.edgeTriangleSupport(
        coPurchaseEdges(s, dir))
      .groupBy(col("support"))
      .agg(count(lit(1)).as("n_edges"))
      .orderBy(col("support"))
  }

  /** Degree assortativity (Newman's r) of the co-purchase subgraph —
    * exact-integer moment sums over the doubled edge list, one double
    * cast, lockstep formula (the q46 recipe on a graph input). */
  val gx15 = QueryDef.sql("gx15_assortativity",
    """WITH e AS (
      |  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
      |  FROM lineitem l1 JOIN lineitem l2
      |    ON l1.l_orderkey = l2.l_orderkey
      |   AND l1.l_partkey < l2.l_partkey
      |   AND l1.l_partkey < 2000 AND l2.l_partkey < 2000),
      |sym AS (SELECT src AS id, dst AS nbr FROM e
      |        UNION ALL SELECT dst, src FROM e),
      |deg AS (SELECT id, count(*) AS deg FROM sym GROUP BY id),
      |pr AS (SELECT dx.deg AS x, dy.deg AS y FROM sym
      |       JOIN deg dx ON dx.id = sym.id
      |       JOIN deg dy ON dy.id = sym.nbr),
      |m AS (SELECT
      |  CAST(CAST(count(*) AS HUGEINT) AS DOUBLE) AS n,
      |  CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
      |  CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
      |  CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE)
      |    AS sxy,
      |  CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS DOUBLE)
      |    AS sxx,
      |  CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS DOUBLE)
      |    AS syy
      |  FROM pr)
      |SELECT CAST(n AS BIGINT) AS n_pairs,
      |  CAST(floor((n * sxy - sx * sy) /
      |    nullif(sqrt(greatest(n * sxx - sx * sx, 0))
      |         * sqrt(greatest(n * syy - sy * sy, 0)), 0) * 10000)
      |    AS DOUBLE) / 10000 AS assortativity
      |FROM m""".stripMargin) { (s, dir) =>
    graft.engine.GraphXBridge.degreeAssortativity(coPurchaseSub(s, dir))
  }

  /** Deterministic uniform random walks (DeepWalk / GNN-sampling
    * corpus) over the co-purchase subgraph: 2 walks × 3 steps from
    * every vertex < 200, neighbor choice = argmin of
    * md5("start:w:t:nbr") — reproducible on any engine, so the oracle
    * replays the EXACT walks step-by-step (unrolled argmin CTEs) and
    * every path string is pinned. */
  val gx16 = QueryDef.sql("gx16_random_walks",
    """WITH e AS (
      |  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
      |  FROM lineitem l1 JOIN lineitem l2
      |    ON l1.l_orderkey = l2.l_orderkey
      |   AND l1.l_partkey < l2.l_partkey
      |   AND l1.l_partkey < 2000 AND l2.l_partkey < 2000),
      |sym AS (SELECT src AS id, dst AS nbr FROM e
      |        UNION ALL SELECT dst, src FROM e),
      |starts AS (SELECT DISTINCT id FROM sym WHERE id < 200),
      |w0 AS (
      |  SELECT id AS start, w, id AS cur, CAST(id AS VARCHAR) AS path
      |  FROM starts,
      |    (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT))) t(w)),
      |s1 AS (
      |  SELECT w0.start, w0.w, w0.path,
      |    arg_min(sym.nbr,
      |      md5(CAST(w0.start AS VARCHAR) || ':' ||
      |          CAST(w0.w AS VARCHAR) || ':1:' ||
      |          CAST(sym.nbr AS VARCHAR)) ||
      |      lpad(CAST(sym.nbr AS VARCHAR), 20, '0')) AS nxt
      |  FROM w0 JOIN sym ON sym.id = w0.cur GROUP BY 1, 2, 3),
      |w1 AS (SELECT start, w, nxt AS cur,
      |         path || '->' || CAST(nxt AS VARCHAR) AS path FROM s1),
      |s2 AS (
      |  SELECT w1.start, w1.w, w1.path,
      |    arg_min(sym.nbr,
      |      md5(CAST(w1.start AS VARCHAR) || ':' ||
      |          CAST(w1.w AS VARCHAR) || ':2:' ||
      |          CAST(sym.nbr AS VARCHAR)) ||
      |      lpad(CAST(sym.nbr AS VARCHAR), 20, '0')) AS nxt
      |  FROM w1 JOIN sym ON sym.id = w1.cur GROUP BY 1, 2, 3),
      |w2 AS (SELECT start, w, nxt AS cur,
      |         path || '->' || CAST(nxt AS VARCHAR) AS path FROM s2),
      |s3 AS (
      |  SELECT w2.start, w2.w, w2.path,
      |    arg_min(sym.nbr,
      |      md5(CAST(w2.start AS VARCHAR) || ':' ||
      |          CAST(w2.w AS VARCHAR) || ':3:' ||
      |          CAST(sym.nbr AS VARCHAR)) ||
      |      lpad(CAST(sym.nbr AS VARCHAR), 20, '0')) AS nxt
      |  FROM w2 JOIN sym ON sym.id = w2.cur GROUP BY 1, 2, 3),
      |w3 AS (SELECT start, w, nxt AS cur,
      |         path || '->' || CAST(nxt AS VARCHAR) AS path FROM s3)
      |SELECT start, w, cur AS final_node, path
      |FROM w3 ORDER BY start, w""".stripMargin) { (s, dir) =>
    val e = coPurchaseSub(s, dir)
    val starts = e
      .select(explode(array(col("src"), col("dst"))).as("id"))
      .filter(col("id") < 200).distinct()
    graft.engine.GraphXBridge.deterministicWalks(
      e, starts, walksPerNode = 2, steps = 3)(s)
      .orderBy(col("start"), col("w"))
  }

  /** Deterministic neighbor sampling (GraphSAGE fan-out cap, k = 3)
    * over the co-purchase subgraph: per vertex, the 3 neighbors with
    * the smallest md5("id:nbr") keys. Every (id, rk, nbr) row is
    * pinned — the oracle replays the ranking with the same hash. */
  val gx17 = QueryDef.sql("gx17_neighbor_sample",
    """WITH e AS (
      |  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
      |  FROM lineitem l1 JOIN lineitem l2
      |    ON l1.l_orderkey = l2.l_orderkey
      |   AND l1.l_partkey < l2.l_partkey
      |   AND l1.l_partkey < 2000 AND l2.l_partkey < 2000),
      |sym AS (SELECT src AS id, dst AS nbr FROM e
      |        UNION ALL SELECT dst, src FROM e),
      |r AS (
      |  SELECT id, nbr, CAST(row_number() OVER (
      |      PARTITION BY id
      |      ORDER BY md5(CAST(id AS VARCHAR) || ':' ||
      |                   CAST(nbr AS VARCHAR)) ||
      |               lpad(CAST(nbr AS VARCHAR), 20, '0'))
      |    AS BIGINT) AS rk
      |  FROM sym)
      |SELECT id, rk, nbr FROM r WHERE rk <= 3
      |ORDER BY id, rk""".stripMargin) { (s, dir) =>
    graft.engine.GraphXBridge.sampleNeighbors(coPurchaseSub(s, dir), 3)(s)
      .orderBy(col("id"), col("rk"))
  }

  /** FULL-GRAPH top-50 link prediction (no partkey slice — the whole
    * co-purchase graph at whatever SF the driver runs): the plan keeps
    * the ~Σ C(deg,2) candidate set un-sorted and un-widened — the
    * top-50 cut is TakeOrderedAndProject straight off the
    * (id1, id2, common) aggregate, and degree/score columns join after
    * the cut against 50 rows (ScaleSpec pins this plan shape). On
    * sf0.1's 1.2M-edge graph the candidate set is ~100M pairs; this is
    * the operator a 100 TB "predict missing edges" job would run. */
  val gx18 = QueryDef.sql("gx18_top_link_prediction",
    """WITH e AS (
      |  SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
      |  FROM lineitem l1 JOIN lineitem l2
      |    ON l1.l_orderkey = l2.l_orderkey
      |   AND l1.l_partkey < l2.l_partkey),
      |sym AS (SELECT src AS id, dst AS nbr FROM e
      |        UNION ALL SELECT dst, src FROM e),
      |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
      |        FROM sym GROUP BY id),
      |common AS (
      |  SELECT a.id AS id1, b.id AS id2, CAST(count(*) AS BIGINT)
      |    AS common
      |  FROM sym a JOIN sym b ON a.nbr = b.nbr AND a.id < b.id
      |  GROUP BY 1, 2),
      |cand AS (
      |  SELECT c.* FROM common c
      |  LEFT JOIN e ON e.src = c.id1 AND e.dst = c.id2
      |  WHERE e.src IS NULL)
      |SELECT id1, id2, common,
      |  CAST(floor(10000 * common / (d1.deg + d2.deg - common))
      |    AS BIGINT) AS jaccard_bp,
      |  d1.deg * d2.deg AS pref_attach
      |FROM cand
      |JOIN deg d1 ON d1.id = id1
      |JOIN deg d2 ON d2.id = id2
      |ORDER BY common DESC, id1, id2 LIMIT 50""".stripMargin) { (s, dir) =>
    graft.engine.GraphXBridge.topLinkPredictions(coPurchaseEdges(s, dir),
      k = 50)
  }

  /** SpecificEdgeQuery (queries.rs:422-446): point lookups by
    * (src, edge_type, dst) triples. All five candidate regions are
    * requested for nations 1–3, so the result is exactly each nation's
    * one true IN_REGION edge — the key list assumes nothing about the
    * generated nation→region mapping, and the 12 non-existent keys pin
    * the miss path. */
  val g10 = QueryDef.sql("g10_specific_edge",
    """SELECT 'n:' || n_nationkey AS src, 'r:' || n_regionkey AS dst
      |FROM nation WHERE n_nationkey IN (1, 2, 3)
      |ORDER BY src""".stripMargin) { (s, dir) =>
    val g = TpchGraph(Tables(s, dir))
    val keys = for { n <- Seq(1, 2, 3); r <- 0 to 4 }
      yield (s"n:$n", "IN_REGION", s"r:$r")
    QueryCompiler(g).compile(SpecificEdge(keys))
      .select(col("src"), col("dst")).orderBy(col("src"))
  }

  /** PipeWithPropertyValue (queries.rs:590-635), both polarities in one
    * chain: BUILDING customers' orders filtered to priority == 1-URGENT
    * AND status != F on the piped vertex frontier. */
  val g11 = QueryDef.sql("g11_pipe_property_value",
    """SELECT 'o:' || o_orderkey AS id FROM orders
      |JOIN customer ON c_custkey = o_custkey
      |WHERE c_mktsegment = 'BUILDING' AND o_orderpriority = '1-URGENT'
      |  AND o_orderstatus <> 'F'
      |ORDER BY id""".stripMargin) { (s, dir) =>
    val g = TpchGraph(Tables(s, dir))
    val q = VertexWithPropertyValue("mktsegment", "BUILDING")
      .outbound(t = Some("PLACED")).outbound()
      .withPropertyValue("priority", "1-URGENT")
      .withPropertyValue("status", "F", equal = false)
    QueryCompiler(g).compile(q).select(col("id")).orderBy(col("id"))
  }

  /** IncludeQuery multi-output (queries.rs:637-654): the included
    * intermediate frontier (AUTOMOBILE customers) is emitted ahead of
    * the final hop result (their orders); outputs are tagged by
    * position and unioned so the whole multi-output shape hashes
    * against one relational oracle. */
  val g12 = QueryDef.sql("g12_include_multi_output",
    """SELECT * FROM (
      |  SELECT 0 AS output_ix, 'c:' || c_custkey AS id FROM customer
      |  WHERE c_mktsegment = 'AUTOMOBILE'
      |  UNION ALL
      |  SELECT 1, 'o:' || o_orderkey FROM orders
      |  JOIN customer ON c_custkey = o_custkey
      |  WHERE c_mktsegment = 'AUTOMOBILE')
      |ORDER BY output_ix, id""".stripMargin) { (s, dir) =>
    val g = TpchGraph(Tables(s, dir))
    val q = VertexWithPropertyValue("mktsegment", "AUTOMOBILE")
      .include.outbound(t = Some("PLACED")).outbound()
    QueryCompiler(g).compileAll(q).zipWithIndex.map { case (df, i) =>
      df.select(lit(i).as("output_ix"), col("id"))
    }.reduce(_ unionAll _).orderBy(col("output_ix"), col("id"))
  }

  /** Count over nested Includes — mirrors the reference's own nested
    * include integration test (lib/src/tests/include_query.rs:7-31:
    * `include().outbound().include().count()` → [Vertices, Edges,
    * Count]); pins that a terminal Count does NOT swallow Include
    * intermediates even though output_len (queries.rs:139) undercounts
    * them (it is only a Vec-capacity hint there — see
    * GraphQuery.outputLen). Output 0: MACHINERY customers; output 1:
    * their PLACED edges; output 2: the edge count. */
  val g13 = QueryDef.sql("g13_count_over_include",
    """SELECT * FROM (
      |  SELECT 0 AS output_ix, 'c:' || c_custkey AS val FROM customer
      |  WHERE c_mktsegment = 'MACHINERY'
      |  UNION ALL
      |  SELECT 1, 'c:' || c_custkey || '>o:' || o_orderkey
      |  FROM orders JOIN customer ON c_custkey = o_custkey
      |  WHERE c_mktsegment = 'MACHINERY'
      |  UNION ALL
      |  SELECT 2, CAST(count(*) AS VARCHAR)
      |  FROM orders JOIN customer ON c_custkey = o_custkey
      |  WHERE c_mktsegment = 'MACHINERY')
      |ORDER BY output_ix, val""".stripMargin) { (s, dir) =>
    val g = TpchGraph(Tables(s, dir))
    val q = VertexWithPropertyValue("mktsegment", "MACHINERY")
      .include.outbound(t = Some("PLACED")).include.count
    val outs = QueryCompiler(g).compileAll(q)
    require(outs.length == 3,
      s"Count-over-Include must emit 3 outputs (include_query.rs:7-31), " +
        s"got ${outs.length}")
    Seq(
      outs(0).select(lit(0).as("output_ix"), col("id").as("val")),
      outs(1).select(lit(1).as("output_ix"),
        concat(col("src"), lit(">"), col("dst")).as("val")),
      outs(2).select(lit(2).as("output_ix"),
        col("count").cast("string").as("val"))
    ).reduce(_ unionAll _).orderBy(col("output_ix"), col("val"))
  }

  val all: Seq[QueryDef] =
    Seq(g01, g02, g03, g04, g05, g06, g07, g08, g09, g10, g11, g12, g13,
      sp01, gx01, gx02, gx03, gx04, gx05, gx06, gx07, gx08, gx09, gx10,
      gx11, gx12, gx13, gx14, gx15, gx16, gx17, gx18, gst01)
}
