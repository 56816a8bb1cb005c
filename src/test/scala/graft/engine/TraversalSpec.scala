package graft.engine

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkSpec.withKernelBound

/** Chain + cycle fixtures for BFS / shortest path / var-length paths
  * (D17/D18; fixes the reference's broken BFS semantics,
  * traversal.rs:31-35). */
class TraversalSpec extends SparkSpec {
  // a -> b -> c -> d,  a -> c (shortcut),  d -> a (cycle)
  private lazy val chain = GraphState(
    vertexDf(("a", "t", Map.empty), ("b", "t", Map.empty),
      ("c", "t", Map.empty), ("d", "t", Map.empty),
      ("iso", "t", Map.empty)),
    edgeDf(("e1", "a", "b", "next"), ("e2", "b", "c", "next"),
      ("e3", "c", "d", "next"), ("e4", "a", "c", "skip"),
      ("e5", "d", "a", "back")))

  private def srcDf(ids: String*) = {
    import spark.implicits._
    ids.toDF("id")
  }

  /** GraphX's Pregel SCC, an independent reference for
    * [[GraphXBridge.stronglyConnectedBounded]]: every vertex of `vs`
    * mapped to the minimum member id of its SCC over the directed `es`
    * (`numIter` 20 ≥ any path length here, so the result is exact). */
  private def graphxScc(vs: Seq[String], es: Seq[(String, String)])
      : Map[String, String] = {
    import org.apache.spark.graphx.{Edge, Graph}
    val ids = vs.distinct.toIndexedSeq
    val idx = ids.zipWithIndex.toMap
    val sc = spark.sparkContext
    val g = Graph(sc.parallelize(ids.indices.map(i => (i.toLong, ()))),
      sc.parallelize(es.map { case (s, d) =>
        Edge(idx(s).toLong, idx(d).toLong, ()) }))
    g.stronglyConnectedComponents(20).vertices.collect()
      .groupBy(_._2).values
      .flatMap { m =>
        val members = m.map(v => ids(v._1.toInt))
        members.map(_ -> members.min)
      }.toMap
  }

  test("bfs returns minimum depth per vertex, bounded") {
    val out = Traversals.bfs(chain, srcDf("a"), maxDepth = 10)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2))
    val shallow = Traversals.bfs(chain, srcDf("a"), maxDepth = 1)
      .collect().map(_.getString(0)).toSet
    assert(shallow == Set("a", "b", "c"))
  }

  test("bfs with edge-type filter follows only typed edges") {
    val out = Traversals.bfs(chain, srcDf("a"), maxDepth = 10,
        edgeType = Some("next"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3))
  }

  test("bfs handles cycles without livelock") {
    val out = Traversals.bfs(chain, srcDf("d"), maxDepth = 10)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("d" -> 0, "a" -> 1, "b" -> 2, "c" -> 2))
  }

  test("shortestPathBetween reconstructs a minimal path") {
    implicit val s = spark
    assert(Traversals.shortestPathBetween(chain, "a", "d", 10)
      .contains(Seq("a", "c", "d")))
    assert(Traversals.shortestPathBetween(chain, "b", "a", 10)
      .contains(Seq("b", "c", "d", "a")))
    assert(Traversals.shortestPathBetween(chain, "a", "iso", 10).isEmpty)
    assert(Traversals.shortestPathBetween(chain, "a", "a", 10)
      .contains(Seq("a")))
  }

  test("shortestPathsPairs runs all pairs in one batched frontier") {
    import spark.implicits._
    val pairs = Seq(
      ("a", "d"), ("b", "a"), ("a", "iso"), ("a", "a"), ("d", "c"))
      .toDF("s", "t")
    val rows = Traversals.shortestPathsPairs(chain, pairs, maxDepth = 10)
      .collect()
    val out = rows.map(r => (r.getString(0), r.getString(1)) ->
      (r.getSeq[String](2), r.getLong(4))).toMap
    assert(out(("a", "d")) == (Seq("a", "c", "d"), 2L))
    assert(out(("b", "a")) == (Seq("b", "c", "d", "a"), 3L))
    assert(out(("a", "a")) == (Seq("a"), 0L))
    assert(out(("d", "c")) == (Seq("d", "a", "c"), 2L))
    assert(!out.contains(("a", "iso"))) // unreachable: no row
    // edge ids along each path accompany the vertex ids
    val epaths = rows.map(r => (r.getString(0), r.getString(1)) ->
      r.getSeq[String](3)).toMap
    assert(epaths(("a", "d")) == Seq("e4", "e3")) // a-[e4]->c-[e3]->d
    assert(epaths(("a", "a")) == Seq())
    // results agree with the single-pair API
    implicit val s = spark
    assert(Traversals.shortestPathBetween(chain, "d", "c", 10)
      .contains(Seq("d", "a", "c")))
  }

  test("allShortestPaths returns every minimal route") {
    import spark.implicits._
    // two length-2 routes b->c: b->c is direct (e2, length 1)... use a
    // diamond: x -> y1 -> z, x -> y2 -> z
    val diamond = GraphState(
      vertexDf(("x", "t", Map.empty), ("y1", "t", Map.empty),
        ("y2", "t", Map.empty), ("z", "t", Map.empty)),
      edgeDf(("d1", "x", "y1", "e"), ("d2", "x", "y2", "e"),
        ("d3", "y1", "z", "e"), ("d4", "y2", "z", "e")))
    val pairs = Seq(("x", "z")).toDF("s", "t")
    val single = Traversals.shortestPathsPairs(diamond, pairs, 5)
      .collect()
    assert(single.length == 1) // deterministic single path
    assert(single.head.getSeq[String](2) == Seq("x", "y1", "z"))
    val allPaths = Traversals.shortestPathsPairs(diamond, pairs, 5,
        all = true)
      .collect().map(r => r.getSeq[String](2)).toSet
    assert(allPaths == Set(Seq("x", "y1", "z"), Seq("x", "y2", "z")))
  }

  test("paths enumerates trails in [min..max] (edge-unique, Cypher-style)") {
    val out = Traversals.paths(chain, srcDf("a"), 1, 3)
      .collect().map(r => r.getSeq[String](0)).toSet
    assert(out.contains(Seq("a", "b")))
    assert(out.contains(Seq("a", "b", "c", "d")))
    assert(out.contains(Seq("a", "c", "d")))
    // trail semantics: vertices may repeat via distinct edges...
    assert(out.contains(Seq("a", "c", "d", "a")))
    // ...and depth is always bounded
    assert(out.forall(p => p.length <= 4))
    val d1 = Traversals.paths(chain, srcDf("a"), 1, 1)
      .collect().map(r => r.getSeq[String](0)).toSet
    assert(d1 == Set(Seq("a", "b"), Seq("a", "c")))
  }

  test("undirected paths traverse both directions (QE [*1..3] undirected)") {
    val out = Traversals.bfs(chain, srcDf("b"), maxDepth = 1,
        undirected = true)
      .collect().map(_.getString(0)).toSet
    assert(out == Set("b", "a", "c"))
  }

  test("GraphX bridge: connected components") {
    implicit val s = spark
    val cc = GraphXBridge.connectedComponents(chain)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cc("a") == cc("d") && cc("iso") != cc("a"))
  }

  test("GraphX bridge: pageRank and degrees") {
    implicit val s = spark
    val pr = GraphXBridge.staticPageRank(chain, 20)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // every vertex in the a->b->c->d->a cycle outranks the isolated one
    assert(Seq("a", "b", "c", "d").forall(v => pr(v) > pr("iso")))
    // c has two in-edges (from b and the a->c shortcut): top-ranked
    assert(pr("c") == pr.values.max)
    val deg = GraphXBridge.degrees(chain)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(deg("a") == 3 && deg("c") == 3 && deg.get("iso").isEmpty)
  }

  test("a null endpoint connects nothing: CC, weighted SSSP, PageRank") {
    import spark.implicits._
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    // xxhash64(NULL) is 42: hashed, the three null-endpoint edges would
    // join a and b through one phantom vertex and relay a → 42 → b
    val g = GraphState(vertexDf(("a", "n", Map.empty), ("b", "n", Map.empty),
        ("c", "n", Map.empty)),
      Seq[(String, String, String, String, Map[String, String])](
        ("e1", null, "a", "E", Map.empty), ("e2", null, "b", "E", Map.empty),
        ("e3", "a", null, "E", Map.empty))
        .toDF("id", "src", "dst", "edge_type", "properties"))
    for (bound <- Seq("1000", "0")) withKernelBound(bound) {
      val cc = GraphXBridge.connectedComponents(g).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(cc.size == 3 && cc.values.toSet.size == 3, s"bound $bound: $cc")
      val reached = GraphXBridge.weightedShortestFrom(g, "a", "w")
        .collect().map(_.getString(0)).toSet
      assert(!reached.contains("b"), s"bound $bound: $reached")
    }
    // no edge counts: every vertex keeps the uniform rank
    val pr = GraphXBridge.staticPageRank(g, 3).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pr.keySet == Set("a", "b", "c") &&
      pr.values.forall(r => math.abs(r - 1.0) < 1e-12), pr)
  }

  test("weightedSssp relaxes through the cheaper multi-hop path") {
    implicit val s = spark
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val eSchema = StructType(Seq(StructField("src", LongType),
      StructField("dst", LongType), StructField("w", DoubleType)))
    // 1→4 direct costs 10; 1→2→3→4 costs 1+1+1; 5 is unreachable-from-1
    val edges = df(eSchema,
      Row(1L, 4L, 10.0), Row(1L, 2L, 1.0), Row(2L, 3L, 1.0),
      Row(3L, 4L, 1.0), Row(5L, 4L, 0.5))
    val out = GraphXBridge.weightedSssp(edges, Seq(1L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0, 4L -> 3.0))
  }

  test("staticPageRank matches the DAG-layer closed form (nation→region)") {
    implicit val s = spark
    val tb = graft.sources.Tables(spark, sf("sf0.001"))
    val full = graft.sources.TpchGraph(tb)
    val sub = graft.engine.GraphState(
      full.vertices.filter(col("label").isin("nation", "region")),
      full.edges.filter(col("edge_type") === "IN_REGION"))
    val pr = GraphXBridge.staticPageRank(sub, numIter = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val nPerRegion = tb.nation.groupBy(col("n_regionkey")).count()
      .collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    // Spark 4 staticPageRank NORMALIZES so Σranks = |V|. Pre-norm: a
    // source-only nation settles at reset = 0.15 and a region at
    // 0.15 + 0.85·(0.15·|its nations|); scale by |V| / Σpre.
    def pre(id: String): Double =
      if (id.startsWith("n:")) 0.15
      else 0.15 + 0.85 * 0.15 * nPerRegion(id.stripPrefix("r:").toLong)
    val scale = pr.size / pr.keys.toSeq.map(pre).sum
    pr.foreach { case (id, rank) =>
      assert(math.abs(rank - pre(id) * scale) < 1e-9,
        s"$id: $rank vs ${pre(id) * scale}")
    }
  }

  test("triangleTotalDF counts a known fixture and agrees with brute force") {
    implicit val s = spark
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val eSchema = StructType(Seq(StructField("src", LongType),
      StructField("dst", LongType)))
    // K4 on {1..4} (4 triangles) + pendant 4-5 + disjoint triangle {6,7,8}
    val fixture = df(eSchema,
      Row(1L, 2L), Row(1L, 3L), Row(1L, 4L), Row(2L, 3L), Row(2L, 4L),
      Row(3L, 4L), Row(4L, 5L), Row(6L, 7L), Row(6L, 8L), Row(7L, 8L))
    assert(GraphXBridge.triangleTotalDF(fixture)
      .collect().head.getLong(0) == 5L)
    // cross-check against a brute-force count on a real projection
    // (sf0.001)
    val l = graft.sources.Tables(spark, sf("sf0.001")).lineitem
      .select(col("l_orderkey"), col("l_partkey"))
    val edges = l
      .join(l.select(col("l_orderkey"), col("l_partkey").as("p2")),
        Seq("l_orderkey"))
      .filter(col("l_partkey") < col("p2"))
      .select(col("l_partkey").cast("long").as("src"),
        col("p2").cast("long").as("dst"))
      .distinct()
    val dfCount = GraphXBridge.triangleTotalDF(edges)
      .collect().head.getLong(0)
    // every canonical edge (a, b) closes one triangle per common
    // neighbor c > b, so each triangle a < b < c is counted once
    val adj = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (a, es) => a -> es.map(_._2).toSet }
    val bruteCount = adj.iterator.map { case (a, na) =>
      na.iterator.map(b =>
        adj.getOrElse(b, Set.empty[Long]).count(na.contains).toLong).sum
    }.sum
    assert(dfCount == bruteCount)
  }

  test("edgeTriangleSupport: hand fixture + 3×triangle-count identity") {
    implicit val s = spark
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val eSchema = StructType(Seq(StructField("src", LongType),
      StructField("dst", LongType)))
    // K4 on {1..4} + pendant 4-5: every K4 edge closes 2 triangles,
    // the pendant closes none
    val fixture = df(eSchema,
      Row(1L, 2L), Row(1L, 3L), Row(1L, 4L), Row(2L, 3L), Row(2L, 4L),
      Row(3L, 4L), Row(4L, 5L))
    val sup = GraphXBridge.edgeTriangleSupport(fixture)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(sup((4L, 5L)) == 0L)
    assert(sup.filterNot(_._1 == (4L, 5L)).values.forall(_ == 2L))
    // Σ support = 3 × #triangles (each triangle has 3 edges)
    assert(sup.values.sum ==
      3 * GraphXBridge.triangleTotalDF(fixture).collect().head.getLong(0))
  }

  test("kTruss peels to the cohesive core (K4 survives, bridge chain dies)") {
    implicit val s = spark
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val eSchema = StructType(Seq(StructField("src", LongType),
      StructField("dst", LongType)))
    // K4 on {1..4} + a triangle {4,5,6} hanging off vertex 4 + pendant 6-7.
    // 4-truss (support ≥ 2): only the K4 — but peeling must take TWO
    // rounds for the pendant+triangle tail (the pendant first, then the
    // weakened triangle), exercising the fixpoint loop.
    val fixture = df(eSchema,
      Row(1L, 2L), Row(1L, 3L), Row(1L, 4L), Row(2L, 3L), Row(2L, 4L),
      Row(3L, 4L), Row(4L, 5L), Row(4L, 6L), Row(5L, 6L), Row(6L, 7L))
    val truss4 = GraphXBridge.kTruss(fixture, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truss4 == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L)))
    // 3-truss (support ≥ 1): K4 plus the intact triangle, pendant gone
    val truss3 = GraphXBridge.kTruss(fixture, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truss3 == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L)))
  }

  test("linkPredictionScores: path fixture closed form, no existing edges") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val eSchema = StructType(Seq(StructField("src", LongType),
      StructField("dst", LongType)))
    // path 1-2-3-4: candidates are the distance-2 pairs (1,3) and (2,4),
    // each with exactly one common neighbor
    val fixture = df(eSchema, Row(1L, 2L), Row(2L, 3L), Row(3L, 4L))
    val out = GraphXBridge.linkPredictionScores(fixture)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(out.keySet == Set((1L, 3L), (2L, 4L)))
    // (1,3): common={2}, deg1=1, deg3=2 → jaccard 1/2 = 5000bp, pa=2
    assert(out((1L, 3L)) == ((1L, 5000L, 2L)))
    // (2,4): common={3}, deg2=2, deg4=1 → same by symmetry
    assert(out((2L, 4L)) == ((1L, 5000L, 2L)))
  }

  test("linkPredictionScores: maxCenterDegree drops hub-mediated wedges") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val eSchema = StructType(Seq(StructField("src", LongType),
      StructField("dst", LongType)))
    // star hub 0 with leaves 1..4, plus path 1-5-2: uncapped, every
    // leaf pair is a candidate via the hub; capped at degree 2, only
    // the center 5 (degree 2) survives → sole candidate (1,2), and
    // DEGREES stay exact (deg1 = 2: hub edge still counts)
    val fixture = df(eSchema, Row(0L, 1L), Row(0L, 2L), Row(0L, 3L),
      Row(0L, 4L), Row(1L, 5L), Row(5L, 2L))
    val un = GraphXBridge.linkPredictionScores(fixture)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(un.contains((3L, 4L)) && un.contains((1L, 2L)), un.toString)
    val capped = GraphXBridge
      .linkPredictionScores(fixture, maxCenterDegree = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // (1,2): common={5} (hub 0 contributes nothing under the cap),
    // deg1=deg2=2 → jaccard 1/(2+2-1)=3333bp, pref_attach 4.
    // (0,5): via the degree-2 centers 1 AND 2 → common=2,
    // deg0=4 (hub degree EXACT despite the cap), deg5=2 →
    // jaccard 2/(4+2-2)=5000bp, pref_attach 8. Leaf pairs (3,4) etc.
    // existed only through the hub center and are gone.
    assert(capped == Map(
      (1L, 2L) -> ((1L, 3333L, 4L)),
      (0L, 5L) -> ((2L, 5000L, 8L))), capped.toString)
  }

  test("wedge operators are partitioning-invariant") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    implicit val s = spark
    val eSchema = StructType(Seq(StructField("src", LongType),
      StructField("dst", LongType)))
    // K4 ∪ triangle ∪ path — enough structure for nonzero supports
    val fixture = df(eSchema,
      Row(1L, 2L), Row(1L, 3L), Row(1L, 4L), Row(2L, 3L), Row(2L, 4L),
      Row(3L, 4L), Row(4L, 5L), Row(4L, 6L), Row(5L, 6L), Row(6L, 7L))
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(canon(GraphXBridge.edgeTriangleSupport(fixture)) ==
      canon(GraphXBridge.edgeTriangleSupport(fixture.repartition(5))))
    assert(canon(GraphXBridge.linkPredictionScores(fixture)) ==
      canon(GraphXBridge.linkPredictionScores(fixture.repartition(5))))
  }

  test("kCore peels a pendant chain over multiple rounds") {
    implicit val s = spark
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val eSchema = StructType(Seq(StructField("src", LongType),
      StructField("dst", LongType)))
    // triangle {1,2,3} + chain 3-4-5-6-7: the chain peels one vertex
    // per round (4 rounds), the triangle is the 2-core
    val fixture = df(eSchema,
      Row(1L, 2L), Row(1L, 3L), Row(2L, 3L),
      Row(3L, 4L), Row(4L, 5L), Row(5L, 6L), Row(6L, 7L))
    val core2 = GraphXBridge.kCore(fixture, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k above the max degree empties the graph
    assert(GraphXBridge.kCore(fixture, 4).collect().isEmpty)
    // k=1 keeps everything (no isolated vertices in an edge list)
    assert(GraphXBridge.kCore(fixture, 1).count() == 7)
  }

  test("stronglyConnected finds SCCs on a two-component digraph") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    // 1→2→3→1 is a cycle; 3→4 bridges to the 4⇄5 cycle: SCCs are
    // {1,2,3} (label "1") and {4,5} (label "4")
    val vs = Seq("1", "2", "3", "4", "5")
    val es = Seq(("1", "2"), ("2", "3"), ("3", "1"), ("3", "4"),
      ("4", "5"), ("5", "4"))
    val g = GraphState(
      vertexDf(vs.map((_, "n", Map[String, String]())): _*),
      edgeDf(es.zipWithIndex.map { case ((s, d), i) =>
        (s"e${i + 1}", s, d, "E") }: _*))
    val bounded = GraphXBridge.stronglyConnectedBounded(g).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(bounded == Map("1" -> "1", "2" -> "1", "3" -> "1",
      "4" -> "4", "5" -> "4"))
    // GraphX's Pregel SCC agrees on the same graph (gx07 relies on the
    // driver-side Tarjan being exact)
    assert(bounded == graphxScc(vs, es))
    // and fail loudly past its vertex bound
    val err = intercept[IllegalArgumentException] {
      GraphXBridge.stronglyConnectedBounded(g, maxVertices = 2)
    }
    assert(err.getMessage.contains("driver bound"))
  }

  test("shortestPathsFromTo past the unroll depth: eager loop, no product") {
    // maxDepth 12 > LazyUnrollDepth forces the eager from-to engine —
    // same found-pairs-only semantics, early exit, no source×target
    // cartesian (the former deep fallback crossJoined the endpoints)
    val out = Traversals.shortestPathsFromTo(chain, srcDf("a"),
        srcDf("c", "d", "iso"), maxDepth = 12)
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getSeq[String](2), r.getLong(4))).toSet
    assert(out == Set(
      ("a", "c", Seq("a", "c"), 1L),        // the skip edge wins
      ("a", "d", Seq("a", "c", "d"), 2L)))  // iso unreachable: no row
  }

  test("kernel bound Int.MaxValue keeps the default shortest paths") {
    import spark.implicits._
    def paths() = {
      val pairs = Traversals.shortestPathsPairs(chain,
        Seq(("a", "d"), ("b", "a")).toDF("s", "t"), maxDepth = 4)
      val fromTo = Traversals.shortestPathsFromTo(chain, srcDf("a"),
        srcDf("c", "d", "iso"), maxDepth = 4)
      (pairs.union(fromTo).collect().map(_.toString).toSet)
    }
    val default = paths()
    assert(default.nonEmpty)
    assert(withKernelBound(Int.MaxValue.toString)(paths()) == default)
  }

  test("a non-numeric kernel bound fails naming the key") {
    val err = intercept[IllegalArgumentException](
      withKernelBound("abc")(Traversals.shortestPathsFromTo(chain,
        srcDf("a"), srcDf("d"), maxDepth = 4)))
    assert(err.getMessage.contains(KernelGate.MaxEdgesKey), err.getMessage)
  }

  test("bounded Tarjan matches distributed SCC on random digraphs") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    // seeded random digraphs (12 vertices, p=0.18): dense enough for
    // multi-vertex SCCs, sparse enough for singletons and chains —
    // the label contract (component = min member id) must agree with
    // GraphX's Pregel SCC on every vertex
    for (seed <- Seq(7L, 42L, 1234L)) {
      val rnd = new scala.util.Random(seed)
      val n = 12
      val vs = (0 until n).map(i => (f"v$i%02d", "n",
        Map.empty[String, String]))
      val es = for {
        i <- 0 until n; j <- 0 until n
        if i != j && rnd.nextDouble() < 0.18
      } yield (s"e$i-$j", f"v$i%02d", f"v$j%02d", "E")
      val g = GraphState(vertexDf(vs: _*), edgeDf(es: _*))
      val dist = graphxScc(vs.map(_._1), es.map(e => (e._2, e._3)))
      val bounded = GraphXBridge.stronglyConnectedBounded(g).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(bounded == dist, s"seed $seed: $bounded != $dist")
    }
  }

  test("Neighborhood: exact sizes on a path graph; HyperBall agrees") {
    // path a-b-c-d (undirected): 1-hop sizes 2,3,3,2; 2-hop 3,4,4,3
    val g = GraphState(
      vertexDf(("a", "n", Map[String, String]()),
        ("b", "n", Map[String, String]()),
        ("c", "n", Map[String, String]()),
        ("d", "n", Map[String, String]())),
      edgeDf(("e1", "a", "b", "E"), ("e2", "b", "c", "E"),
        ("e3", "c", "d", "E")))
    def sizes(h: Int): Map[String, Long] =
      Neighborhood.exactSizes(g, h).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes(0) == Map("a" -> 1L, "b" -> 1L, "c" -> 1L, "d" -> 1L))
    assert(sizes(1) == Map("a" -> 2L, "b" -> 3L, "c" -> 3L, "d" -> 2L))
    assert(sizes(2) == Map("a" -> 3L, "b" -> 4L, "c" -> 4L, "d" -> 3L))
    // tiny sets sit in the HLL sparse regime: estimates are exact
    val est = Neighborhood.hyperBall(g, 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == Map("a" -> 3L, "b" -> 4L, "c" -> 4L, "d" -> 3L))
    // neighborhood function: N(0)=4, N(1)=2+3+3+2, N(2)=3+4+4+3
    val nf = Neighborhood.neighborhoodFunction(g, 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nf == Map(0L -> 4L, 1L -> 10L, 2L -> 14L))
  }

  test("hyperBallHops snapshots every hop; sparse regime is exact") {
    // path a-b-c-d: exact ball sizes are known per hop; HLL is exact
    // at these cardinalities
    val g = GraphState(
      vertexDf(("a", "n", Map[String, String]()),
        ("b", "n", Map[String, String]()),
        ("c", "n", Map[String, String]()),
        ("d", "n", Map[String, String]())),
      edgeDf(("e1", "a", "b", "E"), ("e2", "b", "c", "E"),
        ("e3", "c", "d", "E")))
    val out = Neighborhood.hyperBallHops(g, 3)
      .select("id", "est_1", "est_2", "est_3").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("a") == ((2L, 3L, 4L)))
    assert(out("b") == ((3L, 4L, 4L)))
    assert(out("d") == ((2L, 3L, 4L)))
  }

  test("labelPropagation converges to communities with min-label ties") {
    implicit val s = spark
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val eSchema = StructType(Seq(StructField("src", LongType),
      StructField("dst", LongType)))
    // two triangles {1,2,3} and {6,7,8} joined by the bridge 3-6
    val fixture = df(eSchema,
      Row(1L, 2L), Row(1L, 3L), Row(2L, 3L),
      Row(6L, 7L), Row(6L, 8L), Row(7L, 8L), Row(3L, 6L))
    // Round 1: every label count is 1, so each vertex takes its MIN
    // neighbor id: 1→2? no — min nbr of 1 is 2's... enumerate:
    // N(1)={2,3}→2, N(2)={1,3}→1, N(3)={1,2,6}→1, N(6)={3,7,8}→3,
    // N(7)={6,8}→6, N(8)={6,7}→6.
    val r1 = GraphXBridge.labelPropagation(fixture, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L,
      6L -> 3L, 7L -> 6L, 8L -> 6L))
    // Round 2 from r1: counts now matter; e.g. N(6) labels
    // {3→1, 7→6, 8→6} → 6 wins by count.
    val r2 = GraphXBridge.labelPropagation(fixture, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2(6L) == 6L)
    // tie at vertex 3: labels {1→2, 2→1, 6→3} all count 1 → min = 1
    assert(r2(3L) == 1L)
  }

  test("personalizedPageRankInt: exact integer masses on a path") {
    implicit val s = spark
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val eSchema = StructType(Seq(StructField("src", LongType),
      StructField("dst", LongType)))
    // path 1-2-3, seed at 1, one iteration, mass 100:
    // push: 1 has deg 1 → 100 to 2; r1(2) = 100/2 = 50,
    // r1(1) = 0/2 + 50 (seed re-injection), r1(3) = 0.
    val fixture = df(eSchema, Row(1L, 2L), Row(2L, 3L))
    val seeds = df(StructType(Seq(StructField("id", LongType))), Row(1L))
    val r1 = GraphXBridge
      .personalizedPageRankInt(fixture, seeds, iters = 1, seedMass = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 50L, 2L -> 50L))
    // second iteration: 2 (deg 2) pushes 25 each way; 1 (deg 1)
    // pushes 50 to 2. r2(1) = 25/2=12 + 50, r2(2) = 50/2=25,
    // r2(3) = 25/2 = 12.
    val r2 = GraphXBridge
      .personalizedPageRankInt(fixture, seeds, iters = 2, seedMass = 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 62L, 2L -> 25L, 3L -> 12L))
    // seeds not present in the graph are ignored
    val seeds2 = df(StructType(Seq(StructField("id", LongType))),
      Row(1L), Row(99L))
    assert(GraphXBridge.personalizedPageRankInt(fixture, seeds2,
      iters = 1, seedMass = 100L).collect().map(_.getLong(0)).toSet
      == Set(1L, 2L))
  }

  test("deterministicWalks: forced edges, hash-argmin choice, dead end") {
    implicit val s = spark
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val eSchema = StructType(Seq(StructField("src", LongType),
      StructField("dst", LongType)))
    // path 1-2-3: degree-1 endpoints force their step, vertex 2 makes
    // the hash choice between 1 and 3; start 99 is isolated (dead end).
    val edges = df(eSchema, Row(1L, 2L), Row(2L, 3L))
    val starts = df(StructType(Seq(StructField("id", LongType))),
      Row(1L), Row(99L))
    val out = GraphXBridge
      .deterministicWalks(edges, starts, walksPerNode = 2, steps = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getString(3)))).toMap
    assert(out.size == 4) // |starts| × walksPerNode
    // replicate the operator's choice rule independently
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def key(start: Long, w: Long, t: Int, n: Long): String =
      md5hex(s"$start:$w:$t:$n") + "%020d".format(n)
    for (w <- 0L to 1L) {
      // step 1 from 1 is forced to 2; step 2 from 2 is the argmin
      // choice; step 3 from either endpoint is forced back to 2
      val mid = Seq(1L, 3L).minBy(n => key(1L, w, 2, n))
      assert(out((1L, w)) == ((2L, s"1->2->$mid->2")))
      // isolated start: walk holds in place, path is the start alone
      assert(out((99L, w)) == ((99L, "99")))
    }
  }

  test("sampleNeighbors: hash-ranked k-subset, small degrees intact") {
    implicit val s = spark
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val eSchema = StructType(Seq(StructField("src", LongType),
      StructField("dst", LongType)))
    // star: center 0 with leaves 1..5
    val star = df(eSchema,
      Row(0L, 1L), Row(0L, 2L), Row(0L, 3L), Row(0L, 4L), Row(0L, 5L))
    val out = GraphXBridge.sampleNeighbors(star, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // each leaf keeps its single neighbor (deg < k emits deg rows)
    for (leaf <- 1L to 5L) assert(out((leaf, 1L)) == 0L)
    // the center keeps exactly the 3 smallest-keyed leaves, in order
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = (1L to 5L)
      .sortBy(n => md5hex(s"0:$n") + "%020d".format(n)).take(3)
    assert(out.size == 5 + 3)
    for ((n, i) <- want.zipWithIndex)
      assert(out((0L, (i + 1).toLong)) == n)
  }

  test("StarCC ≡ GraphX connectedComponents (min-id labels) on random " +
      "graphs incl. chains, stars, and isolated pairs") {
    import spark.implicits._
    import org.apache.spark.graphx.{Edge, Graph}
    val rnd = new scala.util.Random(23)
    val cases = Seq(
      // long chain (worst case for propagation CC, easy for star CC)
      (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq,
      // hub star + separate triangle + isolated pair
      (1L to 15L).map(i => (0L, i)) ++
        Seq((100L, 101L), (101L, 102L), (102L, 100L), (200L, 201L)),
      // random sparse graph with duplicate + reversed edges
      (0 until 120).map(_ => (rnd.nextInt(60).toLong,
        rnd.nextInt(60).toLong)).filter(p => p._1 != p._2))
    for (edges <- cases) {
      val df = edges.toDF("id1", "id2")
      def labels() = StarCC.components(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // explicit bound: these graphs are under it → driver union-find
      // leg (pinned, not inherited, so a conf leak from another test
      // can't collapse both legs onto one path)
      val uf = withKernelBound("1000")(labels())
      // bound 0: force the distributed star-contraction fixpoint
      val star = withKernelBound("0")(labels())
      val g = Graph.fromEdges(
        spark.sparkContext.parallelize(
          edges.map(p => Edge(p._1, p._2, ()))), ())
      val gx = g.connectedComponents().vertices.collect().toMap
      assert(star == gx.map { case (k, v) => (k, v) },
        s"star=${star.toSeq.sorted.take(8)} gx=${gx.toSeq.sorted.take(8)}")
      assert(uf == star,
        s"uf=${uf.toSeq.sorted.take(8)} star=${star.toSeq.sorted.take(8)}")
    }
  }

  test("local path kernel ≡ distributed shortest-path engines " +
      "(single/all × directed/undirected × typed, both engines)") {
    import spark.implicits._
    // random digraph with parallel edges (same endpoints, distinct edge
    // ids — all-paths mode must keep their routes distinct), a
    // self-loop, a cycle, and an isolated vertex; plus the chain and a
    // parallel-edge diamond
    val rnd = new scala.util.Random(99)
    val n = 14
    val vs = (0 until n).map(i => (f"v$i%02d", "n",
      Map.empty[String, String])) :+ (("iso", "n", Map.empty[String, String]))
    val es = (for {
      i <- 0 until n; j <- 0 until n
      if i != j && rnd.nextDouble() < 0.16
    } yield (s"e$i-$j", f"v$i%02d", f"v$j%02d",
      if ((i + j) % 3 == 0) "odd" else "ev")) ++ Seq(
      ("p1", "v01", "v03", "ev"), ("p2", "v01", "v03", "ev"), // parallel
      ("loop", "v05", "v05", "ev"))
    val rand = GraphState(vertexDf(vs: _*), edgeDf(es: _*))
    val diamond = GraphState(
      vertexDf(("x", "t", Map.empty), ("y1", "t", Map.empty),
        ("y2", "t", Map.empty), ("z", "t", Map.empty)),
      edgeDf(("d1", "x", "y1", "e"), ("d2", "x", "y2", "e"),
        ("d3", "y1", "z", "e"), ("d4", "y2", "z", "e"),
        ("d5", "x", "y1", "e"))) // parallel edge: 3 all-mode routes x→z?
    def canon(d: org.apache.spark.sql.DataFrame): Set[String] =
      d.collect().map(r => Seq(r.getString(0), r.getString(1),
        r.getSeq[String](2).mkString(">"), r.getSeq[String](3)
          .mkString(">"), r.getLong(4).toString).mkString("|")).toSet
    val randPairs = Seq(("v00", "v07"), ("v03", "v00"), ("v00", "iso"),
      ("v02", "v02"), ("v05", "v09"), ("v01", "v03")).toDF("s", "t")
    val randSrcs = Seq("v00", "v01", "v05", "iso").toDF("id")
    val randTgts = Seq("v03", "v07", "v00", "iso").toDF("id")
    val chainPairs = Seq(("a", "d"), ("b", "a"), ("a", "iso"),
      ("a", "a"), ("d", "c")).toDF("s", "t")
    val chainSrcs = Seq("a", "b", "iso").toDF("id")
    val chainTgts = Seq("c", "d", "a").toDF("id")
    val diaPairs = Seq(("x", "z"), ("z", "x")).toDF("s", "t")
    val diaSrcs = Seq("x").toDF("id")
    val diaTgts = Seq("z", "y2").toDF("id")
    // combos cover: both modes, both directions, a type filter, and
    // BOTH distributed regimes (lazy unroll depth 4, eager depth 10)
    val combos = Seq(
      (rand, randPairs, randSrcs, randTgts, false, false, Nil, 4),
      (rand, randPairs, randSrcs, randTgts, true, false, Nil, 4),
      (rand, randPairs, randSrcs, randTgts, true, true, Nil, 4),
      (rand, randPairs, randSrcs, randTgts, false, false, Seq("ev"), 4),
      (rand, randPairs, randSrcs, randTgts, true, false, Nil, 10),
      (chain, chainPairs, chainSrcs, chainTgts, false, false, Nil, 4),
      (chain, chainPairs, chainSrcs, chainTgts, true, true, Nil, 4),
      (diamond, diaPairs, diaSrcs, diaTgts, true, false, Nil, 4),
      (diamond, diaPairs, diaSrcs, diaTgts, false, false, Nil, 4))
    for ((g, pairs, srcsD, tgtsD, all, undirected, types, depth)
        <- combos) {
      def both(body: => org.apache.spark.sql.DataFrame)
          : (Set[String], Set[String]) = {
        (canon(body), withKernelBound("0")(canon(body)))
      }
      val tag = s"all=$all undirected=$undirected types=$types depth=$depth"
      val (kp, dp) = both(Traversals.shortestPathsPairs(
        g, pairs, depth, types, undirected, all))
      assert(kp == dp, s"pairs $tag: ${kp.diff(dp)} / ${dp.diff(kp)}")
      val (kf, df2) = both(Traversals.shortestPathsFromTo(
        g, srcsD, tgtsD, depth, types, undirected, all))
      assert(kf == df2, s"fromTo $tag: ${kf.diff(df2)} / ${df2.diff(kf)}")
    }
  }

  test("dupClusters labels singletons as their own cluster (StarCC path)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id1", "id2")
    val ids = Seq(1L, 2L, 3L, 7L).toDF("doc_id")
    val out = graft.functions.DedupOps.dupClusters(pairs, ids, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L), out)
  }
}
