package graft.engine

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.SparkSpec.withKernelBound

/** Scale-technique verification: salting equivalence, bucketed
  * co-located joins (no shuffle), broadcast hints — the techniques the
  * 100 TB design leans on, checked against their plain equivalents and
  * their plans. */
class ScaleSpec extends SparkSpec {

  test("topLinkPredictions plan: TakeOrderedAndProject cut, shuffled-" +
      "hash anti-join — the pair set is never globally sorted") {
    import spark.implicits._
    // path graph + chords: the only non-adjacent pair is (1,4), with
    // common neighbors {2,3}
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    // this pin is about the AT-SCALE (distributed) plan shape — force
    // the r13 local small-graph kernel off for it
    val df =
      withKernelBound("0")(GraphXBridge.topLinkPredictions(edges, k = 2))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("ShuffledHashJoin") && plan.contains("LeftAnti"),
      plan)
    assert(!plan.contains("SortMergeJoin LeftAnti"), plan)
    // the packed-key count runs through the dedicated physical operator
    // (open-addressed long→long aggregate), not HashAggregateExec
    assert(plan.contains("PackedKeyCount"), plan)
    val rows = df.collect()
    assert(rows.length == 1, rows.mkString(";"))
    val r = rows(0)
    // deg(1)=deg(4)=2, common=2 → jaccard_bp = 10000·2/(2+2−2) = 10000
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((1L, 4L, 2L, 10000L, 4L)), r)
    // and the default path (local kernel, engaged for this tiny graph)
    // returns the identical row set
    val local = GraphXBridge.topLinkPredictions(edges, k = 2).collect()
    assert(local.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
  }

  test("local graph kernels (broadcast CSR) reproduce the distributed " +
      "topLinkPredictions / edgeTriangleSupport / triangleTotalDF " +
      "exactly — r13 small-graph fast path") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // the forced-B generator + 2-chord ring: shared-neighbor ties,
    // triangles, and zero-support random edges in one graph
    val base = ((0 until 400).map { i =>
      val a = (i * 7919) % 60; val b = (i * 104729 + 13) % 60
      (a, b)
    } ++ (0 until 60).flatMap(i =>
      Seq((i, (i + 1) % 60), (i, (i + 2) % 60))))
      .map(p => (math.min(p._1, p._2).toLong, math.max(p._1, p._2).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = base.toDF("src", "dst")
    // top-k link prediction: identical ordered rows (ties in `common`
    // exercise the (id1, id2) tie-break through the kernel heap)
    val topL = GraphXBridge.topLinkPredictions(edges, k = 25)
      .collect().map(_.toSeq).toSeq
    val topD = withKernelBound("0")(
      GraphXBridge.topLinkPredictions(edges, k = 25)
        .collect().map(_.toSeq).toSeq)
    assert(topL.size == 25 && topL == topD)
    // per-edge triangle support: identical (src, dst, support) set,
    // zero-support edges included
    val supL = GraphXBridge.edgeTriangleSupport(edges)
      .collect().map(_.toSeq).toSet
    val supD = withKernelBound("0")(GraphXBridge.edgeTriangleSupport(edges)
      .collect().map(_.toSeq).toSet)
    assert(supL.size == base.size && supL == supD)
    assert(supL.exists(r => r.last.asInstanceOf[Long] > 0L))
    // cross-operator identity: Σ kernel support = 3 × the oriented-
    // intersection triangle total (triangleTotalDF keeps the
    // distributed plan — the kernel variant measured slower there)
    val supSum = supL.toSeq.map(_.last.asInstanceOf[Long]).sum
    val tri = GraphXBridge.triangleTotalDF(edges).collect().head.getLong(0)
    assert(tri > 0L && supSum == 3 * tri)
  }

  test("local iterative kernels reproduce the distributed label " +
      "propagation / integer PPR / k-core / weighted SSSP / connected " +
      "components exactly — r13 small-graph fast path") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    val base = ((0 until 400).map { i =>
      val a = (i * 7919) % 60; val b = (i * 104729 + 13) % 60
      (a, b)
    } ++ (0 until 60).flatMap(i =>
      Seq((i, (i + 1) % 60), (i, (i + 2) % 60))))
      .map(p => (math.min(p._1, p._2).toLong, math.max(p._1, p._2).toLong))
      .filter(p => p._1 != p._2).distinct
    val edges = base.toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    // label propagation (2 rounds, tie-heavy graph)
    val lpL = rows(GraphXBridge.labelPropagation(edges, rounds = 2))
    val lpD = withKernelBound("0")(
      rows(GraphXBridge.labelPropagation(edges, rounds = 2)))
    assert(lpL.nonEmpty && lpL == lpD)
    // exact-integer PPR: 3 iterations from a 5-seed set (one seed id
    // outside the graph pins the drop-unknown-seeds path)
    val seeds = Seq(0L, 7L, 13L, 21L, 999L).toDF("id")
    val prL = rows(GraphXBridge.personalizedPageRankInt(edges, seeds, 3))
    val prD = withKernelBound("0")(
      rows(GraphXBridge.personalizedPageRankInt(edges, seeds, 3)))
    assert(prL.nonEmpty && prL == prD)
    // k-core at a k that actually peels this graph
    val kcL = rows(GraphXBridge.kCore(edges, 5))
    val kcD = withKernelBound("0")(rows(GraphXBridge.kCore(edges, 5)))
    assert(kcL.nonEmpty && kcL == kcD)
    // weighted SSSP over a directed weighted version (source 0; one
    // listed source outside the graph)
    val wEdges = base.map { case (a, b) =>
      (a, b, ((a * 31 + b * 17) % 7 + 1).toDouble) }.toDF("src", "dst", "w")
    val ssL = rows(GraphXBridge.weightedSssp(wEdges, Seq(0L, 777L)))
    val ssD = withKernelBound("0")(
      rows(GraphXBridge.weightedSssp(wEdges, Seq(0L, 777L))))
    assert(ssL.nonEmpty && ssL == ssD)
    // connected components on a string-id GraphState with an isolated
    // vertex (own component) and two joined chains
    val vs = ((0 until 20).map(i => (s"v$i", "x")) :+ (("iso", "x")))
      .toDF("id", "label")
    val es = (0 until 19).map(i => (s"v$i", s"v${i + 1}", "E"))
      .toDF("src", "dst", "edge_type")
    val gs = GraphState(vs, es)
    val ccL = rows(GraphXBridge.connectedComponents(gs))
    val ccD = withKernelBound("0")(rows(GraphXBridge.connectedComponents(gs)))
    assert(ccL.size == 21 && ccL == ccD)
  }

  test("driver kernels decline a null id: kernel on ≡ bound 0") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // a null id read from a raw row comes back as vertex 0, which (0, 5)
    // makes visible
    val edges = Seq((Option(1L), 2L), (Option(2L), 3L), (Option(1L), 3L),
      (None, 3L), (None, 1L), (None, 2L), (Option(0L), 5L))
      .toDF("src", "dst")
    def outcome(df: => org.apache.spark.sql.DataFrame) =
      try Right(df.collect().map(_.toSeq).toSet)
      catch { case e: Exception => Left(e.getClass.getName) }
    def same(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      val on = outcome(df)
      val off = withKernelBound("0")(outcome(df))
      assert(on == off, s"$name: kernel $on, distributed $off")
    }
    same("kCore")(GraphXBridge.kCore(edges, 2))
    same("edgeTriangleSupport")(GraphXBridge.edgeTriangleSupport(edges))
    same("topLinkPredictions")(GraphXBridge.topLinkPredictions(edges, 5))
    same("labelPropagation")(GraphXBridge.labelPropagation(edges, 2))
    same("pprInt")(GraphXBridge.personalizedPageRankInt(edges,
      Seq(1L).toDF("id"), 3))
    same("pprInt null seed")(GraphXBridge.personalizedPageRankInt(
      edges.filter(col("src").isNotNull), Seq(Option(1L), None).toDF("id"),
      3))
    same("weightedSssp")(GraphXBridge.weightedSssp(
      edges.withColumn("w", lit(1.0)), Seq(1L)))
    same("StarCC")(StarCC.components(edges.toDF("id1", "id2")))
    // hashed ids are never null on the GraphState path: the kernel itself
    // must decline
    assert(LocalGraphKernels.connectedComponentsLong(
      edges.select("dst"), edges).isEmpty)
    val g = GraphState(
      Seq("a", "b", "c").map((_, "n")).toDF("id", "label"),
      Seq[(String, String, String, String)](("e1", "a", "b", "E"),
        ("e2", "b", "c", "E"), ("e3", null, "c", "E"))
        .toDF("id", "src", "dst", "edge_type"))
    val ends = Seq(Option("a"), None).toDF("id")
    same("shortestPathsPairs")(Traversals.shortestPathsPairs(g,
      Seq(("a", "c"), ("a", null)).toDF("s", "t"), 4))
    same("shortestPathsFromTo")(
      Traversals.shortestPathsFromTo(g, ends, Seq("c").toDF("id"), 4))
  }

  test("long-id kernels collect under the session's conf: a duplicate " +
    "map key resolves LAST_WIN, kernel on ≡ bound 0") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    // dst = {k -> decoy, k -> real}(k) over an RDD scan: column-valued
    // keys the optimizer cannot fold. Without whole-stage codegen the
    // projection's map builder is made in the tasks, so only the conf the
    // tasks see decides, and the default policy (EXCEPTION) fails them.
    val confs = Seq("spark.sql.mapKeyDedupPolicy" -> "LAST_WIN",
      "spark.sql.codegen.wholeStage" -> "false")
    val prev = confs.map { case (k, v) =>
      val p = spark.conf.getAll.get(k); spark.conf.set(k, v); k -> p }
    try {
      val raw = spark.sparkContext.parallelize(Seq(("a", "b", 1),
        ("b", "c", 1), ("d", "e", 1), ("f", "f", 1)), 2)
        .toDF("src", "real", "k")
      val edges = raw.select(col("src"),
        element_at(map_from_arrays(array(col("k"), col("k")),
          array(lit("decoy"), col("real"))), col("k")).as("dst"))
      val ids = edges.select("src").union(edges.select("dst")).distinct()
      val g = GraphState(ids.toDF("id").withColumn("label", lit("n")),
        edges.withColumn("id", concat(col("src"), col("dst")))
          .withColumn("edge_type", lit("E")))
      val hashed = g.edges.select(xxhash64(col("src")).as("s"),
        xxhash64(col("dst")).as("d"))
      assert(LocalGraphKernels.connectedComponentsLong(
        g.vertices.select(xxhash64(col("id"))), hashed).isDefined)
      val on = GraphXBridge.connectedComponents(g).collect().toSet
      val off = withKernelBound("0")(
        GraphXBridge.connectedComponents(g).collect().toSet)
      assert(on == off)
      assert(on.map(_.getString(0)) == Set("a", "b", "c", "d", "e", "f"))
    } finally prev.foreach { case (k, p) =>
      p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("topLinkPredictions bucketed passes (forced B=4) reproduce the " +
      "single-pass top-k exactly — packable and non-packable branches") {
    import spark.implicits._
    // deterministic pseudo-random graph with heavy shared-neighbor
    // multiplicity and ties in `common` (exercises the per-bucket
    // top-k merge's total-order tie-breaks)
    val base = (0 until 400).map { i =>
      val a = (i * 7919) % 60; val b = (i * 104729 + 13) % 60
      (math.min(a, b).toLong, math.max(a, b).toLong)
    }.filter(p => p._1 != p._2).distinct
    val packEdges = base.toDF("src", "dst")
    val strEdges = base.map { case (a, b) => (s"v$a", s"v$b") }
      .toDF("src", "dst")
    def collectTop(edges: org.apache.spark.sql.DataFrame) =
      GraphXBridge.topLinkPredictions(edges, k = 25).collect()
        .map(_.toSeq).toSeq
    def bucketed(edges: org.apache.spark.sql.DataFrame) = {
      spark.conf.set(GraphXBridge.LinkPredBucketsKey, "4")
      try collectTop(edges)
      finally spark.conf.unset(GraphXBridge.LinkPredBucketsKey)
    }
    val singleP = collectTop(packEdges)
    assert(singleP.size == 25 && bucketed(packEdges) == singleP)
    val singleS = collectTop(strEdges)
    assert(singleS.size == 25 && bucketed(strEdges) == singleS)
  }

  test("edgeTriangleSupport bucketed passes (forced B=3) reproduce the " +
      "single-pass support exactly — long and string ids; kTruss " +
      "inherits the bucketing per round") {
    import spark.implicits._
    // gx18's pseudo-random generator is triangle-FREE (both endpoints
    // are functions of i mod 60), so overlay a 2-chord ring — every
    // (i, i+1, i+2) is a triangle — to get a non-trivial support
    // distribution while the random edges keep zero-support rows (the
    // left-join coalesce path)
    val base = ((0 until 400).map { i =>
      val a = (i * 7919) % 60; val b = (i * 104729 + 13) % 60
      (a, b)
    } ++ (0 until 60).flatMap(i =>
      Seq((i, (i + 1) % 60), (i, (i + 2) % 60))))
      .map(p => (math.min(p._1, p._2).toLong, math.max(p._1, p._2).toLong))
      .filter(p => p._1 != p._2).distinct
    val longEdges = base.toDF("src", "dst")
    val strEdges = base.map { case (a, b) => (s"v$a", s"v$b") }
      .toDF("src", "dst")
    def sup(e: org.apache.spark.sql.DataFrame) =
      GraphXBridge.edgeTriangleSupport(e).collect().map(_.toSeq).toSet
    def truss(e: org.apache.spark.sql.DataFrame) =
      GraphXBridge.kTruss(e, k = 3).collect().map(_.toSeq).toSet
    def forced[T](body: => T): T = {
      spark.conf.set(GraphXBridge.TriSupportBucketsKey, "3")
      try body
      finally spark.conf.unset(GraphXBridge.TriSupportBucketsKey)
    }
    val single = sup(longEdges)
    assert(single.exists(r => r.last.asInstanceOf[Long] > 0L) &&
      single.size == base.size)
    assert(forced(sup(longEdges)) == single)
    val singleS = sup(strEdges)
    assert(forced(sup(strEdges)) == singleS)
    val trussSingle = truss(longEdges)
    assert(trussSingle.nonEmpty && forced(truss(longEdges)) == trussSingle)
  }

  test("PackedKeyCountExec matches the generic aggregate exactly " +
      "(conf off vs on), including zero and multiplicity-heavy keys") {
    import spark.implicits._
    // deterministic pseudo-random graph: ids 0..59 (0 exercises the
    // empty-sentinel special case), heavy shared-neighbor multiplicity
    val edges = (0 until 400).map { i =>
      val a = (i * 7919) % 60; val b = (i * 104729 + 13) % 60
      (math.min(a, b).toLong, math.max(a, b).toLong)
    }.filter(p => p._1 != p._2).distinct.toDF("src", "dst")
    def run() = GraphXBridge.linkPredictionScores(edges)
      .orderBy($"id1", $"id2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    spark.conf.set(org.apache.spark.sql.graft.PackedCountAgg.ConfKey,
      "false")
    val generic = try run()
    finally spark.conf.set(
      org.apache.spark.sql.graft.PackedCountAgg.ConfKey, "true")
    val packed = run()
    assert(packed.nonEmpty && packed == generic,
      s"packed=${packed.take(5)} generic=${generic.take(5)}")
    // force the in-task radix shape (threshold 1 row) — every shard
    // boundary, the lazy shard-by-shard emit, and the zero/null
    // out-of-band counters must reproduce the generic result exactly
    spark.conf.set(
      org.apache.spark.sql.graft.PackedCountAgg.RadixThresholdKey, "1")
    val radix = try run()
    finally spark.conf.unset(
      org.apache.spark.sql.graft.PackedCountAgg.RadixThresholdKey)
    assert(radix == generic, s"radix=${radix.take(5)}")
  }

  test("PackedKeyCountExec chunked radix: mid-stream switch and " +
      "buffer-full flushes reproduce the generic count exactly") {
    import spark.implicits._
    // 200k rows (≈50k per post-exchange partition at the test
    // session's 4 shuffle partitions) with nulls, zeros, negatives, a
    // hot key, and a ~10k-key tail — compared key-for-key against the
    // generic aggregate under BOTH escape hatches: one-shot radix
    // (radixThreshold=100, lazy per-slice tables) and the persistent
    // chunked mode (persistentSwitch=100: mid-stream switch with a
    // partially-filled buffer, then several buffer-full chunk flushes
    // into the persistent shard tables)
    val keys: Seq[java.lang.Long] = (0 until 200000).map { i =>
      (i % 37) match {
        case 0 => null
        case 1 => java.lang.Long.valueOf(0L)
        case 2 => java.lang.Long.valueOf(-42L)       // hot negative key
        case _ => java.lang.Long.valueOf((i * 2654435761L) % 9973 - 4986)
      }
    }
    val df = keys.toDF("k").repartition(3)
    val generic = df.groupBy($"k").count()
      .collect().map(r => (if (r.isNullAt(0)) null else r.getLong(0),
        r.getLong(1))).toMap
    def packedWith(key: String): Map[Any, Long] = {
      spark.conf.set(key, "100")
      try org.apache.spark.sql.graft.PackedCountAgg.countByKey(df, "n")
        .collect().map(r => ((if (r.isNullAt(0)) null else r.getLong(0))
          : Any, r.getLong(1))).toMap
      finally spark.conf.unset(key)
    }
    val oneShot = packedWith(
      org.apache.spark.sql.graft.PackedCountAgg.RadixThresholdKey)
    assert(oneShot == generic,
      s"one-shot radix: ${oneShot.size} vs ${generic.size}")
    val persisted = packedWith(
      org.apache.spark.sql.graft.PackedCountAgg.PersistentSwitchKey)
    assert(persisted == generic,
      s"persistent chunks: ${persisted.size} vs ${generic.size}")
  }

  test("containmentPairs plan: shuffle-hash joins, no broadcast of the " +
      "exploded postings or the array-doc sides") {
    import spark.implicits._
    // The checkpointed shingle table inherits the tiny pre-explode size
    // estimate, so without the shuffle_hash pins the planner BROADCAST
    // the multi-GB exploded postings at sf1 (PLANS.md r7). Pin the
    // shape: every candidate/intersection join is a ShuffledHashJoin.
    val docs = (1 to 40).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta doc$i tail"))
      .toDF("doc_id", "text")
    val df = graft.functions.DedupOps
      .containmentPairs(docs, "doc_id", "text", 3, 9000)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    // the three pinned joins (postings, d1, d2) must not broadcast —
    // the only broadcast allowed is the bounded dfreq rarity join
    val broadcasts =
      "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts <= 1, s"$broadcasts broadcast joins:\n$plan")
  }

  test("saltedJoin equals the plain join on skewed data") {
    import spark.implicits._
    // one hot key (90% of rows) + long tail
    val left = (1 to 1000).map(i =>
      (if (i <= 900) "hot" else s"k$i", i)).toDF("k", "v")
    val right = Seq(("hot", 1.5), ("k950", 2.0), ("k999", 3.0))
      .toDF("k", "w")
    val plain = left.join(right, Seq("k"))
      .agg(sum($"v" * $"w")).collect().head.getDouble(0)
    val salted = Skew.saltedJoin(left, right, "k", factor = 8)
      .agg(sum($"v" * $"w")).collect().head.getDouble(0)
    assert(salted == plain)
  }

  test("saltedSum equals plain aggregation") {
    import spark.implicits._
    val df = (1 to 500).map(i => (if (i % 5 == 0) "hot" else s"k$i", i.toLong))
      .toDF("k", "v")
    val plain = df.groupBy($"k").agg(sum($"v").as("sum"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedSum(df, "k", "v", factor = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("rangeJoinBinned plans an equi-join, never a nested-loop/cartesian") {
    import spark.implicits._
    val points = (1 to 100)
      .map(i => (i.toLong, new java.sql.Timestamp(i * 60000L)))
      .toDF("pid", "ts")
    val ivs = (1 to 10).map(i => (i.toLong,
      new java.sql.Timestamp(i * 300000L),
      new java.sql.Timestamp(i * 300000L + 600000L)))
      .toDF("iid", "start_ts", "end_ts")
    val joined = graft.temporal.Temporal
      .rangeJoinBinned(points, "ts", ivs, "start_ts", "end_ts", 600)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    // and it is lossless vs the naive filter
    val naive = points.crossJoin(ivs)
      .filter($"ts" >= $"start_ts" && $"ts" <= $"end_ts")
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val binned = joined.select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(binned == naive && binned.nonEmpty)
  }

  test("bucketed tables join without an exchange (co-located join)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val t = graft.sources.Tables(spark, sf("sf0.001"))
    t.orders.write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/orders_b").saveAsTable("orders_b")
    t.lineitem.write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/lineitem_b").saveAsTable("lineitem_b")
    val joined = spark.table("orders_b").join(spark.table("lineitem_b"),
      col("o_orderkey") === col("l_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    // both sides pre-bucketed on the join key → zero shuffle
    assert(!plan.contains("Exchange"),
      s"expected exchange-free bucketed join, got:\n$plan")
    assert(joined.count() ==
      t.orders.join(t.lineitem,
        col("o_orderkey") === col("l_orderkey")).count())
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("bucketed graph store: label partition pruning + shuffle-free edge side") {
    val wh = java.nio.file.Files.createTempDirectory("graft_gs").toString
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val g = graft.sources.TpchGraph(
        graft.sources.Tables(spark, sf("sf0.001")))
      graft.sources.GraphStore.saveBucketed(g, spark, "gs", wh, buckets = 8)
      val loaded = graft.sources.GraphStore.loadBucketed(spark, "gs")
      // vertices partitioned by label: a label scan prunes on disk
      val scan = loaded.vertices.filter(col("label") === "customer")
      val scanPlan = scan.queryExecution.executedPlan.toString
      assert(scanPlan.contains("PartitionFilters") &&
        scanPlan.contains("label"),
        s"label scan should prune partitions:\n$scanPlan")
      assert(scan.count() == g.vertices
        .filter(col("label") === "customer").count())
      // traversal-shaped join (frontier ⋈ edges on src): the bucketed
      // edge side must NOT shuffle — only the frontier side exchanges
      val frontier = loaded.vertices.filter(col("label") === "customer")
        .select(col("id").as("fid"))
      val hop = frontier.join(loaded.edges, col("fid") === col("src"))
      val hopPlan = hop.queryExecution.executedPlan.toString
      val nExchanges = "Exchange".r.findAllIn(hopPlan).length
      assert(nExchanges <= 1,
        s"expected at most one (frontier-side) exchange:\n$hopPlan")
      assert(hop.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS gs_vertices")
      spark.sql("DROP TABLE IF EXISTS gs_edges")
    }
  }

  test("GraftExtensions wires hamming64 through the injection point") {
    // getOrCreate reuses the shared test session (extensions only apply
    // at session construction), so exercise the injection surface
    // directly: the registered builder must produce a working expression.
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    new graft.api.GraftExtensions().apply(exts)
    import org.apache.spark.sql.catalyst.expressions.Literal
    val built = org.apache.spark.sql.graft.HammingDistanceExpr(
      Literal(7L), Literal(1L))
    assert(built.eval(null) == 2L)
    // and the same function is registrable + callable on a live session
    graft.functions.HammingDistance.register(spark)
    assert(spark.sql("SELECT hamming64(7, 1) AS d")
      .collect().head.getLong(0) == 2L)
  }

  test("no gate query plans an unjustified cartesian/nested-loop join") {
    // Repo-wide plan discipline: CartesianProduct and
    // BroadcastNestedLoopJoin are the two join strategies that do NOT
    // survive a 100× scale-up (no equi-key to shuffle or broadcast on).
    // Every appearance must be on this allowlist, with the reason the
    // plan is still scale-safe (a deliberately-bounded broadcast side).
    val allowed = Map(
      "cy21_call_subquery" -> ("uncorrelated CALL {} IS a cross-product " +
        "by Cypher semantics; the subquery side is a bounded aggregate"),
      "s01_cosine_topk" -> ("brute-force ANN baseline: the bounded " +
        "10-query side broadcasts against one corpus scan (by design)"),
      "s04_ann_recall" -> "joins s01's exact baseline (same shape)",
      "s05_quantized_topk" -> "same broadcast-bounded-queries shape",
      "s06_ivf_partial_probe" -> "same broadcast-bounded-queries shape",
      "s07_pq_rerank" -> ("ADC scan joins the broadcast bounded query " +
        "set; rerank side is |queries|×shortlist rows"),
      "s08_hybrid_rrf" -> ("s01's broadcast-bounded-single-query shape " +
        "on the vector leg of the fusion"),
      "s09_ivfpq_rerank" -> "same broadcast-bounded-queries shape",
      "s11_l2_topk" -> ("exact L2 baseline: same broadcast-bounded-" +
        "queries, one-corpus-scan shape as s01"),
      "s12_binary_rerank" -> ("Hamming shortlist scan joins the " +
        "broadcast bounded query set (code column only; vectors " +
        "touched per-shortlist)"),
      "s13_matryoshka_topk" -> ("s01's broadcast-bounded-queries, " +
        "one-corpus-scan shape on the truncated-dim slice"),
      "t21_pmi_collocations" -> ("two 1-row corpus-totals scalar " +
        "broadcasts (n_tot, b_tot)"),
      "io08_corpus_contract" -> ("cross join of two 1-row " +
        "table-contract aggregates"),
      "t10_tfidf_topk" -> "1-row corpus-size scalar broadcast",
      "p22_boilerplate_ngrams" -> "1-row corpus-size scalar broadcast",
      "gx07_scc_transitions" -> "1-row transition-total scalar broadcast",
      "t13_lm_perplexity" -> "1-row vocab-size scalar broadcast",
      "tj03_gapfill" -> "1-row global day-range broadcast (grid bounds)",
      "t16_importance_scores" ->
        "1-row histogram-totals scalar broadcast",
      "p19_dsir_selection" ->
        "t16's 1-row histogram-totals broadcast (same scoring plan)",
      "cy27_procedures" -> ("uncorrelated CALL db.* procedure is a " +
        "cross-product by semantics; the catalog side is bounded"),
      "cy32_all_shortest_paths" -> ("the disjoint endpoint pattern " +
        "(one pinned customer × part scan) cross-products a 1-row " +
        "side by Cypher semantics before the batched BFS"),
      "cy33_weighted_sssp" -> ("uncorrelated CALL graft.* procedure: " +
        "the 1-row unit frame cross-products the procedure's result"))
    val dir = sf("sf0.001")
    val offenders = graft.SparkEntry.allQueries.flatMap { q =>
      val plan = q.run(spark, dir).queryExecution.executedPlan.toString
      val bad = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
        .filter(plan.contains)
      if (bad.nonEmpty) Some(q.name -> bad) else None
    }
    val unexpected = offenders.filterNot(o => allowed.contains(o._1))
    assert(unexpected.isEmpty,
      s"scale-hostile joins outside the allowlist: $unexpected")
  }

  test("parquet scans prune columns and push filters down") {
    import org.apache.spark.sql.execution.ExplainMode
    def formatted(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val t = graft.sources.Tables(spark, sf("sf0.001"))
    // filter reaches the scan as a pushed predicate
    val filtered = formatted(
      t.documents.filter(col("lang") === "en").select(col("doc_id")))
    assert(filtered.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"),
      filtered)
    // a 2-column projection over the 5-column table reads ONLY those
    // columns (the "scan that reads everything is wrong" check)
    val readSchema = "ReadSchema: struct<doc_id:bigint,lang:string>"
    assert(filtered.contains(readSchema), filtered)
    // same discipline through a catalog query: t01 reads doc_id + text
    val t01 = formatted(
      graft.SparkEntry.queries("t01_token_count")(spark, sf("sf0.001")))
    assert(t01.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      t01)
    // hive-partitioned read: the partition-column filter prunes
    // DIRECTORIES (PartitionFilters), it is not a data filter
    val stage = graft.queries.PipelineQueries.io04Stage(spark,
      sf("sf0.001"))
    val pruned = formatted(spark.read.parquet(stage)
      .filter(col("lang").isin("en", "fr")).select(col("doc_id")))
    assert(pruned.contains("PartitionFilters: [lang#") &&
      pruned.contains("IN (en,fr)"), pruned)
  }

  test("gx06 certificate ground truth: the membership subgraph's edge-" +
      "type set is exhaustive and the 2-hop counting identity is a " +
      "measurement of the real graph, not a restatement of the oracle") {
    val full = graft.sources.TpchGraph(
      graft.sources.Tables(spark, sf("sf0.001")))
    val labels = Seq("customer", "supplier", "nation", "region")
    // (a) NO other edge type connects membership-label vertices: the
    // IN_NATION/IN_REGION filter that builds membershipGraph loses no
    // edges, so gx06's closed-form "ball = same-nation members + nation
    // + region" is grounded in the graph's actual shape — if a future
    // TpchGraph edge type (say supplier-SUPPLIES->part widened to
    // nation) touched these labels, this pin fails before the gate's
    // identity silently diverges from the true ball.
    val vl = full.vertices.select(col("id"), col("label"))
    val touching = full.edges
      .join(vl.select(col("id").as("src"), col("label").as("sl")), "src")
      .join(vl.select(col("id").as("dst"), col("label").as("dl")), "dst")
      .filter(col("sl").isin(labels: _*) && col("dl").isin(labels: _*))
      .select(col("edge_type")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(touching == Set("IN_NATION", "IN_REGION"), touching)
    // (b) the identity vs the generic exact expansion on the SAME
    // subgraph: per-customer 2-hop undirected ball size really equals
    // same-nation members + nation + region
    val g = GraphState(
      full.vertices.filter(col("label").isin(labels: _*)),
      full.edges.filter(col("edge_type").isin("IN_NATION", "IN_REGION")))
    val measured = Neighborhood.exactSizes(g, 2)
      .filter(col("id").startsWith("c:"))
    val inNation = g.edges.filter(col("edge_type") === "IN_NATION")
      .select(col("src"), col("dst"))
    val identity = inNation
      .join(inNation.groupBy(col("dst")).agg(count(lit(1)).as("m")),
        Seq("dst"))
      .select(col("src").as("id"), (col("m") + lit(2L)).as("n_reach"))
      .filter(col("id").startsWith("c:"))
    assert(measured.join(identity, Seq("id", "n_reach")).count() ==
      measured.count())
    assert(measured.count() > 0)
  }

  test("traversal hop joins never re-shuffle the edge table: a warm " +
      "allShortestPaths' total shuffle is a fraction of the cold run's " +
      "one-time partitioned-edge exchange") {
    import java.util.concurrent.atomic.AtomicLong
    val g = graft.sources.TpchGraph(
      graft.sources.Tables(spark, sf("sf0.001")))
    val bytes = new AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit =
        bytes.addAndGet(
          sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    def measure(body: => Unit): Long = {
      // drain in-flight listener events from earlier work before marking
      org.apache.spark.sql.graft.shims.drainListenerBus(spark)
      bytes.set(0L)
      body
      org.apache.spark.sql.graft.shims.drainListenerBus(spark)
      bytes.get()
    }
    spark.sparkContext.addSparkListener(listener)
    // force the DISTRIBUTED engine: this pin is about the partitioned
    // edge cache the hop joins share, which the r14 local path kernel
    // (equivalence-pinned in TraversalSpec) would bypass
    try withKernelBound("0") {
      def run(): Unit = {
        val pairs = g.vertices.filter(col("label") === "part")
          .select(lit("c:1").as("a"), col("id").as("b"))
        assert(Traversals.shortestPathsPairs(g, pairs, maxDepth = 4,
          all = true).count() > 0)
      }
      val cold = measure(run()) // includes the one-time edge exchange
      val warm = measure(run()) // must reuse the partitioned edge cache
      // Formerly each of the 4 hops re-shuffled the full edge table, so
      // a regression puts warm at ~4x the edge-exchange share of cold;
      // with the cache, warm is frontier-only traffic. Generous margin
      // for dedup/pairs/reconstruction bytes.
      assert(warm <= math.max(cold / 2, 64 * 1024),
        s"warm traversal re-shuffled edges: cold=$cold B, warm=$warm B")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("no main source imports GraphX: one engine per analytic") {
    // GraphX stays a test-only reference (TraversalSpec, PageRank
    // property); every analytic runs as DataFrame loops
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val users = files(root).filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString.contains("org.apache.spark.graphx")
      finally src.close()
    }
    assert(users.isEmpty, users.mkString(", "))
  }
}
