package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.engine.{GraphState, GraphXBridge, Neighborhood, Traversals}
import graft.sources.{Tables, TpchGraph}

/** The benchmark's JVM side: sets one workload up several times, runs
  * its timed region on the last set-up, checks what it can check in
  * Scala, and writes `result.json` (and `spans.jsonl` when traced) into
  * the output directory. run.py turns these into the metrics.
  *
  * The timed region is a fixed number of passes over the workload's
  * operations; run.py leaves the first, which warms the JIT, out of
  * the end-to-end metrics. Every pass reads its inputs through a
  * pass-specific filter that keeps every row, so each pass is a first
  * use for any cache keyed on the query plan while the loaded data
  * stays cached.
  *
  * Usage: Main --workload W --input DIR --out DIR --passes P
  *             --trace 0|1 --setups N
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val out = a("out")
    Files.createDirectories(Paths.get(out))
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, new Recorder(a("trace") == "1"), out,
      a("passes").toInt, a("setups").toInt)
    if (run.rec.traced) spark.sparkContext.addSparkListener(run.rec)
    try {
      a("workload") match {
        case "analytics" => Analytics(run, a("input"))
        case "cypher-rw" => CypherRw(run, a("input"))
        case "curation" => Curation(run, a("input"))
        case "stream" => Stream(run, a("input"))
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      run.measureHeap()
      run.write(a("workload"))
    } finally spark.stop()
  }

  /** The pass-specific filter: true on every row, but a different plan
    * on every pass. */
  def keepAll(c: Column, pass: Int): Column =
    c.isNull || c.cast("string") =!= lit(s"~pass$pass")
}

/** State shared by the workloads: operation log, checks, the timed
  * region's process measurements and the result file. */
final class Run(val spark: SparkSession, val rec: Recorder, val out: String,
    val passes: Int, val setups: Int) {
  private val rt = ManagementFactory.getRuntimeMXBean
  private val os = ManagementFactory.getPlatformMXBean(
    classOf[com.sun.management.OperatingSystemMXBean])
  /** From JVM start to a ready SparkSession: the part of set-up that
    * happens once per process. */
  val jvmStartS: Double =
    (System.currentTimeMillis() - rt.getStartTime) / 1000.0
  val setupRuns = mutable.ArrayBuffer[Map[String, Double]]()
  val ops = mutable.ArrayBuffer[String]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val facts = mutable.LinkedHashMap[String, Any]()
  private var opSeq = 0L
  private var pass = 0
  private var passSeq = 0 // operation's position within its pass
  def currentOp: Long = opSeq

  /** Set up `setups` times; keep the last. Each set-up returns its
    * result and its per-layer split (e.g. load_s, graph_s). */
  def setUp[T](body: () => (T, Map[String, Double])): T = {
    var last: Option[T] = None
    (1 to setups).foreach { _ =>
      last.foreach(release)
      val t0 = System.nanoTime()
      val (v, parts) = body()
      setupRuns += parts + ("total_s" -> (System.nanoTime() - t0) / 1e9)
      last = Some(v)
    }
    last.get
  }

  /** Drop a discarded set-up's cached blocks before the next one. */
  private def release(v: Any): Unit = v match {
    case d: DataFrame => d.unpersist(blocking = true)
    case g: GraphState =>
      g.vertices.unpersist(blocking = true); g.edges.unpersist(blocking = true)
    case p: Product => p.productIterator.foreach(release)
    case _ =>
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** One operation: a root span, a Spark job group and a log entry.
    * A failing operation is logged and yields None. */
  def op[T](name: String, kind: String)(body: => T): Option[T] = {
    opSeq += 1
    passSeq += 1
    val id = opSeq
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = try Right(rec.operation(id, name, spark.sparkContext)(body))
    catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6
    val err = r.left.toOption.map(e =>
      s""","error":${Json.str(String.valueOf(e).take(300))}""").getOrElse("")
    ops += s"""{"id":$id,"pass":$pass,"seq":$passSeq,""" +
      s""""name":${Json.str(name)},"kind":"$kind","ms":$ms,""" +
      s""""cpu_ms":$cpuMs,"ok":${r.isRight}$err}"""
    r.toOption
  }

  /** Collect `df` after forcing its physical plan in a `spark.plan` span. */
  def collect(df: DataFrame): Array[Row] = {
    rec.span("spark.plan") { df.queryExecution.executedPlan }
    df.collect()
  }

  def check(name: String, result: Option[String]): Unit =
    checks += ((name, result.isEmpty, result.getOrElse("")))

  /** The timed region: `passes` passes, each timed on its own (wall and
    * process CPU), then GC and host contention over the whole region. */
  def timed(body: Int => Unit): Unit = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcTotals = (gcs.map(_.getCollectionTime).sum,
      gcs.map(_.getCollectionCount).sum)
    val (gcMs0, gcN0) = gcTotals
    val host = new HostSample
    val walls, cpus = mutable.ArrayBuffer[Double]()
    facts("timed_start_ns") = rec.now()
    (1 to passes).foreach { p =>
      pass = p
      passSeq = 0
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      body(p)
      walls += (System.nanoTime() - t0) / 1e9
      cpus += (os.getProcessCpuTime - cpu0) / 1e9
    }
    facts("timed_end_ns") = rec.now()
    facts("pass_wall_s") = walls.toSeq
    facts("pass_cpu_s") = cpus.toSeq
    val (gcMs1, gcN1) = gcTotals
    facts("gc_s") = (gcMs1 - gcMs0) / 1000.0
    facts("gc_count") = gcN1 - gcN0
    val (steal, ext) = host.finish()
    facts("steal_cores") = steal
    facts("ext_cores") = ext
  }

  /** Heap in use after a full GC, once the workload has checked its
    * outputs and dropped every one the benchmark itself held, so what
    * remains is the loaded inputs plus whatever graft retains. */
  def measureHeap(): Unit = {
    // Spark's ContextCleaner drops the blocks of collected RDDs
    // asynchronously after a GC; give it a moment before measuring
    System.gc(); Thread.sleep(300); System.gc()
    facts("retained_heap_mb") =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Write a result frame as one parquet file for run.py's checks. */
  def dump(df: DataFrame, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")

  def write(workload: String): Unit = {
    val rt = Runtime.getRuntime
    val counters = rec.counters.asScala.map { case (g, c) =>
      s""""$g":{"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""run_ms":${c.runMs},"cpu_ns":${c.cpuNs},"gc_ms":${c.gcMs},""" +
        s""""shuffle_write":${c.shuffleWrite},"shuffle_read":""" +
        s"""${c.shuffleRead},"spill":${c.spill},"result":${c.result}}"""
    }.mkString(",")
    val progress = rec.progress.asScala.map { p =>
      val d = p.durationMs.asScala.map { case (k, v) =>
        s""""$k":${v.longValue}""" }.mkString(",")
      val st = p.stateOperators
      s"""{"name":${Json.str(String.valueOf(p.name))},"batch":${p.batchId},""" +
        s""""input_rows":${p.numInputRows},"durations":{$d},""" +
        s""""state_rows":${st.map(_.numRowsTotal).sum},""" +
        s""""state_mem":${st.map(_.memoryUsedBytes).sum},""" +
        s""""state_commit_ms":${st.map(_.commitTimeMs).sum}}"""
    }.mkString(",")
    val setupsJson = setupRuns.map(m =>
      m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
      .mkString(",")
    val checksJson = checks.map { case (n, ok, d) =>
      s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}"""
    }.mkString(",")
    val factsJson = facts.map { case (k, v) => s""""$k":${Json.any(v)}""" }
      .mkString(",")
    val json = s"""{"workload":"$workload","traced":${rec.traced},""" +
      s""""nproc":${rt.availableProcessors},""" +
      s""""heap_max_mb":${rt.maxMemory / 1048576.0},""" +
      s""""jvm_start_s":$jvmStartS,"setups":[$setupsJson],$factsJson,""" +
      s""""ops":[${ops.mkString(",")}],"checks":[$checksJson],""" +
      s""""counters":{$counters},"progress":[$progress]}"""
    Files.write(Paths.get(s"$out/result.json"), json.getBytes(UTF_8))
    if (rec.traced) {
      val lines = rec.spans.asScala.map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
          s""""name":${Json.str(s.name)},"start":${s.start},"end":${s.end}}""")
      Files.write(Paths.get(s"$out/spans.jsonl"),
        lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def any(v: Any): String = v match {
    case null | None => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(any).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** A JSON file the generator wrote. */
  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(path)))
}

/** Graph analytics over one immutable TpchGraph plus the co-purchase,
  * membership and purchase-DAG projections the gx gates use. */
object Analytics {
  final case class Data(tables: Tables, g: GraphState, coPurchase: DataFrame,
      membership: GraphState, dag: DataFrame) {
    /** This pass's view of the same cached data. */
    def pass(p: Int): Data = {
      def graph(x: GraphState) = GraphState(
        x.vertices.filter(Main.keepAll(col("id"), p)),
        x.edges.filter(Main.keepAll(col("src"), p)))
      Data(tables, graph(g), coPurchase.filter(Main.keepAll(col("src"), p)),
        graph(membership), dag.filter(Main.keepAll(col("src"), p)))
    }
  }

  def setup(run: Run, dir: String): (Data, Map[String, Double]) = {
    val s = run.spark.newSession()
    val t = Tables(s, dir)
    val (_, loadS) = run.time {
      Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
        t.lineitem).foreach(_.count())
    }
    val (d, graphS) = run.time {
      val g = TpchGraph(t)
      g.vertices.count(); g.edges.count()
      val l = t.lineitem.select(col("l_orderkey"), col("l_partkey"))
      val co = l.join(l.select(col("l_orderkey"), col("l_partkey").as("p2")),
          Seq("l_orderkey"))
        .filter(col("l_partkey") < col("p2"))
        .select(col("l_partkey").cast("long").as("src"),
          col("p2").cast("long").as("dst"))
        .distinct().cache()
      co.count()
      val memb = GraphState(
        g.vertices.filter(col("label").isin("customer", "supplier", "nation",
          "region")).cache(),
        g.edges.filter(col("edge_type").isin("IN_NATION", "IN_REGION"))
          .cache())
      memb.vertices.count(); memb.edges.count()
      // customer→order edges weigh 1, order→part edges the quantity;
      // ids live in disjoint mod-3 spaces
      val dag = t.orders.select((col("o_custkey").cast("long") * 3).as("src"),
          (col("o_orderkey").cast("long") * 3 + 1).as("dst"),
          lit(1.0).as("w"))
        .unionByName(t.lineitem.select(
          (col("l_orderkey").cast("long") * 3 + 1).as("src"),
          (col("l_partkey").cast("long") * 3 + 2).as("dst"),
          col("l_quantity").cast("double").as("w")))
        .cache()
      dag.count()
      Data(t, g, co, memb, dag)
    }
    (d, Map("load_s" -> loadS, "graph_s" -> graphS))
  }

  def apply(run: Run, dir: String): Unit = {
    val p = Json.read(s"$dir/params.json")
    def ints(k: String) = p.get(k).elements().asScala.map(_.asLong).toSeq
    def strs(k: String) = p.get(k).elements().asScala.map(_.asText).toSeq
    val d = run.setUp(() => setup(run, dir))
    implicit val s: SparkSession = d.tables.spark
    import s.implicits._
    val k = p.get("kcore_k").asInt
    val linkK = p.get("link_pred_k").asInt
    val ssspSources = ints("sssp_sources").map(_ * 3)
    val pprCustomer = p.get("ppr_customer").asLong
    val bfsSources = strs("bfs_sources")
    val spPairs = p.get("sp_pairs").elements().asScala
      .map(x => (x.get(0).asText, x.get(1).asText)).toSeq
    val pprSeeds = d.tables.lineitem
      .join(d.tables.orders.filter(col("o_custkey") === pprCustomer),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey").cast("long").as("id")).distinct()
    val got = mutable.LinkedHashMap[(Int, String), Array[Row]]()

    run.timed { pass =>
      val x = d.pass(pass)
      def call(name: String)(df: => DataFrame): Unit =
        run.op(name, "call") { run.collect(df) }.foreach(got((pass, name)) = _)
      call("cc")(GraphXBridge.connectedComponents(x.g))
      call("pagerank")(GraphXBridge.staticPageRank(x.membership,
        p.get("pagerank_iters").asInt))
      call("kcore")(GraphXBridge.kCore(x.coPurchase, k))
      call("triangle_support")(GraphXBridge.edgeTriangleSupport(x.coPurchase))
      call("link_pred")(GraphXBridge.topLinkPredictions(x.coPurchase, linkK))
      call("sssp")(GraphXBridge.weightedSssp(x.dag, ssspSources))
      call("ppr")(GraphXBridge.personalizedPageRankInt(x.coPurchase,
        pprSeeds.filter(Main.keepAll(col("id"), pass)),
        p.get("ppr_iters").asInt))
      call("label_prop")(GraphXBridge.labelPropagation(x.coPurchase,
        p.get("label_prop_rounds").asInt))
      call("bfs")(Traversals.bfs(x.g, bfsSources.toDF("id"),
        p.get("bfs_depth").asInt, undirected = true))
      call("shortest_paths")(Traversals.shortestPathsPairs(x.g,
        spPairs.toDF("a", "b"), p.get("sp_depth").asInt, undirected = true))
      call("hyperball")(Neighborhood.hyperBall(x.membership,
        p.get("hyperball_hops").asInt))
    }

    // references from the collected inputs, outside the timed region;
    // pass 1 is checked against them, later passes against pass 1
    val edges = d.g.edges.select("src", "dst").as[(String, String)].collect()
    val full = Refs.adjacency(d.g.vertices.select("id").as[String].collect(),
      edges)
    val memV = d.membership.vertices.select("id").as[String].collect()
    val memE = d.membership.edges.select("src", "dst").as[(String, String)]
      .collect()
    val memb = Refs.adjacency(memV, memE)
    val co = Refs.csr(d.coPurchase.as[(Long, Long)].collect())
    val names = got.keys.map(_._2).toSeq.distinct
    def rows(name: String)(f: Array[Row] => Option[String]): Unit =
      run.check(name, got.get((1, name)).map(f)
        .getOrElse(Some(s"$name: call failed")))
    rows("cc")(r => Refs.checkComponents(full,
      r.map(x => (x.getString(0), x.getLong(1))).toSeq))
    rows("pagerank")(r => Refs.checkPageRank(memV.toSeq, memE.toSeq,
      p.get("pagerank_iters").asInt, 0.15,
      r.map(x => (x.getString(0), x.getDouble(1))).toSeq))
    rows("kcore")(r => Refs.checkKCore(co, k,
      r.map(x => (x.getLong(0), x.getLong(1))).toSeq))
    rows("triangle_support")(r => Refs.checkTriangleSupport(co,
      r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq))
    rows("link_pred")(r => Refs.checkTopLinks(co, linkK,
      r.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq))
    rows("sssp")(r => Refs.checkSssp(
      d.dag.as[(Long, Long, Double)].collect(), ssspSources,
      r.map(x => (x.getLong(0), x.getDouble(1))).toSeq))
    rows("ppr")(r => Refs.checkPpr(co, pprSeeds.as[Long].collect().toSet,
      p.get("ppr_iters").asInt, 1000000000000L,
      r.map(x => (x.getLong(0), x.getLong(1))).toSeq))
    rows("label_prop")(r => Refs.checkLabelPropagation(co,
      p.get("label_prop_rounds").asInt,
      r.map(x => (x.getLong(0), x.getLong(1))).toSeq))
    rows("bfs")(r => Refs.checkBfs(full, bfsSources, p.get("bfs_depth").asInt,
      r.map(x => (x.getAs[String]("id"), x.getAs[Int]("depth"))).toSeq))
    rows("shortest_paths")(r => Refs.checkShortestPaths(full, spPairs,
      p.get("sp_depth").asInt,
      r.map(x => (x.getAs[String]("__a"), x.getAs[String]("__b"),
        x.getAs[Number]("length").longValue,
        x.getAs[scala.collection.Seq[String]]("path").toSeq)).toSeq))
    rows("hyperball")(r => Refs.checkHyperBall(memb,
      p.get("hyperball_hops").asInt,
      r.map(x => (x.getString(0), x.getLong(1))).toSeq))
    // later passes must match pass 1; shortest paths may tie, so only
    // their lengths, and PageRank sums doubles in any order, so it is
    // checked against the reference again
    def canon(name: String, r: Array[Row]): Seq[String] =
      (if (name == "shortest_paths")
        r.map(x => s"${x.getAs[String]("__a")} ${x.getAs[String]("__b")} " +
          x.getAs[Number]("length"))
      else r.map(_.toString)).toSeq.sorted
    (2 to run.passes).foreach { pass =>
      run.check(s"pass$pass", names.flatMap { n =>
        got.get((pass, n)).flatMap { r =>
          if (n == "pagerank") Refs.checkPageRank(memV.toSeq, memE.toSeq,
            p.get("pagerank_iters").asInt, 0.15,
            r.map(x => (x.getString(0), x.getDouble(1))).toSeq)
          else if (canon(n, r) != got.get((1, n)).map(canon(n, _)).orNull)
            Some(s"pass $pass: $n differs from pass 1")
          else None
        }
      }.headOption)
    }
    got.clear()
  }
}

/** Closed loop, one client: seeded Cypher statements against a
  * GraftSession over the sf0.01 graph. Each pass starts a session from
  * the base graph and runs that pass's statements; each write's
  * snapshot is the graph the next statement sees. */
object CypherRw {
  def apply(run: Run, dir: String): Unit = {
    val stmts = Files.readAllLines(Paths.get(s"$dir/statements.jsonl")).asScala
      .map(l => new com.fasterxml.jackson.databind.ObjectMapper().readTree(l))
    val (s, g) = run.setUp { () =>
      val s = run.spark.newSession()
      s.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      val t = Tables(s, dir)
      val (_, loadS) = run.time {
        Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
          t.lineitem).foreach(_.count())
      }
      val (g, graphS) = run.time {
        val g = TpchGraph(t)
        g.vertices.count(); g.edges.count()
        g
      }
      ((s, g), Map("load_s" -> loadS, "graph_s" -> graphS))
    }
    implicit val spark: SparkSession = s
    val results = new java.io.PrintWriter(s"${run.out}/reads.jsonl", "UTF-8")
    var done = 0
    run.timed { pass =>
      val session = graft.api.GraftSession(s, GraphState(
        g.vertices.filter(Main.keepAll(col("id"), pass)),
        g.edges.filter(Main.keepAll(col("src"), pass))))
      stmts.filter(_.get("pass").asInt == pass).foreach { st =>
        val cy = st.get("cypher").asText
        val i = st.get("i").asInt
        if (st.get("kind").asText == "read") {
          run.op(st.get("template").asText, "read") {
            val (parts, _) = run.rec.span("cypher.parse") {
              graft.cypher.Parser.parseMulti(cy)
            }
            val df = run.rec.span("cypher.compile") {
              new graft.cypher.Compiler(session.graph).compileRead(parts.head)
            }
            run.collect(df)
          }.foreach { rows =>
            val body = rows.map(r => r.toSeq.map(v =>
              if (v == null) "null" else Json.str(v.toString))
              .mkString("[", ",", "]")).mkString("[", ",", "]")
            results.println(s"""{"i":$i,"rows":$body}""")
          }
        } else {
          run.op(st.get("template").asText, "write") {
            run.rec.span("cypher.mutate") { session.execute(cy) }
          }
        }
        done += 1
      }
    }
    results.close()
    run.facts("statements") = done
  }
}

/** The LLM-data curation pipeline over a seeded corpus with planted
  * duplicates, then exact and IVF top-k over seeded embeddings. Every
  * stage is materialized so its time is its own. */
object Curation {
  import graft.functions.{DedupOps, SimilarityOps, TextOps}

  def apply(run: Run, dir: String): Unit = {
    val p = Json.read(s"$dir/params.json")
    val (docs0, emb0) = run.setUp { () =>
      val s = run.spark.newSession()
      val (de, loadS) = run.time {
        val docs = s.read.parquet(s"$dir/documents.parquet").cache()
        val emb = s.read.parquet(s"$dir/embeddings.parquet").cache()
        docs.count(); emb.count()
        (docs, emb)
      }
      (de, Map("load_s" -> loadS))
    }
    val queryIds = p.get("queries").elements().asScala.map(_.asLong).toSeq
    val n = p.get("shingle_n").asInt
    val k = p.get("k").asInt
    val out = mutable.LinkedHashMap[(Int, String), DataFrame]()

    run.timed { pass =>
      def stage(name: String)(df: => DataFrame): DataFrame =
        run.op(name, "stage") {
          val d = df
          run.rec.span("spark.plan") { d.queryExecution.executedPlan }
          d.localCheckpoint()
        }.map { d => out((pass, name)) = d; d }.orNull
      val docs = docs0.filter(Main.keepAll(col("doc_id"), pass))
      val emb = emb0.filter(Main.keepAll(col("vec_id"), pass))
      val queries = emb.filter(col("vec_id").isin(queryIds: _*))
      val feats = stage("quality") {
        docs.select(col("doc_id"), col("text"),
            TextOps.nChars(col("text")).as("n_chars"),
            TextOps.tokenCount(col("text")).as("n_tokens"),
            TextOps.meanWordLen(col("text")).as("mean_word_len"),
            TextOps.languageId(col("text")).as("lang"))
          .filter(col("n_tokens") >= 65)
      }
      val exact = stage("exact")(DedupOps.exactCanonical(feats, "doc_id",
        "text"))
      val kept = exact.filter(col("canonical_id") === col("doc_id"))
      val sig = stage("minhash")(DedupOps.minhashSignature(kept, "doc_id",
        "text", n, p.get("perms").asInt))
      val bands = stage("lsh_bands")(DedupOps.lshBands(sig, "doc_id",
        p.get("bands").asInt))
      val cands = stage("candidates")(DedupOps.candidatePairs(bands, "doc_id"))
      val ver = stage("jaccard_verify")(DedupOps.jaccardVerify(cands, kept,
        "doc_id", "text", n, p.get("jaccard").asDouble))
      stage("keep_best")(DedupOps.dupClustersKeepBest(ver,
        kept.select(col("doc_id"), col("n_chars").as("quality")), "doc_id",
        "quality"))
      stage("cosine_topk")(SimilarityOps.cosineTopK(emb, queries, "vec_id",
        "embedding", k))
      stage("ivf_topk")(SimilarityOps.ivfTopK(emb, queries, "vec_id",
        "embedding", k, p.get("ivf_nlist").asInt, p.get("ivf_nprobe").asInt))
    }
    // the last pass is checked in full by run.py; earlier passes must
    // return as many rows
    val last = run.passes
    def dump(stage: String, name: String)(f: DataFrame => DataFrame): Unit =
      out.get((last, stage)).foreach(d => run.dump(f(d), name))
    dump("quality", "quality")(_.drop("text"))
    dump("exact", "exact")(_.select("doc_id", "canonical_id"))
    dump("candidates", "candidates")(identity)
    dump("jaccard_verify", "verified")(identity)
    dump("keep_best", "keep_best")(identity)
    dump("cosine_topk", "cosine_topk")(identity)
    dump("ivf_topk", "ivf_topk")(identity)
    val rows = out.map { case (key, d) => key -> d.count() }
    // drop the stage outputs' checkpoint blocks before the heap is measured
    out.values.foreach(_.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = true)
      case _ =>
    })
    out.clear()
    (1 until last).foreach { pass =>
      run.check(s"pass$pass", rows.keys.filter(_._1 == last).map(_._2)
        .collectFirst {
          case name if !rows.get((pass, name)).contains(rows((last, name))) =>
            s"pass $pass: $name row count differs from pass $last"
        })
    }
  }
}

/** Drains a time-ordered event backlog through two stateful streaming
  * queries with a fixed maxFilesPerTrigger, once per pass. Every pass
  * starts new queries, so no state or plan carries over. */
object Stream {
  import graft.streaming.EventStreams
  import org.apache.spark.sql.streaming.OutputMode

  def apply(run: Run, dir: String): Unit = {
    val p = Json.read(s"$dir/params.json")
    val src = s"$dir/events"
    val s = run.setUp { () =>
      val s = run.spark.newSession()
      val (_, loadS) = run.time {
        graft.sources.EventTs.readBatch(s, src).count()
      }
      (s, Map("load_s" -> loadS))
    }
    s.streams.addListener(run.rec.streamListener)
    val parts = Some(Runtime.getRuntime.availableProcessors())
    val perTrigger = Some(p.get("max_files_per_trigger").asInt)
    def drain(name: String, pass: Int)(f: DataFrame => DataFrame): Unit =
      run.op(name, "stream") {
        run.rec.streamOps.put(s"${name}_$pass", run.currentOp)
        EventStreams.runToMemory(s, src, s"${name}_$pass", f,
          OutputMode.Append, parts, perTrigger)
      }
    run.timed { pass =>
      drain("sessions", pass)(e => EventStreams.sessionizeStream(e,
        p.get("gap_seconds").asLong)(s))
      drain("click_view", pass)(e => EventStreams.clickViewJoinOuter(e,
        p.get("window_seconds").asInt))
    }
    // the last pass is checked in full by run.py; earlier passes must
    // emit the same number of rows
    Seq("sessions", "click_view").foreach { t =>
      val last = s"${t}_${run.passes}"
      if (s.catalog.tableExists(last)) {
        run.dump(s.table(last), t)
        val n = s.table(last).count()
        (1 until run.passes).foreach { pass =>
          val c = if (s.catalog.tableExists(s"${t}_$pass"))
            s.table(s"${t}_$pass").count() else -1L
          run.check(s"${t}_pass$pass",
            if (c == n) None else Some(s"pass $pass: $c rows, last pass $n"))
        }
      }
      // the memory sinks hold every emitted row; drop them before the
      // heap is measured
      (1 to run.passes).foreach(pass => s.catalog.dropTempView(s"${t}_$pass"))
    }
  }
}
