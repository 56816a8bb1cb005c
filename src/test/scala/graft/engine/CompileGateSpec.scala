package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.shims
import org.scalacheck.Gen
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.SparkSpec
import graft.cypher.{Compiler, Cypher, Parser}

/** [[CompileGate]]'s Cypher leg: a statement over a graph of at most
  * [[CompileGate.CypherMaxRows]] known rows plans and runs on the
  * caller's interpreted twin, and returns the same rows as with codegen;
  * the caller's conf is never touched. */
class CompileGateSpec extends SparkSpec {

  private val WholeStage = "spark.sql.codegen.wholeStage"
  private val FactoryMode = "spark.sql.codegen.factoryMode"

  /** A fresh caller session, as a Cypher user sets it up. */
  private def caller(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    s
  }

  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private object Plans extends AdaptiveSparkPlanHelper

  /** The nodes of `df`'s executed plan that `pf` takes, through adaptive
    * query stages, once the plan ran. */
  private def nodes[T](df: DataFrame)(pf: PartialFunction[SparkPlan, T])
      : Seq[T] = {
    df.collect()
    Plans.collect(df.queryExecution.executedPlan)(pf)
  }

  private def spans(df: DataFrame): Int =
    nodes(df) { case w: WholeStageCodegenExec => w }.size

  /** `vs` vertices (id, label, x) and `es` edges (src, R, dst) in `s`,
    * each side persisted and counted, so its rows are known. */
  private def cached(s: SparkSession, vs: Seq[(String, String, String)],
      es: Seq[(String, String)]): GraphState = {
    import s.implicits._
    val g = GraphState(
      vs.map { case (id, l, x) => (id, l, Map("x" -> x)) }
        .toDF("id", "label", "properties"),
      es.zipWithIndex.map { case ((a, b), i) =>
        (s"e$i", a, b, "R", "", Map.empty[String, String]) }
        .toDF("id", "src", "dst", "edge_type", "label", "properties"))
    Seq(g.vertices, g.edges).foreach { d => d.persist(); d.count() }
    g
  }

  private def small(s: SparkSession): GraphState = cached(s,
    (1 to 6).map(i => (s"v$i", if (i % 2 == 0) "A" else "B", i.toString)),
    Seq("v1" -> "v2", "v2" -> "v3", "v3" -> "v4", "v4" -> "v1"))

  private def read(g: GraphState, q: String)(implicit s: SparkSession)
      : DataFrame = new Compiler(g).compileRead(Parser.parseMulti(q)._1.head)

  private val Read = "MATCH (a:A)-[:R]->(b) WHERE toInteger(a.x) * 7919 > 1 " +
    "RETURN a.x AS ax, b.x AS bx"

  // the driver path kernel's probes and collects run on the twin too
  private val Paths = "MATCH p = shortestPath((a:B)-[*..3]-(b:A)) " +
    "WHERE toInteger(a.x) * 104729 > 1 RETURN a.x AS ax, b.x AS bx, " +
    "length(p) AS n"

  // unusual literals keep these plans' generated classes out of the
  // JVM-wide codegen cache that earlier tests filled
  private val Writes = Seq(
    "MATCH (n:A) SET n.x = toString(toInteger(n.x) * 7919 + 104729)",
    "MERGE (n:B {x: '1'}) ON MATCH SET n.m = 'seen'",
    "MERGE (n:C {x: '7919'})",
    "MATCH (n:B) WHERE n.x = '5' DETACH DELETE n")

  /** Janino compiles while running `Read`, `Paths` and `Writes` over a
    * new small graph of `s`, and the reads' and the final graph's rows. */
  private def statements(implicit s: SparkSession)
      : (Long, Seq[Row], Seq[Row]) = {
    val g0 = small(s)
    val c0 = compiles
    val rows = Seq(Read, Paths).flatMap(read(g0, _).collect())
    val g = Writes.foldLeft(g0)((g, w) => Cypher.execute(g, w).state)
    val after = Cypher.query(g, "MATCH (n) RETURN n.x AS x, n.m AS m")
      .collect().toSeq
    (compiles - c0, rows, after)
  }

  private def sorted(rows: Seq[Row]): Seq[String] =
    rows.map(_.toString).sorted

  test("a small graph's reads and writes compile nothing; bound 0 compiles") {
    implicit val s: SparkSession = caller()
    // Spark's codegen-only helpers (cached-column accessors, row joiners)
    // compile even interpreted, once per schema and session class
    // loader: the first run leaves the twin's in the codegen cache
    statements
    val (gated, gRows, gAfter) = statements
    val (forced, fRows, fAfter) =
      CompileGate.cypherBound.withValue(0L)(statements)
    assert(forced > 0, "bound 0 compiled nothing")
    assert(gated == 0, s"$gated compiles under the gate")
    assert(sorted(gRows) == sorted(fRows) && gRows.nonEmpty)
    assert(sorted(gAfter) == sorted(fAfter))
  }

  test("a small graph's path-kernel probes and collects run on the twin") {
    implicit val s: SparkSession = caller()
    val g = small(s)
    val confs = new java.util.concurrent.ConcurrentLinkedQueue[
      Map[String, String]]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => confs.add(x.modifiedConfigs)
        case _ =>
      }
    }
    s.sparkContext.addSparkListener(listener)
    try {
      read(g, Paths).collect()
      shims.drainListenerBus(s)
    } finally s.sparkContext.removeSparkListener(listener)
    // the kernel's two endpoint lists and its edge collect, then the read
    assert(confs.size >= 4, confs)
    assert(confs.asScala.forall(_.get(FactoryMode).contains("NO_CODEGEN")),
      confs)
  }

  test("a caller that names either codegen key keeps its setting") {
    for ((key, value, wholeStage) <- Seq((WholeStage, "true", true),
        (WholeStage, "false", false), (FactoryMode, "CODEGEN_ONLY", true))) {
      implicit val s: SparkSession = caller()
      s.conf.set(key, value)
      val df = read(small(s), Read)
      assert(df.sparkSession eq s, s"$key=$value: bound to a twin")
      assert((spans(df) > 0) == wholeStage, s"$key=$value")
    }
    implicit val s: SparkSession = caller()
    val df = read(small(s), Read)
    assert((df.sparkSession ne s) && spans(df) == 0)
  }

  test("a statement leaves the caller's conf exactly as it was") {
    implicit val s: SparkSession = caller()
    val g = small(s)
    val before = s.conf.getAll
    read(g, Read).collect()
    Cypher.execute(g, Writes.head)
    assert(s.conf.getAll == before)
    assert(Seq(WholeStage, FactoryMode).forall(!before.contains(_)))
  }

  test("a gated read scans the caller's cache on the caller's context") {
    implicit val s: SparkSession = caller()
    val df = read(small(s), Read)
    assert(df.sparkSession ne s)
    assert(df.sparkSession.sparkContext eq s.sparkContext)
    val scans = nodes(df) { case t: InMemoryTableScanExec => t }
    assert(scans.size == 3, df.queryExecution.executedPlan) // a, r, b
  }

  test("reads share one twin; a changed caller conf gets a new twin") {
    implicit val s: SparkSession = caller()
    val g = small(s)
    val t1 = read(g, Read).sparkSession
    assert(read(g, Read).sparkSession eq t1)
    s.conf.set("spark.sql.shuffle.partitions", "3")
    val t2 = read(g, Read).sparkSession
    assert((t2 ne t1) && (t2 ne s))
    assert(t2.conf.get("spark.sql.shuffle.partitions") == "3")
    assert(t1.conf.get(FactoryMode) == "NO_CODEGEN" &&
      t1.conf.get(WholeStage) == "false")
  }

  test("a graph with a leaf of unknown size compiles") {
    implicit val s: SparkSession = caller()
    val g = small(s)
    // an RDD leaf has no known row count
    val rdd = GraphState(
      s.createDataFrame(g.vertices.rdd, g.vertices.schema), g.edges)
    assert(g.knownRows.contains(10L) && rdd.knownRows.isEmpty)
    assert(read(rdd, Read).sparkSession eq s)
  }

  private val vid = Gen.choose(1, 5).map(i => s"v$i")
  private val label = Gen.oneOf("A", "B")
  private val statement: Gen[String] = Gen.oneOf(
    label.map(l => s"MATCH (n:$l) RETURN n.x AS x"),
    Gen.const("MATCH (a)-[:R]->(b) RETURN a.x AS ax, b.x AS bx"),
    Gen.const("MATCH (n) RETURN n.label AS l, count(n) AS c"),
    Gen.zip(label, Gen.choose(0, 6)).map { case (l, k) =>
      s"MATCH (n:$l) WHERE toInteger(n.x) > $k " +
        "SET n.x = toString(toInteger(n.x) + 1)" },
    Gen.zip(label, Gen.choose(0, 6)).map { case (l, k) =>
      s"MERGE (n:$l {x: '$k'}) ON CREATE SET n.c = 'new'" },
    vid.map(v => s"MATCH (a {x: '${v.drop(1)}'}), (b:A) " +
      "CREATE (a)-[:R]->(b)"),
    Gen.choose(0, 6).map(k => s"MATCH (n {x: '$k'}) DETACH DELETE n"))

  property("random reads and writes return equal rows with and without " +
      "the gate", 6) {
    val graph = for {
      vs <- Gen.listOfN(5, Gen.zip(label, Gen.choose(0, 6)))
      es <- Gen.listOf(Gen.zip(vid, vid))
    } yield (vs.zipWithIndex.map { case ((l, x), i) =>
      (s"v${i + 1}", l, x.toString) }, es)
    forAll(graph, Gen.listOfN(5, statement)) { case ((vs, es), stmts) =>
      def run(): Seq[Seq[String]] = {
        implicit val s: SparkSession = caller()
        var g = cached(s, vs, es)
        stmts.map { q =>
          val r = Cypher.execute(g, q)
          g = r.state
          sorted(r.df.fold(Seq.empty[Row])(_.collect().toSeq))
        } :+ sorted(Cypher.query(g,
          "MATCH (n) RETURN n.label AS l, n.x AS x, n.c AS c").collect())
      }
      val forced = CompileGate.cypherBound.withValue(0L)(run())
      val gated = run()
      (gated == forced) :| s"$stmts: $gated vs $forced"
    }
  }
}
