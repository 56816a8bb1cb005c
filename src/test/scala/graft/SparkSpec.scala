package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalacheck.{Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraphState, KernelGate}
import graft.model.GraphSchemas

/** Shared local SparkSession + tiny graph fixtures (FIXTURES.md F1-F3). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"

  def vertexDf(rows: (String, String, Map[String, String])*): DataFrame =
    df(GraphSchemas.vertexSchema,
      rows.map(r => Row(r._1, r._2, r._3)): _*)

  def edgeDf(rows: (String, String, String, String)*): DataFrame =
    df(GraphSchemas.edgeSchema,
      rows.map(r => Row(r._1, r._2, r._3, r._4, "",
        Map.empty[String, String])): _*)

  /** Check `prop` with ScalaCheck inside the calling test, which fails
    * unless at least `minSuccessful` cases pass. A property run this
    * way is timed in the suite's report like any other test. */
  def checkProperty(minSuccessful: Int)(prop: Prop): Unit = {
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(minSuccessful), prop)
    assert(result.passed, Pretty.pretty(result))
  }

  /** `prop` as the test `name`, through [[checkProperty]]. */
  def property(name: String, minSuccessful: Int)(prop: => Prop): Unit =
    test(name)(checkProperty(minSuccessful)(prop))

  def df(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)

  /** F2: v1 -[test_edge_type]-> v2 plus a fan-out (F3-ish). */
  def pipeFixture: GraphState = GraphState(
    vertexDf(
      ("v1", "test_vertex_type", Map("name" -> "alice")),
      ("v2", "test_inbound_vertex_type", Map("name" -> "bob")),
      ("v3", "test_inbound_vertex_type", Map.empty),
      ("v4", "other_type", Map("flag" -> "true"))),
    edgeDf(
      ("e1", "v1", "v2", "test_edge_type"),
      ("e2", "v1", "v3", "test_edge_type"),
      ("e3", "v1", "v4", "other_edge_type"),
      ("e4", "v4", "v1", "test_edge_type")))
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `body` with the driver-kernel bound ([[KernelGate.MaxEdgesKey]])
    * set to `bound`; "0" declines every kernel, so the distributed
    * plans run. */
  def withKernelBound[T](bound: String)(body: => T): T = {
    session.conf.set(KernelGate.MaxEdgesKey, bound)
    try body finally session.conf.unset(KernelGate.MaxEdgesKey)
  }
}
