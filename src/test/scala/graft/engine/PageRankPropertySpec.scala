package graft.engine

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.SparkSpec

/** [[GraphXBridge.staticPageRank]] ≡ GraphX's own `staticPageRank`,
  * built here as an independent reference, within the benchmark's
  * 1e-9 relative tolerance. The random graphs have a dangling and an
  * isolated vertex, self-loops, parallel edges and edge endpoints
  * missing from the vertex frame (GraphX adds those as vertices; only
  * the vertex frame's rows come back). */
class PageRankPropertySpec extends SparkSpec {

  private implicit def session: SparkSession = spark
  import spark.implicits._

  /** (vertex frame ids, edges, iterations). */
  private val graphs: Gen[(Seq[String], Seq[(String, String)], Int)] = for {
    n <- Gen.choose(1, 10)
    outside <- Gen.choose(0, 2) // endpoints absent from the vertex frame
    v = Gen.choose(0, n + outside - 1).map(i => s"v$i")
    base <- Gen.listOf(Gen.zip(v, v)).map(_.take(24))
    loops <- Gen.listOf(v).map(_.take(3).map(x => (x, x)))
    parallel <- Gen.someOf(base)
    feeder <- v
    iters <- Gen.oneOf(1, 3, 10)
  } yield ((0 until n).map(i => s"v$i") ++ Seq("iso", "sink"),
    base ++ loops ++ parallel :+ ((feeder, "sink")), iters)

  private def graphx(vs: Seq[String], es: Seq[(String, String)],
      iters: Int): Map[String, Double] = {
    val ids = (vs ++ es.flatMap(e => Seq(e._1, e._2))).distinct.toIndexedSeq
    val idx = ids.zipWithIndex.toMap
    val sc = spark.sparkContext
    val g = Graph(sc.parallelize(vs.map(v => (idx(v).toLong, ()))),
      sc.parallelize(es.map { case (s, d) =>
        Edge(idx(s).toLong, idx(d).toLong, ()) }))
    g.staticPageRank(iters, 0.15).vertices.collect()
      .map { case (i, r) => ids(i.toInt) -> r }
      .filter(kv => vs.contains(kv._1)).toMap
  }

  property("PageRank.staticPageRank ≡ GraphX staticPageRank", 4) {
    forAll(graphs) { case (vs, es, iters) =>
      val g = GraphState(vs.map((_, "n")).toDF("id", "label"),
        es.zipWithIndex.map { case ((s, d), i) => (s"e$i", s, d, "E") }
          .toDF("id", "src", "dst", "edge_type"))
      val got = GraphXBridge.staticPageRank(g, iters).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val want = graphx(vs, es, iters)
      (got.keySet == want.keySet && want.forall { case (v, r) =>
        math.abs(got(v) - r) <= 1e-9 * math.max(1.0, r) }) :|
        s"iters=$iters edges=$es got=$got want=$want"
    }
  }
}
