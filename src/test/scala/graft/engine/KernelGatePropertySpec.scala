package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.SparkSpec
import graft.SparkSpec.withKernelBound

/** Every operator gated by [[KernelGate]] returns the same result with
  * its driver kernel on (default bound) and declined (bound 0, the
  * distributed plan), on random graphs: self-loops, duplicate and
  * reversed edges, a hub with a skewed degree, ids near Long.MinValue
  * and Long.MaxValue, isolated vertices (where the operator takes a
  * vertex set) and, in about a third of the graphs, an edge with a null
  * id. Canonical-edge operators get the canonical distinct form of the
  * edges (plus the null edge); the others get the edges as drawn. */
object KernelGatePropertySpec extends Properties("KernelGate") {

  // each case runs every operator on both legs: a few cases cover the
  // generators' shapes without dominating the suite
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(4)

  private implicit lazy val spark: SparkSession = SparkSpec.session
  import spark.implicits._

  private val id: Gen[Long] = Gen.frequency(
    6 -> Gen.choose(0L, 9L),
    1 -> Gen.choose(Long.MinValue, Long.MinValue + 2),
    1 -> Gen.choose(Long.MaxValue - 2, Long.MaxValue))

  /** Directed edges; a None source is the null id. */
  private type Edges = Seq[(Option[Long], Long)]

  private def edges(withNull: Gen[Boolean]): Gen[Edges] = for {
    n <- Gen.choose(1, 24)
    base <- Gen.listOfN(n, Gen.frequency(
      4 -> Gen.zip(id, id),
      2 -> id.map(v => (0L, v)), // hub 0
      1 -> id.map(v => (v, v)))) // self-loop
    dups <- Gen.someOf(base)
    reversed <- Gen.someOf(base).map(_.map(_.swap))
    nul <- withNull
    nullDst <- id
  } yield (base ++ dups ++ reversed).map { case (a, b) => (Option(a), b) } ++
    (if (nul) Seq((None, nullDst)) else Nil)

  private val anyEdges = edges(Gen.frequency(2 -> false, 1 -> true))

  /** src < dst, distinct, self-loops dropped; null edges kept as is. */
  private def canonical(es: Edges): Edges =
    es.collect { case (Some(a), b) if a != b =>
      (Option(math.min(a, b)), math.max(a, b)) }.distinct ++
      es.filter(_._1.isEmpty)

  private def outcome(df: => DataFrame): Either[String, Seq[Seq[Any]]] =
    try Right(df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")))
    catch { case e: Exception => Left(e.getClass.getName) }

  /** Kernel on ≡ bound 0, labelled on failure. */
  private def same(name: String)(df: => DataFrame) = {
    val on = outcome(df)
    val off = withKernelBound("0")(outcome(df))
    (on == off) :| s"$name: kernel $on, distributed $off"
  }

  private def longFrame(es: Edges): DataFrame = es.toDF("src", "dst")

  /** The edges as a string-id property graph, plus isolated vertices. */
  private def graph(es: Edges, isolated: Seq[Long]): GraphState = {
    val vs = (es.flatMap { case (a, b) => a.toSeq :+ b } ++ isolated)
      .distinct.map(v => (v.toString, "n"))
    val rows = es.zipWithIndex.map { case ((a, b), i) =>
      (s"e$i", a.map(_.toString).orNull, b.toString, "E") }
    GraphState(vs.toDF("id", "label"),
      rows.toDF("id", "src", "dst", "edge_type"))
  }

  property("canonical-edge kernels: kernel on ≡ bound 0") =
    forAll(anyEdges, Gen.choose(1, 3)) { (drawn, k) =>
      val es = longFrame(canonical(drawn))
      val seeds = (drawn.take(2).map(_._2) :+ 12345L).toDF("id")
      same("kCore")(GraphXBridge.kCore(es, k)) &&
        same("labelPropagation")(GraphXBridge.labelPropagation(es, 2)) &&
        same("pprInt")(GraphXBridge.personalizedPageRankInt(es, seeds, 3)) &&
        same("edgeTriangleSupport")(GraphXBridge.edgeTriangleSupport(es)) &&
        same("topLinkPredictions")(GraphXBridge.topLinkPredictions(es, 5))
    }

  property("any-edge kernels: kernel on ≡ bound 0") =
    forAll(anyEdges, Gen.listOf(id)) { (es, isolated) =>
      val weighted = es.map { case (a, b) =>
        (a, b, ((a.getOrElse(1L) ^ b) & 7L) / 4.0) }.toDF("src", "dst", "w")
      val sources = Seq(es.head._2, 12345L)
      same("weightedSssp")(GraphXBridge.weightedSssp(weighted, sources)) &&
        same("connectedComponents")(
          GraphXBridge.connectedComponents(graph(es, isolated))) &&
        same("StarCC")(StarCC.components(es.toDF("id1", "id2")))
    }

  property("path kernels: kernel on ≡ bound 0") =
    forAll(anyEdges, Gen.oneOf(false, true)) { (es, all) =>
      val g = graph(es, Nil)
      val ends = es.flatMap { case (a, b) => a.map(_.toString).toSeq :+
        b.toString }.distinct.take(4)
      val pairs = (for (a <- ends; b <- ends) yield (a, b)).toDF("s", "t")
      // the null id, when drawn, is also a source
      val srcs = (ends.map(Option(_)) ++
        es.find(_._1.isEmpty).map(_ => None)).toDF("id")
      val tgts = ends.reverse.toDF("id")
      same("shortestPathsPairs")(
          Traversals.shortestPathsPairs(g, pairs, 4, all = all)) &&
        same("shortestPathsFromTo")(Traversals.shortestPathsFromTo(
          g, srcs, tgts, 4, undirected = true, all = all))
    }

  property("bound = m engages a kernel, bound = m − 1 declines it") =
    forAll(edges(Gen.const(false))) { drawn =>
      val es = longFrame(canonical(drawn))
      val pairs = drawn.toDF("id1", "id2")
      def driverLeg(bound: Long)(df: => DataFrame): Boolean =
        withKernelBound(bound.toString)(
          df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      // kCore probes its edge rows; StarCC its canonical distinct pairs
      val m = es.count()
      val mStar = canonical(drawn).size.toLong
      val kCore = driverLeg(m)(GraphXBridge.kCore(es, 1)) &&
        !driverLeg(m - 1)(GraphXBridge.kCore(es, 1))
      val star = driverLeg(mStar)(StarCC.components(pairs)) &&
        !driverLeg(mStar - 1)(StarCC.components(pairs))
      (m == 0 || kCore) :| s"kCore at m=$m" &&
        (mStar == 0 || star) :| s"StarCC at m=$mStar"
    }
}
