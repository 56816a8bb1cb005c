package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
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
  * edges (plus the null edge); the others get the edges as drawn.
  * String ids and edge ids mix in characters on which Java's UTF-16
  * `String` order and Spark's UTF-8 byte order disagree ([[name]]). */
class KernelGatePropertySpec extends SparkSpec {

  private implicit def session: SparkSession = spark
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

  /** `v` as a string id: those ≡ 1 (mod 3) lead with a supplementary-
    * plane character, those ≡ 2 with a high-BMP one. Java orders the
    * first below the second (UTF-16 surrogates), Spark above (UTF-8
    * bytes). */
  private def name(v: Long): String = Math.floorMod(v, 3L) match {
    case 0 => v.toString
    case 1 => s"😀$v"
    case _ => s"ｚ$v"
  }

  /** The edges as a string-id property graph, plus isolated vertices;
    * edge i's id is [[name]](i)-marked, so parallel edges tie-break
    * differently under the two string orders. */
  private def graph(es: Edges, isolated: Seq[Long]): GraphState = {
    val vs = (es.flatMap { case (a, b) => a.toSeq :+ b } ++ isolated)
      .distinct.map(v => (name(v), "n"))
    val rows = es.zipWithIndex.map { case ((a, b), i) =>
      (name(i) + "e", a.map(name).orNull, name(b), "E") }
    GraphState(vs.toDF("id", "label"),
      rows.toDF("id", "src", "dst", "edge_type"))
  }

  // each case runs every operator on both legs: a few cases cover the
  // generators' shapes without dominating the suite
  property("KernelGate.canonical-edge kernels: kernel on ≡ bound 0", 4) {
    forAll(anyEdges, Gen.choose(1, 3)) { (drawn, k) =>
      val es = longFrame(canonical(drawn))
      val seeds = (drawn.take(2).map(_._2) :+ 12345L).toDF("id")
      same("kCore")(GraphXBridge.kCore(es, k)) &&
        same("labelPropagation")(GraphXBridge.labelPropagation(es, 2)) &&
        same("pprInt")(GraphXBridge.personalizedPageRankInt(es, seeds, 3)) &&
        same("edgeTriangleSupport")(GraphXBridge.edgeTriangleSupport(es)) &&
        same("topLinkPredictions")(GraphXBridge.topLinkPredictions(es, 5))
    }
  }

  property("KernelGate.any-edge kernels: kernel on ≡ bound 0", 4) {
    forAll(anyEdges, Gen.listOf(id)) { (es, isolated) =>
      val weighted = es.map { case (a, b) =>
        (a, b, ((a.getOrElse(1L) ^ b) & 7L) / 4.0) }.toDF("src", "dst", "w")
      val sources = Seq(es.head._2, 12345L)
      same("weightedSssp")(GraphXBridge.weightedSssp(weighted, sources)) &&
        same("connectedComponents")(
          GraphXBridge.connectedComponents(graph(es, isolated))) &&
        same("StarCC")(StarCC.components(es.toDF("id1", "id2")))
    }
  }

  property("KernelGate.path kernels: kernel on ≡ bound 0", 4) {
    forAll(anyEdges, Gen.oneOf(false, true)) { (drawn, all) =>
      // three more copies of a non-loop edge: parallel edges whose ids
      // take all three marks; a diamond 102 → {😀100, ｚ101} → 105,
      // whose single shortest path runs through the pred that comes
      // first in Spark's order, ｚ101; and 105 ⇄ 103 drawn both ways
      // under two eids, which undirected hops see as parallel edges
      val diamond = Seq((102L, 100L), (102L, 101L), (100L, 105L),
        (101L, 105L), (105L, 103L), (103L, 105L))
        .map { case (a, b) => (Option(a), b) }
      val es = drawn ++ drawn.find { case (a, b) => a.exists(_ != b) }
        .toSeq.flatMap(Seq.fill(3)(_)) ++ diamond
      val g = graph(es, Nil)
      val ends = Seq(name(102L), name(105L), name(103L)) ++ drawn.flatMap {
        case (a, b) => a.map(name).toSeq :+ name(b) }.distinct.take(4)
      val pairs = (for (a <- ends; b <- ends) yield (a, b)).toDF("s", "t")
      // the null id, when drawn, is also a source
      val srcs = (ends.map(Option(_)) ++
        es.find(_._1.isEmpty).map(_ => None)).toDF("id")
      val tgts = ends.reverse.toDF("id")
      // both kernels in both directions, the drawn mode for pairs and
      // the other for from-to
      Seq(false, true).map { undirected =>
        same(s"shortestPathsPairs undirected=$undirected")(
            Traversals.shortestPathsPairs(g, pairs, 4,
              undirected = undirected, all = all)) &&
          same(s"shortestPathsFromTo undirected=$undirected")(
            Traversals.shortestPathsFromTo(g, srcs, tgts, 4,
              undirected = undirected, all = !all))
      }.reduce(_ && _)
    }
  }

  property(
      "KernelGate.dictionary ids: Spark's distinct ids in Spark's order", 4) {
    forAll(anyEdges) { drawn =>
      val es = drawn.collect { case (Some(a), b) => (a, b) } :+
        ((Long.MinValue, Long.MaxValue))
      def inOrder[I](df: DataFrame)(implicit key: KernelGate.VertexKey[I]) = {
        val ids = KernelGate("dictionary", spark)(
          _.edges[I](df, "src", "dst", cache = false)).get.ids
        val want = df.select(col("src").as("v"))
          .union(df.select(col("dst").as("v")))
          .distinct().orderBy("v").collect().map(_.get(0))
        (ids.map(_.toString).toSeq == want.map(_.toString).toSeq) :|
          s"dictionary ${ids.mkString(",")}, Spark ${want.mkString(",")}"
      }
      inOrder[Long](es.toDF("src", "dst")) && inOrder[UTF8String](
        es.map { case (a, b) => (name(a), name(b)) }.toDF("src", "dst"))
    }
  }

  property(
      "KernelGate.bound = m engages a kernel, bound = m − 1 declines it", 4) {
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
}
