package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.SparkSpec

/** Every [[GraphState]] mutation gives the same vertices and edges with
  * its delta pinned on the local leg (the default cap: a key-set filter
  * or lookup, no join), pinned on the checkpoint leg (cap 0: a join) and
  * unpinned, as the lazy rewrite each mutation used to build
  * ([[Unpinned]]), on random graphs: null ids, endpoints, edge types and
  * property values in the graph and in every delta, duplicate and
  * absent ids in every delta, empty deltas, and a DELETE of vertices
  * that still have edges. Label deltas reach [[Unpinned]] deduplicated:
  * the lazy form duplicated a vertex matched by several rows. */
class GraphStatePinPropertySpec extends SparkSpec {

  override lazy val spark: SparkSession = {
    val s = SparkSpec.session
    // map_from_entries over duplicate (id, key) rows, as Cypher sets it
    s.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    s
  }
  import spark.implicits._

  private type Props = Map[String, String]

  private val vid: Gen[String] = Gen.frequency(
    5 -> Gen.choose(0, 5).map(i => s"v$i"), 1 -> Gen.const("absent"),
    1 -> Gen.const(null: String))
  private val edgeType: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("R", "S"), 1 -> Gen.const(null: String))
  private val key: Gen[String] = Gen.oneOf("a", "b", "c")
  private val value: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("1", "2", "x"), 1 -> Gen.const(null: String))
  private val props: Gen[Props] =
    Gen.mapOf(Gen.zip(key, value)).map(_.toMap)
  private val label: Gen[String] = Gen.oneOf("A", "B", "A:B")

  /** A list that is empty about a quarter of the time. */
  private def rows[T](g: Gen[T]): Gen[List[T]] =
    Gen.frequency(1 -> Gen.const(Nil), 3 -> Gen.nonEmptyListOf(g))

  private def withDups[T](xs: List[T]): Gen[List[T]] =
    Gen.someOf(xs).map(xs ++ _)

  private case class Graph(
      vs: Seq[(String, String, Props)],
      es: Seq[(String, String, String, String, String, Props)]) {
    def state: GraphState = GraphState(
      vs.toDF("id", "label", "properties"),
      es.toDF("id", "src", "dst", "edge_type", "label", "properties"))
  }

  private val graph: Gen[Graph] = for {
    ids <- Gen.someOf((0 to 5).map(i => s"v$i") :+ (null: String))
    labels <- Gen.listOfN(ids.size, label)
    ps <- Gen.listOfN(ids.size, props)
    es <- Gen.listOf(Gen.zip(vid, vid, edgeType, props))
  } yield Graph(ids.lazyZip(labels).lazyZip(ps).toList,
    es.zipWithIndex.map { case ((s, d, t, p), i) =>
      (s"e$i", s, d, t, "", p) })

  private val eid: Gen[String] = Gen.frequency(
    5 -> Gen.choose(0, 8).map(i => s"e$i"), 1 -> Gen.const("absent"),
    1 -> Gen.const(null: String))

  /** Deltas for every mutation, drawn together per case. */
  private case class Deltas(
      newVs: List[(String, String, Props)],
      newEs: List[(String, String, String, String, String, Props)],
      ids: List[String],
      keys: List[(String, String, String)],
      vUpdates: List[(String, String, String)],
      eUpdates: List[(String, String, String)],
      vRepl: List[(String, Props)],
      eRepl: List[(String, Props)],
      kv: Props,
      key: String,
      label: String)

  private val deltas: Gen[Deltas] = for {
    newVs <- rows(Gen.zip(vid, label, props)).flatMap(withDups)
    newEs <- rows(Gen.zip(eid, vid, vid, edgeType, props))
      .flatMap(withDups)
    ids <- rows(vid).flatMap(withDups)
    keys <- rows(Gen.zip(vid, edgeType, vid)).flatMap(withDups)
    // one value per (id, key): a repeated (id, key) would let the
    // collect_list order pick the value; exact repeats are kept
    vUpdates <- rows(Gen.zip(vid, key, value)).flatMap(withDups)
      .map(distinctKeys)
    eUpdates <- rows(Gen.zip(eid, key, value)).flatMap(withDups)
      .map(distinctKeys)
    // likewise one map per id, repeated verbatim (dropDuplicates picks)
    vRepl <- rows(Gen.zip(vid, props)).map(onePerId).flatMap(withDups)
    eRepl <- rows(Gen.zip(eid, props)).map(onePerId).flatMap(withDups)
    kv <- props.map(_.filter(_._2 != null))
    k <- key
    l <- Gen.oneOf("A", "B", "C")
  } yield Deltas(newVs,
    newEs.map { case (i, s, d, t, p) => (i, s, d, t, "", p) },
    ids, keys, vUpdates, eUpdates, vRepl, eRepl, kv, k, l)

  private def distinctKeys(us: List[(String, String, String)]) = {
    val first = us.groupBy(u => (u._1, u._2)).map { case (k, v) =>
      k -> v.head._3 }
    us.map(u => (u._1, u._2, first((u._1, u._2))))
  }

  private def onePerId(rs: List[(String, Props)]) = {
    val first = rs.groupBy(_._1).map { case (k, v) => k -> v.head._2 }
    rs.map(r => (r._1, first(r._1)))
  }

  /** The lazy rewrites the mutations built before their deltas were
    * pinned: each reads the parent snapshot again through its delta. */
  private object Unpinned {
    def upsertVertices(g: GraphState, vs: DataFrame): GraphState =
      g.copy(vertices = vs.unionByName(
        g.vertices.join(vs.select("id"), Seq("id"), "left_anti")))

    def upsertEdges(g: GraphState, es: DataFrame): GraphState =
      g.copy(edges = es.unionByName(
        g.edges.join(es.select("src", "edge_type", "dst"),
          Seq("src", "edge_type", "dst"), "left_anti")))

    def insertEdgesChecked(g: GraphState, es: DataFrame): GraphState = {
      val ids = g.vertices.select(col("id"))
      upsertEdges(g, es
        .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .select(es.columns.map(col): _*))
    }

    def detachDeleteVertices(g: GraphState, v: DataFrame): GraphState =
      GraphState(g.vertices.join(v, Seq("id"), "left_anti"),
        g.edges
          .join(v.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
          .join(v.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti"))

    def deleteVertices(g: GraphState, v: DataFrame): Option[GraphState] =
      if (!g.edges.join(v.withColumnRenamed("id", "src"), Seq("src"),
            "left_semi")
          .unionByName(g.edges.join(v.withColumnRenamed("id", "dst"),
            Seq("dst"), "left_semi")).isEmpty) None
      else Some(GraphState(g.vertices.join(v, Seq("id"), "left_anti"),
        g.edges))

    def deleteEdges(g: GraphState, keys: DataFrame): GraphState =
      g.copy(edges = g.edges.join(keys, Seq("src", "edge_type", "dst"),
        "left_anti"))

    def setVertexProperties(g: GraphState, ids: DataFrame, kv: Props)
        : GraphState = {
      val litMap = map(kv.toSeq.flatMap { case (k, v) =>
        Seq(lit(k), lit(v)) }: _*)
      val updated = g.vertices.join(ids, Seq("id"), "left_semi")
        .withColumn("properties", map_concat(map_filter(col("properties"),
          (k, _) => !k.isin(kv.keys.toSeq.map(lit): _*)), litMap))
      g.copy(vertices = g.vertices.join(ids, Seq("id"), "left_anti")
        .unionByName(updated))
    }

    def removeVertexProperty(g: GraphState, ids: DataFrame, key: String)
        : GraphState = {
      val updated = g.vertices.join(ids, Seq("id"), "left_semi")
        .withColumn("properties",
          map_filter(col("properties"), (k, _) => k =!= key))
      g.copy(vertices = g.vertices.join(ids, Seq("id"), "left_anti")
        .unionByName(updated))
    }

    private def setRows(frame: DataFrame, updates: DataFrame) = {
      val merged = updates.groupBy(col("id")).agg(
        map_from_entries(collect_list(struct(col("key"), col("value"))))
          .as("__new"))
      frame.join(merged, Seq("id"), "left")
        .withColumn("properties", when(col("__new").isNotNull,
          map_concat(col("properties"), col("__new")))
          .otherwise(col("properties")))
        .drop("__new")
    }

    def setVertexPropertiesRows(g: GraphState, u: DataFrame): GraphState =
      g.copy(vertices = setRows(g.vertices, u))

    def setEdgePropertiesRows(g: GraphState, u: DataFrame): GraphState =
      g.copy(edges = setRows(g.edges, u))

    private def replace(frame: DataFrame, repl: DataFrame) =
      frame.join(repl.dropDuplicates("id"), Seq("id"), "left")
        .withColumn("properties", when(col("__new").isNotNull, col("__new"))
          .otherwise(col("properties")))
        .drop("__new")

    def replaceVertexProperties(g: GraphState, r: DataFrame): GraphState =
      g.copy(vertices = replace(g.vertices, r))

    def replaceEdgeProperties(g: GraphState, r: DataFrame): GraphState =
      g.copy(edges = replace(g.edges, r))

    def addVertexLabel(g: GraphState, ids: DataFrame, label: String)
        : GraphState = {
      val hits = ids.withColumn("__hit", lit(true))
      g.copy(vertices = g.vertices.join(hits, Seq("id"), "left")
        .withColumn("label", when(col("__hit").isNotNull &&
            !array_contains(split(col("label"), ":"), label),
          concat(col("label"), lit(":" + label))).otherwise(col("label")))
        .drop("__hit"))
    }

    def removeVertexLabel(g: GraphState, ids: DataFrame, label: String)
        : GraphState = {
      val hits = ids.withColumn("__hit", lit(true))
      g.copy(vertices = g.vertices.join(hits, Seq("id"), "left")
        .withColumn("label", when(col("__hit").isNotNull,
          array_join(array_remove(split(col("label"), ":"), label), ":"))
          .otherwise(col("label")))
        .drop("__hit"))
    }
  }

  /** Every mutation, as (name, pinned form, unpinned form). */
  private def mutations(gr: Graph, d: Deltas)
      : Seq[(String, GraphState => Option[GraphState],
        GraphState => Option[GraphState])] = {
    val newVs = d.newVs.toDF("id", "label", "properties")
    val newEs = d.newEs.toDF("id", "src", "dst", "edge_type", "label",
      "properties")
    val ids = d.ids.toDF("id")
    // endpoints of the graph's edges: DELETE without DETACH refuses
    val linked = gr.es.map(_._3).toDF("id")
    val uniqueIds = ids.distinct()
    val keys = d.keys.toDF("src", "edge_type", "dst")
    val vUpd = d.vUpdates.toDF("id", "key", "value")
    val eUpd = d.eUpdates.toDF("id", "key", "value")
    val vRepl = d.vRepl.toDF("id", "__new")
    val eRepl = d.eRepl.toDF("id", "__new")
    def both(name: String)(pinned: GraphState => GraphState)(
        unpinned: GraphState => GraphState) =
      (name, (g: GraphState) => Some(pinned(g)),
        (g: GraphState) => Some(unpinned(g)))
    Seq(
      both("upsertVertices")(_.upsertVertices(newVs))(
        Unpinned.upsertVertices(_, newVs)),
      both("upsertEdges")(_.upsertEdges(newEs))(
        Unpinned.upsertEdges(_, newEs)),
      both("insertEdgesChecked")(_.insertEdgesChecked(newEs))(
        Unpinned.insertEdgesChecked(_, newEs)),
      both("detachDeleteVertices")(_.detachDeleteVertices(ids))(
        Unpinned.detachDeleteVertices(_, ids)),
      ("deleteVertices", _.deleteVertices(ids),
        Unpinned.deleteVertices(_, ids)),
      ("deleteVertices of linked ids", _.deleteVertices(linked),
        Unpinned.deleteVertices(_, linked)),
      both("deleteEdges")(_.deleteEdges(keys))(
        Unpinned.deleteEdges(_, keys)),
      both("setVertexProperties")(_.setVertexProperties(ids, d.kv))(
        Unpinned.setVertexProperties(_, ids, d.kv)),
      both("removeVertexProperty")(_.removeVertexProperty(ids, d.key))(
        Unpinned.removeVertexProperty(_, ids, d.key)),
      both("setVertexPropertiesRows")(_.setVertexPropertiesRows(vUpd))(
        Unpinned.setVertexPropertiesRows(_, vUpd)),
      both("setEdgePropertiesRows")(_.setEdgePropertiesRows(eUpd))(
        Unpinned.setEdgePropertiesRows(_, eUpd)),
      both("replaceVertexProperties")(_.replaceVertexProperties(vRepl))(
        Unpinned.replaceVertexProperties(_, vRepl)),
      both("replaceEdgeProperties")(_.replaceEdgeProperties(eRepl))(
        Unpinned.replaceEdgeProperties(_, eRepl)),
      both("addVertexLabel")(_.addVertexLabel(ids, d.label))(
        Unpinned.addVertexLabel(_, uniqueIds, d.label)),
      both("removeVertexLabel")(_.removeVertexLabel(ids, "A"))(
        Unpinned.removeVertexLabel(_, uniqueIds, "A")))
  }

  /** Sorted rows, columns by name, with each property map as sorted
    * (key, value) pairs. A join puts its keys first, so the unpinned
    * forms reorder columns; the pinned legs keep the parent's order
    * (see `schemas`). */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.withColumn("properties", sort_array(map_entries(col("properties"))))
      .select(df.columns.sorted.map(col): _*)
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def attempt[A](a: => A): Either[String, A] =
    try Right(a) catch { case e: Exception => Left(e.getClass.getName) }

  private def contents(st: Either[String, Option[GraphState]]) =
    st.flatMap(o =>
      attempt(o.map(g => (rowsOf(g.vertices), rowsOf(g.edges)))))

  /** Whether any checkpointed delta backs `st` (the fixtures are local
    * relations, so every LogicalRDD leaf is a pinned delta). */
  private def checkpointed(st: Option[GraphState]): Boolean =
    st.exists(g => Seq(g.vertices, g.edges).exists(
      _.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l }
        .isDefined))

  /** Whether `st`'s snapshot plans any join. */
  private def joined(st: Option[GraphState]): Boolean =
    st.exists(g => Seq(g.vertices, g.edges).exists(
      _.queryExecution.analyzed.collectFirst { case j: Join => j }
        .isDefined))

  property(
      "GraphState.pin.local leg ≡ checkpoint leg ≡ unpinned, every mutation",
      4) {
    forAll(graph, deltas) { (gr, d) =>
      val g = gr.state
      mutations(gr, d).map { case (name, pinned, unpinned) =>
        val local = attempt(pinned(g))
        val viaCheckpoint =
          attempt(GraphState.pinCap.withValue(0)(pinned(g)))
        val legs = local.forall(st => !checkpointed(st) && !joined(st)) &&
          viaCheckpoint.forall(st => st.isEmpty || checkpointed(st))
        val schemas = Seq(local, viaCheckpoint).forall(_.forall(_.forall(
          st => st.vertices.columns.toSeq == g.vertices.columns.toSeq &&
            st.edges.columns.toSeq == g.edges.columns.toSeq)))
        val (l, c, u) = (contents(local), contents(viaCheckpoint),
          contents(attempt(unpinned(g))))
        (l == u && c == u && legs && schemas) :|
          s"$name: local $l, checkpoint $c, unpinned $u, legs $legs, " +
            s"schemas $schemas"
      }.reduce(_ && _)
    }
  }
}
