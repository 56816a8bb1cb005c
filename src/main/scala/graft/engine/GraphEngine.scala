package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ir._

/** Immutable graph snapshot: a vertices DataFrame and an edges DataFrame
  * (schemas: graft.model.GraphSchemas). Mutations are pure
  * `GraphState => GraphState` transformations (SURVEY.md §7.5.2) — the
  * Spark analogue of the reference's storage-engine CRUD
  * (reference: lib/src/storage_engine/storage_engine.rs:1248-1258).
  *
  * Scale notes: at 100 TB, `vertices` and `edges` are partitioned Parquet;
  * every operator below is a narrow filter or an equi-join on the
  * partitioning keys (`id`, `src`, `dst`), so Catalyst gets pushdown +
  * pruned scans and AQE picks broadcast vs shuffle joins by actual sizes.
  */
final case class GraphState(vertices: DataFrame, edges: DataFrame) {

  // ---------- mutations (snapshot-in / snapshot-out) ----------

  /** Append vertices; last-write-wins on id (reference create_vertex
    * returns false on duplicate — we keep newest, deterministic). */
  def upsertVertices(vs: DataFrame): GraphState =
    copy(vertices = vs.unionByName(
      vertices.join(vs.select("id"), Seq("id"), "left_anti")))

  def upsertEdges(es: DataFrame): GraphState =
    copy(edges = es.unionByName(
      edges.join(es.select("src", "edge_type", "dst"),
        Seq("src", "edge_type", "dst"), "left_anti")))

  /** Edge insert validated against both endpoint vertices
    * (reference: rdb/datastore.rs:272-281) — left-semi joins. */
  def insertEdgesChecked(es: DataFrame): GraphState = {
    val ids = vertices.select(col("id"))
    val valid = es
      .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
    upsertEdges(valid)
  }

  /** DETACH DELETE: remove matched vertices and all incident edges
    * (reference cascading delete, rdb/managers.rs:119-160) — anti-joins. */
  def detachDeleteVertices(victimIds: DataFrame): GraphState = {
    val v = victimIds.select(col(victimIds.columns.head).as("id"))
    GraphState(
      vertices.join(v, Seq("id"), "left_anti"),
      edges
        .join(v.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
        .join(v.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti"))
  }

  def deleteEdges(victims: DataFrame): GraphState =
    copy(edges = edges.join(
      victims.select("src", "edge_type", "dst"),
      Seq("src", "edge_type", "dst"), "left_anti"))

  /** SET properties on matched vertices: map_concat rewrite
    * (reference: rdb/datastore.rs:342-362). */
  def setVertexProperties(matchIds: DataFrame, kv: Map[String, String])
      : GraphState = {
    val lit_map = map(kv.toSeq.flatMap { case (k, v) =>
      Seq(lit(k), lit(v)) }: _*)
    val ids = matchIds.select(col(matchIds.columns.head).as("id"))
    val updated = vertices.join(ids, Seq("id"), "left_semi")
      .withColumn("properties", map_concat(
        map_filter(col("properties"), (k, _) => !k.isin(kv.keys.toSeq.map(lit): _*)),
        lit_map))
    val untouched = vertices.join(ids, Seq("id"), "left_anti")
    copy(vertices = untouched.unionByName(updated))
  }

  /** REMOVE a property key (Cypher REMOVE, QE:140-143). */
  def removeVertexProperty(matchIds: DataFrame, key: String): GraphState = {
    val ids = matchIds.select(col(matchIds.columns.head).as("id"))
    val updated = vertices.join(ids, Seq("id"), "left_semi")
      .withColumn("properties",
        map_filter(col("properties"), (k, _) => k =!= key))
    copy(vertices = vertices.join(ids, Seq("id"), "left_anti")
      .unionByName(updated))
  }

  /** Per-row property upsert: `updates` is (id, key, value) — one row per
    * assignment, values may differ per entity (Cypher `SET n.x = expr`).
    * Requires spark.sql.mapKeyDedupPolicy=LAST_WIN so map_concat
    * overwrites existing keys. */
  def setVertexPropertiesRows(updates: DataFrame): GraphState = {
    val merged = updates.groupBy(col("id")).agg(
      map_from_entries(collect_list(struct(col("key"), col("value"))))
        .as("__new"))
    copy(vertices = vertices.join(merged, Seq("id"), "left")
      .withColumn("properties",
        when(col("__new").isNotNull,
          map_concat(col("properties"), col("__new")))
          .otherwise(col("properties")))
      .drop("__new"))
  }

  /** REPLACE the whole property map of matched vertices (Cypher
    * `SET n = {map}`). `repl` rows: (id, __new MAP<STRING,STRING>) —
    * one shuffle-free(able) left join; unmatched vertices keep theirs. */
  def replaceVertexProperties(repl: DataFrame): GraphState =
    copy(vertices = vertices
      .join(repl.dropDuplicates("id"), Seq("id"), "left")
      .withColumn("properties",
        when(col("__new").isNotNull, col("__new"))
          .otherwise(col("properties")))
      .drop("__new"))

  /** REPLACE the whole property map of matched edges (`SET r = {map}`). */
  def replaceEdgeProperties(repl: DataFrame): GraphState =
    copy(edges = edges
      .join(repl.dropDuplicates("id"), Seq("id"), "left")
      .withColumn("properties",
        when(col("__new").isNotNull, col("__new"))
          .otherwise(col("properties")))
      .drop("__new"))

  /** Per-row edge property upsert by edge id. */
  def setEdgePropertiesRows(updates: DataFrame): GraphState = {
    val merged = updates.groupBy(col("id")).agg(
      map_from_entries(collect_list(struct(col("key"), col("value"))))
        .as("__new"))
    copy(edges = edges.join(merged, Seq("id"), "left")
      .withColumn("properties",
        when(col("__new").isNotNull,
          map_concat(col("properties"), col("__new")))
          .otherwise(col("properties")))
      .drop("__new"))
  }

  /** Add a label to matched vertices (Cypher `SET n:Label`, QE:135-138);
    * labels are ':'-joined in the label column (cypher_parser.rs:167-189).
    */
  def addVertexLabel(matchIds: DataFrame, label: String): GraphState = {
    val ids = matchIds.select(col(matchIds.columns.head).as("id"))
      .withColumn("__hit", lit(true))
    copy(vertices = vertices.join(ids, Seq("id"), "left")
      .withColumn("label",
        when(col("__hit").isNotNull &&
            !array_contains(split(col("label"), ":"), label),
          concat(col("label"), lit(":" + label)))
          .otherwise(col("label")))
      .drop("__hit"))
  }

  def removeVertexLabel(matchIds: DataFrame, label: String): GraphState = {
    val ids = matchIds.select(col(matchIds.columns.head).as("id"))
      .withColumn("__hit", lit(true))
    copy(vertices = vertices.join(ids, Seq("id"), "left")
      .withColumn("label",
        when(col("__hit").isNotNull,
          array_join(array_remove(split(col("label"), ":"), label), ":"))
          .otherwise(col("label")))
      .drop("__hit"))
  }

  /** Edge reversal (reference: models/src/edges.rs:74-83). */
  def reversedEdges: DataFrame = edges.select(
    col("id"), col("dst").as("src"), col("src").as("dst"),
    col("edge_type"), col("label"), col("properties"))
}

/** Compiles the indradb-mirror IR (graft.ir.GraphQuery) to DataFrame plans.
  *
  * The reference executes these queries as iterator pipelines over RocksDB
  * prefix scans (rdb/datastore.rs:62-194); here each pipe hop is an
  * equi-join that Catalyst plans (broadcast for small frontiers via AQE,
  * sort-merge for large). Chained pipes become chained joins
  * (SURVEY.md §2.A "Joins / traversals").
  */
final class QueryCompiler(g: GraphState) {

  private def propEl(name: String): Column =
    element_at(col("properties"), name)

  /** Compile to the *final* output DataFrame (ignores Include
    * intermediates; use `compileAll` for the multi-output shape). */
  def compile(q: GraphQuery): DataFrame = compileAll(q).last

  /** Compile to all outputs in order — every `Include` in the chain emits
    * its inner result as an additional output, ahead of the final one
    * (reference: queries.rs:637-654; output count mirrors
    * `GraphQuery.outputLen`, queries.rs:125-147 — including Includes
    * nested under later pipe stages, e.g. `a.include.outbound()` yields
    * [a, a.outbound()]). Count does NOT swallow nested Includes: the
    * reference's runtime emits them too (include_query.rs:7-31 asserts
    * 3 outputs for include().outbound().include().count(); its
    * output_len `Count(_) => 1` is only a Vec-capacity hint — see the
    * outputLen Scaladoc). Gate g13_count_over_include pins this. */
  def compileAll(q: GraphQuery): Seq[DataFrame] = {
    def includes(n: GraphQuery): Seq[DataFrame] = n match {
      case i: Include                  => includes(i.inner) :+ compileOne(i.inner)
      case p: Pipe                     => includes(p.inner)
      case p: PipeProperty             => includes(p.inner)
      case p: PipeWithPropertyPresence => includes(p.inner)
      case p: PipeWithPropertyValue    => includes(p.inner)
      case c: Count                    => includes(c.inner)
      case _                           => Nil
    }
    val outs = includes(q) :+ compileOne(q)
    // fail fast if this recursion ever diverges from outputLen's
    // (GraphQuery.scala) — the two enumerate the same Include set
    require(outs.length == q.outputLen,
      s"compileAll produced ${outs.length} outputs but outputLen " +
        s"promises ${q.outputLen} for $q")
    outs
  }

  private def compileOne(q: GraphQuery): DataFrame = q match {
    case AllVertex => g.vertices

    case RangeVertex(start, t, limit) =>
      // UUID-ordered range scan (queries.rs:267-332): lowercase string
      // ordering of canonical UUIDs == byte ordering (SURVEY §7.5.4).
      var df = g.vertices
      start.foreach(s => df = df.filter(col("id") > s))
      t.foreach(l => df = df.filter(col("label") === l))
      df = df.orderBy("id")
      limit.foreach(n => df = df.limit(n))
      df

    case SpecificVertex(ids) =>
      // Small id lists: isin stays a pushed-down point filter. Large lists
      // should arrive as a DataFrame via SpecificVertexDf (broadcast semi).
      g.vertices.filter(col("id").isin(ids: _*))

    case VertexWithPropertyPresence(name) =>
      // No NotIndexed error: Spark's scan+pushdown replaces secondary
      // indexes (SURVEY §2.A); semantics preserved, access path free.
      g.vertices.filter(map_contains_key(col("properties"), name))

    case VertexWithPropertyValue(name, value) =>
      g.vertices.filter(propEl(name) === value)

    case AllEdge => g.edges

    case SpecificEdge(keys) =>
      val cond = keys.map { case (s, t, d) =>
        col("src") === s && col("edge_type") === t && col("dst") === d
      }.reduce(_ || _)
      g.edges.filter(cond)

    case EdgeWithPropertyPresence(name) =>
      g.edges.filter(map_contains_key(col("properties"), name))

    case EdgeWithPropertyValue(name, value) =>
      g.edges.filter(propEl(name) === value)

    case p: Pipe =>
      val inner = compileOne(p.inner)
      val out = p.inner.outputType match {
        case OutputType.Vertices =>
          // vertex frontier -> incident edges. Outbound follows src
          // (forward adjacency CF in the reference, rdb/datastore.rs:112-118),
          // inbound follows dst (reverse CF, :119-124).
          val key = p.direction match {
            case Direction.Outbound => "src"
            case Direction.Inbound  => "dst"
          }
          val frontier = inner.select(col("id").as(key)).distinct()
          g.edges.join(frontier, Seq(key), "left_semi")
        case OutputType.Edges =>
          // edge frontier -> endpoint vertices.
          val key = p.direction match {
            case Direction.Outbound => "dst"
            case Direction.Inbound  => "src"
          }
          val frontier = inner.select(col(key).as("id")).distinct()
          g.vertices.join(frontier, Seq("id"), "left_semi")
        case other =>
          throw new IllegalArgumentException(s"cannot pipe on $other")
      }
      val typed = (p.t, p.inner.outputType) match {
        case (Some(t), OutputType.Vertices) =>
          out.filter(col("edge_type") === t)
        case _ => out
      }
      p.limit.fold(typed)(n => typed.limit(n))

    case PipeProperty(inner, name) =>
      val df = compileOne(inner)
      name match {
        case Some(n) =>
          df.filter(map_contains_key(col("properties"), n))
            .select(col("id"), lit(n).as("name"), propEl(n).as("value"))
        case None =>
          // entity + all properties exploded to (id, name, value) rows —
          // the reference's VertexProperties output shape
          // (models/src/properties.rs:92-131).
          df.select(col("id"),
              explode_outer(col("properties")).as(Seq("name", "value")))
      }

    case PipeWithPropertyPresence(inner, name, present) =>
      val df = compileOne(inner)
      val has = map_contains_key(col("properties"), name)
      df.filter(if (present) has else !has)

    case PipeWithPropertyValue(inner, name, value, equal) =>
      val df = compileOne(inner)
      val eq = propEl(name) === value
      // != on an absent key keeps the row only when the key exists
      // (reference compares indexed values; absent != present-value).
      df.filter(if (equal) eq
        else map_contains_key(col("properties"), name) && !eq)

    case Count(inner) =>
      compileOne(inner).agg(count(lit(1)).as("count"))

    case i: Include => compileOne(i.inner)
  }
}

object QueryCompiler {
  def apply(g: GraphState): QueryCompiler = new QueryCompiler(g)
}

/** Point lookups by a (possibly huge) id DataFrame — broadcast/shuffle
  * semi-join chosen by AQE; the scalable sibling of SpecificVertex. */
object SpecificVertexDf {
  def apply(g: GraphState, ids: DataFrame): DataFrame =
    g.vertices.join(ids.select(col(ids.columns.head).as("id")),
      Seq("id"), "left_semi")
}
