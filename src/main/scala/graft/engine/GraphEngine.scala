package graft.engine

import scala.util.DynamicVariable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.{shims, KeyLookup, KeyTable}
import org.apache.spark.sql.functions._

import graft.ir._

/** Immutable graph snapshot: a vertices DataFrame and an edges DataFrame
  * (schemas: graft.model.GraphSchemas). Mutations are pure
  * `GraphState => GraphState` transformations (SURVEY.md §7.5.2) — the
  * Spark analogue of the reference's storage-engine CRUD
  * (reference: lib/src/storage_engine/storage_engine.rs:1248-1258).
  *
  * A mutation is applied once, when it is called: its delta (the new
  * rows, the victim ids or keys, or the per-id property map) is
  * evaluated by [[GraphState.pin]], and the new snapshot is the parent
  * plus one layer over that pinned delta. A delta small enough to sit
  * on the driver makes the layer an expression over the parent: a
  * key-set filter for inserts and deletes, a literal `id → __delta`
  * lookup for rewrites, nothing at all when the delta is empty. A
  * larger delta is joined (anti-join or left join). Each snapshot
  * therefore references its parent exactly once, and a read after N
  * writes runs the base scan once plus N small layers instead of
  * replaying the write history.
  *
  * Scale notes: at 100 TB, `vertices` and `edges` are partitioned Parquet;
  * every operator below is a narrow filter or an equi-join on the
  * partitioning keys (`id`, `src`, `dst`), so Catalyst gets pushdown +
  * pruned scans and AQE picks broadcast vs shuffle joins by actual sizes.
  */
final case class GraphState(vertices: DataFrame, edges: DataFrame) {
  import GraphState.{Pinned, pin}

  private val edgeKey = Seq("src", "edge_type", "dst")

  @volatile private var rowsKnown: Option[Long] = None

  /** Rows of `vertices` plus `edges` known without a job
    * ([[shims.knownRows]]), the signal of [[CompileGate]]; kept once
    * known, asked again while a cache is not yet materialized. */
  private[graft] def knownRows: Option[Long] = rowsKnown.orElse {
    rowsKnown = for (v <- shims.knownRows(vertices);
      e <- shims.knownRows(edges)) yield v + e
    rowsKnown
  }

  // ---------- mutations (snapshot-in / snapshot-out) ----------

  /** Append vertices; last-write-wins on id (reference create_vertex
    * returns false on duplicate — we keep newest, deterministic). */
  def upsertVertices(vs: DataFrame): GraphState =
    copy(vertices = pin("upsertVertices", vs, Seq("id")).upsert(vertices))

  def upsertEdges(es: DataFrame): GraphState =
    copy(edges = pin("upsertEdges", es, edgeKey).upsert(edges))

  /** Edge insert validated against both endpoint vertices
    * (reference: rdb/datastore.rs:272-281) — left-semi joins, which put
    * their key first, so `es`'s column order is restored. */
  def insertEdgesChecked(es: DataFrame): GraphState = {
    val ids = vertices.select(col("id"))
    val valid = es
      .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
    upsertEdges(valid.select(es.columns.map(col): _*))
  }

  /** DETACH DELETE: remove matched vertices and all incident edges
    * (reference cascading delete, rdb/managers.rs:119-160). */
  def detachDeleteVertices(victimIds: DataFrame): GraphState = {
    val v = pin("detachDeleteVertices", firstAsId(victimIds), Seq("id"))
    GraphState(v.anti(vertices, Seq("id")),
      v.anti(v.anti(edges, Seq("src")), Seq("dst")))
  }

  /** DELETE without DETACH: removes the matched vertices, or None when
    * one of them still has an incident edge (Cypher refuses: dangling
    * edges would corrupt the graph). */
  def deleteVertices(victimIds: DataFrame): Option[GraphState] = {
    val v = pin("deleteVertices", firstAsId(victimIds), Seq("id"))
    if (!v.noKeys && !CompileGate.interpreted(incidentEdges(v)).isEmpty) None
    else Some(copy(vertices = v.anti(vertices, Seq("id"))))
  }

  /** Edges incident to any vertex of the pinned ids `v`: one key-set
    * filter on the local leg; on the checkpoint leg two equi-semi-joins
    * (src, dst) unioned instead of one OR-condition join, which could
    * only plan as a BroadcastNestedLoopJoin — O(|edges|×|victims|). */
  private[graft] def incidentEdges(v: Pinned): DataFrame =
    if (v.table.isDefined)
      edges.filter(v.lookup(Seq("src")).isNotNull ||
        v.lookup(Seq("dst")).isNotNull)
    else v.semi(edges, Seq("src")).unionByName(v.semi(edges, Seq("dst")))

  def deleteEdges(victims: DataFrame): GraphState = {
    val v = pin("deleteEdges", victims.select(edgeKey.map(col): _*), edgeKey)
    copy(edges = v.anti(edges, edgeKey))
  }

  /** SET properties on matched vertices: map_concat rewrite
    * (reference: rdb/datastore.rs:342-362). */
  def setVertexProperties(matchIds: DataFrame, kv: Map[String, String])
      : GraphState = {
    val lit_map = map(kv.toSeq.flatMap { case (k, v) =>
      Seq(lit(k), lit(v)) }: _*)
    copy(vertices = rewrite(vertices, "setVertexProperties",
      hits(matchIds), "properties")((props, _) => map_concat(
        map_filter(props, (k, _) => !k.isin(kv.keys.toSeq.map(lit): _*)),
        lit_map)))
  }

  /** REMOVE a property key (Cypher REMOVE, QE:140-143). */
  def removeVertexProperty(matchIds: DataFrame, key: String): GraphState =
    copy(vertices = rewrite(vertices, "removeVertexProperty",
      hits(matchIds), "properties")((props, _) =>
        map_filter(props, (k, _) => k =!= key)))

  /** Per-row property upsert: `updates` is (id, key, value) — one row per
    * assignment, values may differ per entity (Cypher `SET n.x = expr`).
    * Requires spark.sql.mapKeyDedupPolicy=LAST_WIN so map_concat
    * overwrites existing keys. */
  def setVertexPropertiesRows(updates: DataFrame): GraphState =
    copy(vertices = rewrite(vertices, "setVertexPropertiesRows",
      merged(updates), "properties")(map_concat(_, _)))

  /** REPLACE the whole property map of matched vertices (Cypher
    * `SET n = {map}`). `repl` rows: (id, __new MAP<STRING,STRING>);
    * unmatched vertices keep theirs. */
  def replaceVertexProperties(repl: DataFrame): GraphState =
    copy(vertices = rewrite(vertices, "replaceVertexProperties",
      replacements(repl), "properties")((_, m) => m))

  /** REPLACE the whole property map of matched edges (`SET r = {map}`). */
  def replaceEdgeProperties(repl: DataFrame): GraphState =
    copy(edges = rewrite(edges, "replaceEdgeProperties",
      replacements(repl), "properties")((_, m) => m))

  /** Per-row edge property upsert by edge id. */
  def setEdgePropertiesRows(updates: DataFrame): GraphState =
    copy(edges = rewrite(edges, "setEdgePropertiesRows",
      merged(updates), "properties")(map_concat(_, _)))

  /** Add a label to matched vertices (Cypher `SET n:Label`, QE:135-138);
    * labels are ':'-joined in the label column (cypher_parser.rs:167-189).
    */
  def addVertexLabel(matchIds: DataFrame, label: String): GraphState =
    copy(vertices = rewrite(vertices, "addVertexLabel", hits(matchIds),
      "label")((l, _) => when(!array_contains(split(l, ":"), label),
        concat(l, lit(":" + label))).otherwise(l)))

  def removeVertexLabel(matchIds: DataFrame, label: String): GraphState =
    copy(vertices = rewrite(vertices, "removeVertexLabel", hits(matchIds),
      "label")((l, _) => array_join(array_remove(split(l, ":"), label), ":")))

  // ---------- deltas ----------

  private def firstAsId(ids: DataFrame): DataFrame =
    ids.select(col(ids.columns.head).as("id"))

  /** Distinct matched ids, each with a `__delta` marker: a left join
    * against it must not multiply a vertex matched by several rows. */
  private def hits(matchIds: DataFrame): DataFrame =
    firstAsId(matchIds).distinct().withColumn("__delta", lit(true))

  /** (id, key, value) assignments folded to one (id, __delta) map per id. */
  private def merged(updates: DataFrame): DataFrame =
    updates.groupBy(col("id")).agg(
      map_from_entries(collect_list(struct(col("key"), col("value"))))
        .as("__delta"))

  private def replacements(repl: DataFrame): DataFrame =
    repl.dropDuplicates("id").select(col("id"), col("__new").as("__delta"))

  /** `frame` with `column` rewritten to `f(column, __delta)` on the rows
    * whose id is in the pinned `delta` (id, __delta): a literal lookup
    * on the local leg, one left join on the checkpoint leg, the parent
    * read once either way. A null `__delta` keeps the row as it was. */
  private def rewrite(frame: DataFrame, mutation: String, delta: DataFrame,
      column: String)(f: (Column, Column) => Column): DataFrame = {
    val d = pin(mutation, delta, Seq("id"), Some("__delta"))
    def rewritten(base: DataFrame, value: Column) = base.withColumn(column,
      when(value.isNotNull, f(col(column), value)).otherwise(col(column)))
    if (d.noKeys) frame
    else if (d.table.isDefined) rewritten(frame, d.lookup(Seq("id")))
    else rewritten(frame.join(d.frame, Seq("id"), "left"), col("__delta"))
      .drop("__delta")
  }

  /** Edge reversal (reference: models/src/edges.rs:74-83). */
  def reversedEdges: DataFrame = edges.select(
    col("id"), col("dst").as("src"), col("src").as("dst"),
    col("edge_type"), col("label"), col("properties"))
}

object GraphState {

  /** Rows up to which a delta is collected to the driver and planned as
    * a LocalRelation plus a key table; a larger delta is
    * local-checkpointed instead. A constant, not a conf key: an
    * interactive write's delta is a handful of rows. The key table
    * rides in every task binary of every later read, so the cap bounds
    * it: at 10,000 keys a layer reads as fast as the checkpoint leg's
    * join, at 100,000 the task binary grew to 2.3 MiB (key set) and
    * 10 MiB (property map) and reads ran slower than the join. */
  private[engine] val PinMaxRows = 10000

  /** The cap [[pin]] applies; tests bind 0 to force the checkpoint leg. */
  private[graft] val pinCap = new DynamicVariable[Int](PinMaxRows)

  /** A delta pinned by [[pin]]: `frame` reads its rows, `keys` are its
    * key columns, and `table` holds its key tuples on the local leg
    * (None on the checkpoint leg, or when it was pinned without keys).
    * The layers below equal their join forms exactly: a null key never
    * matches, and a composite key matches only when every part does. */
  private[graft] final case class Pinned(frame: DataFrame, rows: Long,
      keys: Seq[String], table: Option[KeyTable]) {

    /** Pinned on the local leg with no non-null key: matches nothing. */
    def noKeys: Boolean = table.exists(_.isEmpty)

    /** The local table's entry for the key tuple `cols` of a row. */
    def lookup(cols: Seq[String]): Column =
      shims.column(KeyLookup(cols.map(c => shims.expression(col(c))),
        table.get))

    /** `parent` without its rows whose `cols` equal a key of this delta:
      * a key-set filter, `parent` itself when there is no key, a left
      * anti join on the checkpoint leg. */
    def anti(parent: DataFrame, cols: Seq[String]): DataFrame =
      if (noKeys) parent
      else if (table.isDefined) parent.filter(lookup(cols).isNull)
      else joined(parent, cols, "left_anti")

    /** `parent`'s rows whose `cols` equal a key of this checkpointed
      * delta: a left semi join. */
    def semi(parent: DataFrame, cols: Seq[String]): DataFrame =
      joined(parent, cols, "left_semi")

    /** An existence join, in `parent`'s column order (a join on `cols`
      * puts them first). */
    private def joined(parent: DataFrame, cols: Seq[String], how: String) =
      parent.join(frame.select(keys.zip(cols).map { case (k, c) =>
        col(k).as(c) }: _*), cols, how).select(parent.columns.map(col): _*)

    /** This delta's rows over `parent` without their keys, in
      * `parent`'s column order; `parent` itself when the local delta
      * has no row. */
    def upsert(parent: DataFrame): DataFrame =
      if (table.isDefined && rows == 0) parent
      else frame.select(parent.columns.map(col): _*)
        .unionByName(anti(parent, keys))
  }

  /** Evaluates a mutation's `delta` once, at write time, and returns it
    * pinned, reading the result instead of the delta's lineage:
    *  - up to [[PinMaxRows]] rows: collected (one `limit(cap + 1)`
    *    probe) into a LocalRelation, and its `keys` tuples (→ the
    *    `value` column, if given) into a driver-side table, so the
    *    layer over the parent is a filter or a literal lookup, never a
    *    join (no broadcast to build on every read);
    *  - more rows: one `localCheckpoint`, which keeps bulk writes
    *    distributed, joined by the layer. The probe stops at cap + 1
    *    rows; the checkpoint evaluates the delta again, so a
    *    nondeterministic delta (uuid() ids) is fixed by the checkpoint,
    *    not by the probe.
    * A delta that fails at runtime therefore fails the write, not a
    * later read. Inside a Cypher statement the probe and the checkpoint
    * run on the statement's [[CompileGate]] choice; the pinned frame
    * stays bound to `delta`'s session. One `spark.graft.debug` line per
    * call, naming the leg and the layer's form: `filter` or `lookup`
    * with its key count on the local leg, `join` on the checkpoint leg,
    * `rows` for a delta pinned without keys. */
  private[graft] def pin(mutation: String, delta: DataFrame,
      keys: Seq[String] = Nil, value: Option[String] = None): Pinned = {
    val spark = delta.sparkSession
    val cap = pinCap.value
    // raw rows: no external-Row conversion
    val head =
      if (cap > 0) shims.action(CompileGate.interpreted(
        delta.limit(cap + 1)), "pin")(_.executeCollect())
      else Array.empty[InternalRow]
    val local = cap > 0 && head.length <= cap
    val out =
      if (local)
        Pinned(shims.localRelation(delta, head.toSeq), head.length, keys,
          if (keys.isEmpty) None
          else Some(KeyTable(delta.schema, head.toSeq, keys, value)))
      else {
        val cp = CompileGate.checkpoint(delta, eager = false)
        Pinned(cp, shims.action(CompileGate.interpreted(cp), "pin")(
          _.execute().count()), keys, None)
      }
    val form = out.table.fold(if (keys.isEmpty) "rows" else "join")(t =>
      s"${if (value.isEmpty) "filter" else "lookup"} keys=${t.size}")
    graft.util.Dbg(spark,
      s"[delta] $mutation rows=${out.rows} cap=$cap " +
        s"leg=${if (local) "local" else "checkpoint"} form=$form")
    out
  }

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
      // isin stays a pushed-down point filter.
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
