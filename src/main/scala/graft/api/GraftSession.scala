package graft.api

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}


import graft.cypher.{Cypher, CypherResult, ParseException}
import graft.engine.GraphState
import graft.model.GraphSchemas

/** The user-facing session: a mutable handle over immutable GraphState
  * snapshots + the query router — the Spark analogue of the reference's
  * `Database` + `QueryExecEngine` pair (lib/src/database.rs:31-34,
  * query_exec_engine.rs:13-28), minus the daemon/ZMQ topology which
  * Spark's own runtime replaces (SURVEY.md §3).
  */
final class GraftSession(val spark: SparkSession, initial: GraphState) {
  implicit private val s: SparkSession = spark

  @volatile private var state: GraphState = initial

  def graph: GraphState = state

  /** Route and execute a query string: Cypher → our engine; SQL →
    * spark.sql (a strict superset of the reference's parse-only SQL,
    * sql_parser.rs:39-98). A small Cypher statement's frame is bound to
    * graft's interpreted twin of `spark` (`Cypher.execute`), as a
    * `foreachBatch` frame is bound to its stream's session: its
    * `sparkSession` is the twin, so a temp view made through the frame
    * lives in the twin. */
  def execute(query: String,
      params: Map[String, Any] = Map.empty): DataFrame =
    QueryRouter.classify(query) match {
      case QueryRouter.Cypher =>
        val CypherResult(df, st) = Cypher.execute(state, query, params)
        state = st
        df.getOrElse(spark.emptyDataFrame)
      case QueryRouter.Sql =>
        spark.sql(query)
      case QueryRouter.GraphQL =>
        // reference parity: GraphQL is RECOGNIZED first (query_parser.rs:
        // 33-51 tries the GraphQL grammar before Cypher/SQL) but its
        // execution is unimplemented there too — a clear error, not a
        // misclassification.
        throw new ParseException(
          "GraphQL query recognized, but GraphQL execution is not " +
            "supported (use Cypher or SQL)")
      case QueryRouter.Unknown =>
        throw new ParseException(
          s"cannot classify query language: ${query.take(80)}")
    }

  /** Streamed result consumption (the reference's gRPC
    * `Get(Query) returns (stream QueryOutputValue)` shape,
    * proto/graphdb.proto:351): rows arrive partition-by-partition
    * without materializing the full result on the driver. */
  def stream(query: String): Iterator[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    execute(query).toLocalIterator().asScala
  }

  /** Register the testdata tables as temp views so the SQL route works
    * against them by name (the reference's SQL surface is parse-only;
    * spark.sql over these views is a strict superset). */
  def registerTables(tables: graft.sources.Tables): Unit =
    Seq("region" -> tables.region, "nation" -> tables.nation,
      "customer" -> tables.customer, "supplier" -> tables.supplier,
      "part" -> tables.part, "orders" -> tables.orders,
      "lineitem" -> tables.lineitem, "events" -> tables.events,
      "documents" -> tables.documents,
      "embeddings" -> tables.embeddings)
      .foreach { case (n, df) => df.createOrReplaceTempView(n) }

  /** Bulk insert of mixed vertices/edges/properties in one job each
    * (reference bulk_insert, rdb/datastore.rs:285-310: no per-row calls,
    * and edge endpoints are NOT validated — mirrored here). The property
    * DataFrames mirror BulkInsertItem::VertexProperty/EdgeProperty
    * (models/src/bulk_insert.rs:6-15): rows of (id, key, value) keyed by
    * the vertex/edge id. */
  def bulkInsert(vertices: DataFrame = null, edges: DataFrame = null,
      vertexProperties: DataFrame = null,
      edgeProperties: DataFrame = null): Unit = {
    var st = state
    if (vertices != null) st = st.upsertVertices(vertices)
    if (edges != null) st = st.upsertEdges(edges)
    if (vertexProperties != null)
      st = st.setVertexPropertiesRows(vertexProperties)
    if (edgeProperties != null)
      st = st.setEdgePropertiesRows(edgeProperties)
    state = st
  }

  // ---- KV namespace (storage_engine.rs:1234-1238) ----
  // A driver-side map mirrors the reference's byte-KV sidecar; at scale
  // this would be a keyed Delta/parquet table, but the reference's usage
  // (config blobs via ZMQ set_key/get_key) is inherently small.
  private val kv = TrieMap[String, Array[Byte]]()
  def kvSet(key: String, value: Array[Byte]): Unit = kv.put(key, value)
  def kvGet(key: String): Option[Array[Byte]] = kv.get(key)
  def kvDelete(key: String): Boolean = kv.remove(key).isDefined
  def kvFlush(): Unit = kv.clear()

  // ---- index_property metadata (rdb/datastore.rs:312-340) ----
  // Spark needs no secondary indexes (scan+pushdown replace them); the
  // registry preserves the reference's *semantics*: with compat mode on,
  // property queries on unindexed names raise NotIndexed like indradb.
  private val indexed = TrieMap[String, Unit]()
  @volatile var indradbCompatMode: Boolean = false
  def indexProperty(name: String): Unit = indexed.put(name, ())
  def isIndexed(name: String): Boolean = indexed.contains(name)
  def checkIndexed(name: String): Unit =
    if (indradbCompatMode && !isIndexed(name))
      throw new NotIndexedException(name)
}

final class NotIndexedException(name: String)
    extends RuntimeException(s"property not indexed: $name")

object GraftSession {
  def empty(spark: SparkSession): GraftSession = {
    import org.apache.spark.sql.Row
    new GraftSession(spark, GraphState(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        GraphSchemas.vertexSchema),
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        GraphSchemas.edgeSchema)))
  }

  def apply(spark: SparkSession, g: GraphState): GraftSession =
    new GraftSession(spark, g)
}

/** Heuristic query-language classifier, mirroring the reference's
  * token-based router (server/src/cli/query_classifier.rs:4-60: Cypher
  * keywords beat SQL keywords, quote/comment-aware) plus its GraphQL-first
  * detection (lib/src/query_parser/query_parser.rs:33-51). */
object QueryRouter {
  sealed trait Lang
  case object Cypher extends Lang
  case object Sql extends Lang
  case object GraphQL extends Lang
  case object Unknown extends Lang

  private val cypherKw = Set("match", "create", "merge", "unwind", "detach",
    "optional", "return", "shortestpath")
  private val sqlKw = Set("select", "insert", "update", "delete", "from",
    "create table", "drop table", "alter")

  def classify(q: String): Lang = {
    // GraphQL first, like the reference (its grammar is the strictest):
    // an operation keyword or a bare selection-set document
    val t = q.trim
    val gqlHead = "^(query|mutation|subscription|fragment)\\b.*".r
    if (t.startsWith("{") ||
        gqlHead.pattern.matcher(t.toLowerCase.replace('\n', ' ')).matches())
      return GraphQL
    // strip string literals and comments before keyword scanning
    val stripped = q
      .replaceAll("'[^']*'", " ")
      .replaceAll("\"[^\"]*\"", " ")
      .replaceAll("//[^\n]*", " ")
      .replaceAll("--[^\n]*", " ")
      .toLowerCase
    val tokens = stripped.split("[^a-z_]+").filter(_.nonEmpty).toSeq
    val first = tokens.headOption.getOrElse("")
    if (cypherKw.contains(first)) Cypher
    else if (first == "select" || first == "with" && stripped.contains("select"))
      Sql
    else if (tokens.exists(cypherKw.contains) &&
        stripped.contains("(") && stripped.contains(")")) Cypher
    else if (tokens.exists(sqlKw.contains)) Sql
    else Unknown
  }
}
