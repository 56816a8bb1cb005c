package graft.queries

import org.apache.spark.sql.functions._

import graft.api.{GraftSession, NotIndexedException}
import graft.engine.QueryCompiler
import graft.ir.VertexWithPropertyValue
import graft.sources.{Tables, TpchGraph}

/** DuckDB-oracle gates for the API-shaped §2.A rows that were previously
  * anchored only by unit specs (round-9 verdict task #4): bulk_insert,
  * set_properties-over-a-query's-results, index_property/NotIndexed
  * compat, and the KV round-trip. Each drives the REAL GraftSession /
  * GraphState surface and hashes the observable end state against a
  * purely relational oracle over the base tables.
  */
object ApiQueries {

  /** bulk_insert of mixed vertices + edges + vertex-property items in
    * one call (reference: rdb/datastore.rs:285-310 — batched writes, NO
    * endpoint validation on edges), then the whole resulting graph read
    * back. The nation->region edges reference vertices that were NEVER
    * inserted; the gate pins that they land anyway (the reference
    * validates endpoints only on create_edge, rdb/datastore.rs:272-281,
    * not on bulk_insert). The property items arrive as separate
    * BulkInsertItem::VertexProperty rows and must merge into the maps
    * the vertex items created (models/src/bulk_insert.rs:6-15). */
  val api01 = QueryDef.sql("api01_bulk_insert",
    """SELECT * FROM (
      |  SELECT 'v' AS kind, 'r:' || r_regionkey AS id,
      |         r_name || '|' || upper(r_name) AS val
      |  FROM region
      |  UNION ALL
      |  SELECT 'e', 'n:' || n_nationkey || '>r:' || n_regionkey,
      |         'IN_REGION'
      |  FROM nation)
      |ORDER BY kind, id""".stripMargin) { (s, dir) =>
    val t = Tables(s, dir)
    val sess = GraftSession.empty(s)
    val verts = t.region.select(
      concat(lit("r:"), col("r_regionkey")).as("id"),
      lit("region").as("label"),
      map(lit("name"), col("r_name")).as("properties"))
    val edges = t.nation.select(
      concat(lit("n:"), col("n_nationkey"), lit(">r:"),
        col("n_regionkey")).as("id"),
      concat(lit("n:"), col("n_nationkey")).as("src"),
      concat(lit("r:"), col("n_regionkey")).as("dst"),
      lit("IN_REGION").as("edge_type"),
      lit(null).cast("string").as("label"),
      typedLit(Map.empty[String, String]).as("properties"))
    val vprops = t.region.select(
      concat(lit("r:"), col("r_regionkey")).as("id"),
      lit("name_upper").as("key"),
      upper(col("r_name")).as("value"))
    sess.bulkInsert(vertices = verts, edges = edges,
      vertexProperties = vprops)
    val g = sess.graph
    g.vertices.select(lit("v").as("kind"), col("id"),
        concat(try_element_at(col("properties"), lit("name")), lit("|"),
          try_element_at(col("properties"), lit("name_upper"))).as("val"))
      .unionAll(g.edges.select(lit("e").as("kind"), col("id"),
        col("edge_type").as("val")))
      .orderBy(col("kind"), col("id"))
  }

  /** set_properties over a QUERY's result set (reference:
    * rdb/datastore.rs:342-362 — db.set_properties(q, name, value)
    * rewrites every entity the query matches): the BUILDING-segment
    * customer query drives the rewrite, then the full customer scan
    * reads the mutated snapshot back — untouched rows must keep their
    * maps unchanged. */
  val api02 = QueryDef.sql("api02_set_properties",
    """SELECT 'c:' || c_custkey AS id,
      |  CASE WHEN c_mktsegment = 'BUILDING' THEN 'yes' END AS audited,
      |  c_mktsegment AS seg
      |FROM customer ORDER BY id""".stripMargin) { (s, dir) =>
    val g0 = TpchGraph(Tables(s, dir))
    val ids = QueryCompiler(g0)
      .compile(VertexWithPropertyValue("mktsegment", "BUILDING"))
      .select(col("id"))
    val g1 = g0.setVertexProperties(ids, Map("audited" -> "yes"))
    g1.vertices.filter(col("label") === "customer")
      .select(col("id"),
        try_element_at(col("properties"), lit("audited")).as("audited"),
        try_element_at(col("properties"), lit("mktsegment")).as("seg"))
      .orderBy(col("id"))
  }

  /** index_property / NotIndexed compat as a boolean gate (reference:
    * rdb/datastore.rs:312-340 index build; lib/src/tests/indexing.rs:30-50
    * pins that a property query BEFORE index_property errors NotIndexed
    * and succeeds after). With compat mode on, the same checkIndexed
    * call errors then passes around the index_property call; the final
    * column re-runs the property query for real so the gate also pins
    * that indexing never changes RESULTS, only admissibility (Spark's
    * scan+pushdown replaces the secondary index as the access path). */
  val api03 = QueryDef.sql("api03_index_property_compat",
    """SELECT false AS indexed_before, true AS err_is_notindexed,
      |  true AS indexed_after,
      |  (SELECT count(*) FROM customer WHERE c_mktsegment = 'BUILDING')
      |    AS rows_after""".stripMargin) { (s, dir) =>
    val t = Tables(s, dir)
    val g = TpchGraph(t)
    val sess = GraftSession(s, g)
    sess.indradbCompatMode = true
    val before = sess.isIndexed("mktsegment")
    val errIsNotIndexed =
      try { sess.checkIndexed("mktsegment"); false }
      catch { case _: NotIndexedException => true }
    sess.indexProperty("mktsegment")
    sess.checkIndexed("mktsegment") // must pass now — throws otherwise
    val after = sess.isIndexed("mktsegment")
    val rows = QueryCompiler(sess.graph)
      .compile(VertexWithPropertyValue("mktsegment", "BUILDING"))
    rows.agg(count(lit(1)).as("rows_after"))
      .select(lit(before).as("indexed_before"),
        lit(errIsNotIndexed).as("err_is_notindexed"),
        lit(after).as("indexed_after"), col("rows_after"))
  }

  /** KV insert/retrieve/delete round-trip (reference StorageEngine
    * trait, storage_engine.rs:1234-1238: insert/retrieve/delete/flush
    * over byte keys/values). Every region lands as key "region:<k>" →
    * UTF-8 name bytes; key 0 is deleted; the surviving entries are read
    * back through kvGet and the deleted/missing probes are pinned as
    * NULL columns. The KV surface is driver-side by design (config-blob
    * sized in the reference's own usage) — the observable contract, not
    * the backing store, is what the gate hashes. */
  val api04 = QueryDef.sql("api04_kv_roundtrip",
    """SELECT 'region:' || r_regionkey AS key,
      |  CASE WHEN r_regionkey <> 0 THEN r_name END AS value
      |FROM region ORDER BY key""".stripMargin) { (s, dir) =>
    val t = Tables(s, dir)
    val sess = GraftSession.empty(s)
    val entries = t.region
      .select(col("r_regionkey").cast("long"), col("r_name"))
      .collect() // region is 5 rows at every SF; KV is config-blob sized
      .map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    entries.foreach { case (k, v) =>
      sess.kvSet(s"region:$k", v.getBytes("UTF-8"))
    }
    require(sess.kvDelete("region:0"), "delete of a present key -> true")
    require(!sess.kvDelete("region:0"), "second delete -> false")
    val rows = entries.map { case (k, _) =>
      val got = sess.kvGet(s"region:$k").map(new String(_, "UTF-8"))
      (s"region:$k", got.orNull)
    }
    import s.implicits._
    rows.toSeq.toDF("key", "value").orderBy(col("key"))
  }

  val all: Seq[QueryDef] = Seq(api01, api02, api03, api04)
}
