package graft.dev

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{GraphState, QueryCompiler}
import graft.ir
import graft.model.GraphSchemas
import graft.sources.{Tables, TpchGraph}

/** Micro-benchmarks mirroring the reference's unpublished nightly harness
  * op-for-op (reference: lib/src/benches/benches.rs:23-202; BASELINE.md
  * "Micro-benchmarks to mirror"), so numbers are comparable in SHAPE even
  * though the substrates differ (embedded RocksDB per-op vs a Spark job
  * per-op — Spark's ~10-100 ms local job floor dominates every point op;
  * the honest comparison is the bulk path, where the reference's
  * WriteBatch and our one-job union amortize the same way):
  *
  *  - identifier_create:   255-char random identifier validate+construct
  *    (benches.rs:23-37)
  *  - identifier_intern:   re-validate + equality on an existing
  *    identifier (benches.rs:41-80 — interned-string fast path)
  *  - create_vertex:       single-vertex insert, materialized
  *    (benches.rs:82-89)
  *  - get_vertices:        SpecificVertexQuery::single point lookup
  *    (benches.rs:91-106)
  *  - create_edge:         single-edge insert, endpoint-checked
  *    (benches.rs:108-125)
  *  - get_edges:           specific-edge point lookup (benches.rs:127-148)
  *  - get_edge_count:      AllEdgeQuery.count() (benches.rs:150-167)
  *  - bulk_insert:         100 vertices + 10,000 edges + 1 property each
  *    ≈ 20,200 items in one batch (benches.rs:169-202)
  *
  * Point ops run against the sf-dir TpchGraph (a loaded store, like the
  * harness's pre-seeded datastore); inserts build on an in-memory snapshot
  * and are read back with a count (an insert pins its delta when it is
  * called; the count times the read of the new snapshot with it).
  *
  *   sbt "runMain graft.dev.MicroBench /root/testdata/sf0.001 10"
  */
object MicroBench {

  private def timeMs[A](reps: Int)(f: Int => A): Double = {
    f(0) // warm: JIT + plan/codegen cache
    val samples = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      f(i)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    samples(samples.length / 2) // median
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val reps = args.lift(1).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val g0 = TpchGraph(Tables(spark, dir))
    // pre-seed like the harness (its datastore is warm before b.iter):
    // materialize + cache both sides so point ops measure the op, not the
    // parquet read
    val g = GraphState(
      g0.vertices.persist(), g0.edges.persist())
    g.vertices.count(); g.edges.count()
    val probeVertex = g.vertices.select("id").orderBy("id").head().getString(0)
    val probeEdge = g.edges.select("src", "edge_type", "dst")
      .orderBy("src", "edge_type", "dst").head()

    val rnd = new Random(42)
    def randIdent(): String =
      Seq.fill(255)(('a' + rnd.nextInt(26)).toChar).mkString

    def vRow(id: String) = Row(id, "bench", Map("p" -> "1"))
    def eRow(src: String, dst: String, i: Int) =
      Row(s"be:$i", src, dst, "BENCH", null, Map("p" -> "1"))
    def vdf(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), GraphSchemas.vertexSchema)
    def edf(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), GraphSchemas.edgeSchema)

    val compiler = QueryCompiler(g)

    // identifier ops are JVM-local (the reference's are allocator-local):
    // time a batch of 10k and report per-op µs-scale honesty as ms/10k
    val identCreate = timeMs(reps) { _ =>
      var i = 0
      while (i < 10000) { GraphSchemas.requireIdentifier(randIdent()); i += 1 }
    }
    val interned = randIdent()
    val identIntern = timeMs(reps) { _ =>
      var i = 0
      var eq = true
      while (i < 10000) {
        eq = GraphSchemas.requireIdentifier(interned) == interned; i += 1
      }
      require(eq)
    }

    val createVertex = timeMs(reps) { i =>
      g.upsertVertices(vdf(Seq(vRow(s"bench:v$i")))).vertices
        .filter(col("label") === "bench").count()
    }
    val getVertices = timeMs(reps) { _ =>
      compiler.compile(ir.SpecificVertex(Seq(probeVertex))).count()
    }
    val createEdge = timeMs(reps) { i =>
      g.insertEdgesChecked(edf(Seq(eRow(probeVertex, probeVertex, i))))
        .edges.filter(col("edge_type") === "BENCH").count()
    }
    val getEdges = timeMs(reps) { _ =>
      compiler.compile(ir.SpecificEdge(Seq((probeEdge.getString(0),
        probeEdge.getString(1), probeEdge.getString(2))))).count()
    }
    val getEdgeCount = timeMs(reps) { _ =>
      compiler.compile(ir.AllEdge).count()
    }

    // bulk path: the op-for-op comparable one (WriteBatch vs one-job union)
    val bulkVs = (0 until 100).map(i => vRow(s"bulk:v$i"))
    val bulkEs = (0 until 10000).map(i =>
      eRow(s"bulk:v${i % 100}", s"bulk:v${(i / 100) % 100}", i))
    val bulkInsert = timeMs(math.max(3, reps / 2)) { _ =>
      val st = g.upsertVertices(vdf(bulkVs)).upsertEdges(edf(bulkEs))
      st.vertices.count() + st.edges.count()
    }

    def f(v: Double): String = f"$v%.2f"
    println(s"""{"microbench":{"identifier_create_ms_per_10k":${f(identCreate)},"identifier_intern_ms_per_10k":${f(identIntern)},"create_vertex_ms":${f(createVertex)},"get_vertices_ms":${f(getVertices)},"create_edge_ms":${f(createEdge)},"get_edges_ms":${f(getEdges)},"get_edge_count_ms":${f(getEdgeCount)},"bulk_insert_20200_items_ms":${f(bulkInsert)}},"reps":$reps,"sf":"$dir"}""")
    spark.stop()
  }
}
