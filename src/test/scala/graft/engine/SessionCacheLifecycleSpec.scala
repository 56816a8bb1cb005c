package graft.engine

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec
import graft.queries.GraphQueries
import graft.sources.{Tables, TpchGraph}

/** [[SessionCache]] lifecycle: nesting, eviction, clearing, and entries
  * of a stopped SparkContext. The last test stops the context, so this
  * suite runs in its own forked JVM (build.sbt `Test / testGrouping`)
  * and never touches the shared `SparkSpec.session`. */
class SessionCacheLifecycleSpec extends SparkSpec {
  private val dir = sf("sf0.001")

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("session-cache-lifecycle")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("nested builds run once per key; a build may not look up its own key") {
    val spark = session()
    SessionCache.clear(spark)
    val builds = new AtomicInteger
    def inner = SessionCache.getOrCompute(spark, "inner") {
      builds.incrementAndGet(); "in"
    }
    def outer = SessionCache.getOrCompute(spark, "outer") {
      builds.incrementAndGet(); inner + "+out"
    }
    assert(outer == "in+out" && outer == "in+out" && inner == "in")
    assert(builds.get == 2)
    val st = SessionCache.stats(spark)
    assert((st.entries, st.misses, st.hits) == ((2, 2L, 2L)))

    // concurrent callers of one key share a single build
    val slow = new AtomicInteger
    val threads = (1 to 4).map(_ => new Thread(() => {
      SessionCache.getOrCompute(spark, "slow") {
        slow.incrementAndGet(); Thread.sleep(200); "v"
      }
      ()
    }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(slow.get == 1)

    def selfish: String = SessionCache.getOrCompute(spark, "self")(selfish)
    intercept[IllegalArgumentException](selfish)
    assert(SessionCache.stats(spark).entries == 3) // no entry for "self"
  }

  test("eviction unpersists a persisted entry and leaves a " +
      "localCheckpoint readable") {
    val spark = session()
    SessionCache.clear(spark)
    val persisted = SessionCache.getOrCompute(spark, "persisted",
      persist = true)(spark.range(100).toDF("id"))
    assert(persisted.storageLevel == StorageLevel.MEMORY_AND_DISK)
    val ckpt = SessionCache.getOrCompute(spark, "ckpt")(
      spark.range(50).toDF("id").localCheckpoint())
    // every entry weighs at least 1/64 of the budget: 64 fresh entries
    // push both frames out, least recently used first
    (1 to 64).foreach(i => SessionCache.getOrCompute(spark, i)(s"v$i"))
    val st = SessionCache.stats(spark)
    assert(st.evictions >= 2 && st.entries <= 64)
    assert(st.bytes <= SessionCache.Budget)
    assert(persisted.storageLevel == StorageLevel.NONE)
    assert(persisted.count() == 100)
    assert(ckpt.count() == 50)
    // an evicted key builds again
    val rebuilt = SessionCache.getOrCompute(spark, "ckpt")(
      spark.range(7).toDF("id"))
    assert(rebuilt.count() == 7)
  }

  test("a hit returns the same rows as a fresh build after clear") {
    val spark = session()
    SessionCache.clear(spark)
    def rows(g: GraphState) =
      (g.vertices.collect().toSeq.map(_.toString).sorted,
       g.edges.collect().toSeq.map(_.toString).sorted)
    val first = TpchGraph(Tables(spark, dir))
    val hit = TpchGraph(Tables(spark, dir))
    assert(hit eq first)
    assert(SessionCache.stats(spark).hits == 1)
    val cached = rows(hit)
    SessionCache.clear(spark)
    assert(SessionCache.stats(spark).entries == 0)
    val fresh = TpchGraph(Tables(spark, dir))
    assert(!(fresh eq first))
    assert(rows(fresh) == cached)
  }

  test("no entry survives a stopped SparkContext; a new session " +
      "recomputes the same results") {
    def run(spark: SparkSession) = {
      val g = TpchGraph(Tables(spark, dir))
      val support = LocalGraphKernels.triangleSupport(
          GraphQueries.coPurchaseEdges(spark, dir))
        .getOrElse(fail("kernel gate declined"))
        .collect().map(_.toString).sorted.toSeq
      val path = Traversals.shortestPathBetween(g, "c:1", "c:2", 6,
        undirected = true)(spark)
      (g.vertices.count(), g.edges.count(), support, path)
    }
    val a = session()
    val resultA = run(a)
    assert(resultA._4.isDefined)
    assert(SessionCache.stats(a).entries >= 4) // graph, projection,
                                                // count, array, table
    a.stop()
    val b = session()
    assert(!(b eq a))
    val resultB = run(b) // must not touch a's stopped context
    assert(resultB == resultA)
    assert(SessionCache.stats(a) == SessionCache.Stats(0, 0, 0, 0, 0))
    assert(SessionCache.stats(b).entries >= 4)
    b.stop()
  }
}
