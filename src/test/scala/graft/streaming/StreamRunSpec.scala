package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

import graft.SparkSpec
import graft.queries.Fixtures

/** [[StreamRun]]'s size-gated codegen: a stream starts interpreted and
  * compiles once a batch is large, its pins stay off the caller's
  * session, and Spark honours the internal `factoryMode` conf. */
class StreamRunSpec extends SparkSpec {
  private val WholeStage = SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key
  private val FactoryMode = SQLConf.CODEGEN_FACTORY_MODE.key
  private val Partitions = SQLConf.SHUFFLE_PARTITIONS.key
  private val EventSchema =
    "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING"

  private def spans(plan: SparkPlan): Int =
    plan.collect { case w: WholeStageCodegenExec => w }.size

  private def lastPlan(q: StreamingQuery): SparkPlan =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      .executedPlan

  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A scratch base and an empty source dir beside it. */
  private def stageDirs(tag: String): (Path, Path) = {
    val base = Files.createTempDirectory(tag)
    val stage = base.resolve("in")
    Files.createDirectories(stage)
    (base, stage)
  }

  /** `n` click/view events from `from` on, one parquet file in `stage`. */
  private def land(base: Path, stage: Path, tag: String, from: Long,
      n: Long): Unit =
    Fixtures.landSingleFile(spark.range(from, from + n).select(
      col("id").as("event_id"), (col("id") % 7).as("user_id"),
      timestamp_seconds(lit(1700000000L) + col("id") * 60).as("ts"),
      when(col("id") % 2 === 0, "view").otherwise("click")
        .as("event_type")), base, stage, tag)

  private def memory(s: SparkSession, stage: Path,
      shape: DataFrame => DataFrame): DataStreamWriter[_] =
    shape(s.readStream.schema(EventSchema).parquet(stage.toString))
      .writeStream.format("memory")
      .queryName(s"stream_run_${System.nanoTime()}")

  test("StreamRun leaves the caller's conf as it found it: no " +
      "shuffle-partition or codegen entry on a fresh session") {
    val s = spark.newSession()
    // the shared session's builder names a partition count
    s.conf.unset(Partitions)
    val before = s.conf.getAll
    val (base, stage) = stageDirs("stream_run_conf")
    land(base, stage, "a", 0, 20)
    StreamRun.drain(s, memory(s, stage, identity), statePartitions = Some(3))
    val after = s.conf.getAll
    Seq(Partitions, WholeStage, FactoryMode,
        LocalCheckpointFileManager.ClassKey)
      .foreach(k => assert(!after.contains(k),
        s"$k left set: ${after.get(k)}"))
    assert(after == before)
  }

  test("StreamRun pins codegen off only across start: a batch query in " +
      "body compiles, the stream's own plan does not") {
    val (base, stage) = stageDirs("stream_run_scope")
    land(base, stage, "a", 0, 50)
    StreamRun.run(spark, memory(spark, stage,
        e => EventStreams.clickViewJoinOuter(e, 3600))) { q =>
      q.processAllAvailable()
      val batch = spark.range(100).selectExpr("id * 2 AS x")
        .filter("x % 3 = 0")
      assert(batch.count() == 34)
      assert(spans(batch.queryExecution.executedPlan) > 0,
        batch.queryExecution.executedPlan)
      assert(spans(lastPlan(q)) == 0, lastPlan(q))
      assert(shims.streamSession(q).conf.get(FactoryMode) == "NO_CODEGEN")
      assert(!spark.conf.getAll.contains(FactoryMode))
    }
  }

  test("a small click-view stream compiles no class: Spark honours " +
      "factoryMode=NO_CODEGEN") {
    // a literal unique to the run makes every generated source new, so
    // a stream that compiled at all could not hit Spark's codegen cache
    val mark = -(System.nanoTime() % 1000000000L) - 1
    def added(s: SparkSession, tag: String, lit0: Long): Long = {
      val (base, stage) = stageDirs(s"stream_run_$tag")
      land(base, stage, "a", 0, 200)
      val c0 = compiles
      StreamRun.drain(s, memory(s, stage, e => EventStreams
        .clickViewJoinOuter(e.filter(col("event_id") =!= lit(lit0)), 3600)))
      compiles - c0
    }
    assert(added(spark, "interpreted", mark) == 0)
    // the same shape on a session that names codegen compiles
    val forced = spark.newSession()
    forced.conf.set(WholeStage, "true")
    forced.conf.set(FactoryMode, "CODEGEN_ONLY")
    assert(added(forced, "compiled", mark - 1) > 0)
  }

  test("a batch above the bound switches the query to whole-stage " +
      "codegen for later batches") {
    val (base, stage) = stageDirs("stream_run_switch")
    land(base, stage, "a", 0, 200)
    StreamRun.gated(spark, memory(spark, stage,
        _.select((col("event_id") * 2).as("x"), upper(col("event_type")))),
        statePartitions = None, compileMinRows = 50) { q =>
      q.processAllAvailable()
      assert(spans(lastPlan(q)) == 0, lastPlan(q))
      shims.drainListenerBus(spark) // the batch's progress reaches the gate
      land(base, stage, "b", 200, 10)
      q.processAllAvailable()
      assert(q.lastProgress.numInputRows == 10)
      assert(spans(lastPlan(q)) > 0, lastPlan(q))
    }
  }

  test("a self-join is gated on the rows of one source read, not on " +
      "Spark's numInputRows, which counts both reads") {
    val (base, stage) = stageDirs("stream_run_self_join")
    land(base, stage, "a", 0, 100)
    StreamRun.gated(spark, memory(spark, stage,
        e => EventStreams.clickViewJoinOuter(e, 3600)),
        statePartitions = Some(2), compileMinRows = 150) { q =>
      q.processAllAvailable()
      assert(q.recentProgress.map(_.numInputRows).max == 200)
      shims.drainListenerBus(spark)
      land(base, stage, "b", 100, 10)
      q.processAllAvailable()
      assert(spans(lastPlan(q)) == 0, lastPlan(q))
      assert(shims.streamSession(q).conf.get(FactoryMode) == "NO_CODEGEN")
    }
  }
}
