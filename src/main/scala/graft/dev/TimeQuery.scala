package graft.dev

import java.util.concurrent.atomic.{AtomicLong, AtomicInteger}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Times one or more gate queries with the Bench session shape —
  * the per-query iteration loop without a full bench run. Besides
  * wall-clock, reports per-query total shuffle write bytes and the
  * widest stage (task count) seen, for the PLANS.md scale tables.
  *
  *   sbt "runMain graft.dev.TimeQuery d05_cosine_near_dups /root/testdata/sf0.1 3"
  *   sbt "runMain graft.dev.TimeQuery gx18_top_link_prediction,gx14_triangle_support /tmp/sf1 2"
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    // flags are position-independent; positionals parse from the rest
    val pos = args.filterNot(_.startsWith("--"))
    val names = pos.headOption.getOrElse("q01_pricing_summary").split(',').toSeq
    val dir = pos.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = pos.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // rehearsal harness: surface the engine's gated diagnostics
    // (kernel gate legs, linkpred bucket decisions)
    spark.conf.set(graft.util.Dbg.ConfKey, "true")
    // conf A/Bs: --set:spark.graft.graph.localKernelMaxEdges=0 etc.
    args.filter(_.startsWith("--set:")).foreach { a =>
      val kv = a.stripPrefix("--set:").split("=", 2)
      spark.conf.set(kv(0), kv(1))
    }

    // stage-level metrics between marks: shuffle write bytes + widest stage
    val shuffleBytes = new AtomicLong(0L)
    val peakTasks = new AtomicInteger(0)
    val nStages = new AtomicInteger(0)
    val taskMillis = new AtomicLong(0L)
    val cpuNanos = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        peakTasks.getAndUpdate(m => math.max(m, sc.stageInfo.numTasks))
        nStages.incrementAndGet()
        taskMillis.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
        cpuNanos.addAndGet(sc.stageInfo.taskMetrics.executorCpuTime)
      }
    })

    // same warm-up as Bench — unless --nowarm: at rehearsal SFs the
    // localCheckpointed graph pins GBs of the storage pool (and its
    // protected half starves execution memory) for a cache the gate
    // under test rebuilds anyway
    if (!args.contains("--nowarm")) {
      spark.read.parquet(s"$dir/lineitem.parquet").count()
      val g = graft.sources.TpchGraph(graft.sources.Tables(spark, dir))
      g.vertices.count(); g.edges.count()
    }

    names.foreach { name =>
      val q = SparkEntry.allQueries.find(_.name == name)
        .getOrElse(sys.error(s"no such gate: $name"))
      q.stage.foreach(f => f(spark, dir)) // fixture staging, untimed
      (1 to reps).foreach { i =>
        shuffleBytes.set(0L); peakTasks.set(0)
        nStages.set(0); taskMillis.set(0L); cpuNanos.set(0L)
        val t0 = System.nanoTime()
        val n = q.run(spark, dir).count()
        val secs = (System.nanoTime() - t0) / 1e9
        // listener events are async; give the bus a moment to drain
        Thread.sleep(200)
        println(f"[time] $name rep$i: $secs%.2f s ($n rows, " +
          f"shuffle ${shuffleBytes.get() / 1e6}%.1f MB, widest stage ${peakTasks.get()} tasks, " +
          f"${nStages.get()} stages, ${taskMillis.get() / 1e3}%.1f s task time, " +
          // executorCpuTime is real CPU, immune to hypervisor steal —
          // the A/B signal on a noisy box (wall/run-time inflate)
          f"${cpuNanos.get() / 1e9}%.1f s task cpu)")
      }
    }
    spark.stop()
  }
}
