package graft.dev

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry
import graft.engine.SessionCache
import graft.queries.QueryDef

/** The probe harness for gate queries: where one gate's time goes, rep by
  * rep, on the Bench session shape.
  *
  *   sbt "runMain graft.dev.Probe <gate[,gate…]|all> [sfDir] [reps] [flags]"
  *
  * `sfDir` defaults to `SPARK_GRAFT_SF_DIR` (as for Bench), `reps` to 3.
  * Every rep prints one summary line: wall, rows, jobs, Janino compiles
  * and their ms, stages, task run
  * and task CPU time (executor CPU is immune to hypervisor steal, the A/B
  * signal on a noisy box), shuffle write and read, widest stage, and the
  * growth of the session cache in entries and bytes (a kernel that
  * leaves a persisted table behind shows there). Flags, anywhere on the
  * line:
  *
  *  - `--set:k=v` sets a session conf for the run (repeatable), e.g.
  *    `--set:spark.sql.shuffle.partitions=256`.
  *  - `--nowarm` skips the Bench warm-up: at rehearsal scale factors
  *    the checkpointed graph pins storage memory the gate rebuilds anyway.
  *  - `--stages` also prints each completed stage and, for streaming
  *    gates, each micro-batch's `durationMs` phases.
  *  - `--explain` prints the formatted physical plan instead of running.
  *  - `--ab:k=v` runs each gate also with the override (repeatable),
  *    the legs' reps in turns (base 1, override 1, base 2, …), and
  *    fails unless both legs return the same rows, e.g.
  *    `--ab:spark.graft.graph.localKernelMaxEdges=0` pins a driver
  *    kernel to its distributed plan.
  *
  * [[run]] restores every conf it set, so a test can drive it on a
  * shared session.
  */
object Probe {

  final case class Args(gates: Seq[QueryDef], dir: String, reps: Int,
      set: Seq[(String, String)], ab: Seq[(String, String)],
      warm: Boolean, stages: Boolean, explain: Boolean)

  final case class Stage(id: Int, tasks: Int, wallS: Double, runS: Double,
      cpuS: Double, shuffleWrite: Long, shuffleRead: Long, rdds: String) {
    override def toString: String =
      f"[stage $id%4d] $tasks%3d tasks wall $wallS%5.2f s " +
        f"run $runS%6.2f s cpu $cpuS%6.2f s " +
        f"sw ${shuffleWrite / 1e6}%7.1f MB sr ${shuffleRead / 1e6}%7.1f MB  " +
        rdds
  }

  /** One micro-batch's phases (`StreamingQueryProgress.durationMs`). */
  final case class Batch(query: String, id: Long, phasesMs: Map[String, Long]) {
    override def toString: String = s"[batch] $query #$id: " +
      phasesMs.toSeq.sorted.map { case (k, v) => s"$k=${v}ms" }.mkString(" ")
  }

  /** `cacheEntries` and `cacheBytes`: the growth of the session's
    * [[graft.engine.SessionCache]] over the rep, so a gate that leaves a
    * table behind shows in its line. `compiles` and `compileMs`: the
    * Janino compiles of generated code during the rep and their time
    * (JVM-wide counters, so a rep counts what else compiled meanwhile). */
  final case class Rep(wallS: Double, rows: Long, jobs: Int,
      stages: Seq[Stage], batches: Seq[Batch], cacheEntries: Int,
      cacheBytes: Long, compiles: Long, compileMs: Double) {
    def line(label: String): String =
      f"[probe] $label: $wallS%.2f s, $rows rows, $jobs jobs, " +
        f"$compiles compiles $compileMs%.0f ms, " +
        f"${stages.size} stages, task run ${stages.map(_.runS).sum}%.1f s, " +
        f"task cpu ${stages.map(_.cpuS).sum}%.1f s, " +
        f"shuffle write ${stages.map(_.shuffleWrite).sum / 1e6}%.1f MB, " +
        f"read ${stages.map(_.shuffleRead).sum / 1e6}%.1f MB, " +
        s"widest stage ${(stages.map(_.tasks) :+ 0).max} tasks, " +
        f"cache $cacheEntries%+d entries ${cacheBytes / 1e6}%+.1f MB"
  }

  /** What the probe saw of one gate: its reps and, with `--ab`, the
    * override's reps (present only when both legs agreed). */
  final case class Report(gate: String, reps: Seq[Rep], abReps: Seq[Rep])

  private def usage(msg: String) = new IllegalArgumentException(
    s"$msg; usage: Probe <gate[,gate…]|all> [sfDir] [reps] " +
      "[--set:k=v]… [--ab:k=v]… [--nowarm] [--stages] [--explain]")

  def parse(args: Seq[String]): Args = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    def pairs(prefix: String) = flags.filter(_.startsWith(prefix)).map { a =>
      a.stripPrefix(prefix).split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw usage(s"malformed $a (want ${prefix}key=value)")
      }
    }
    val switches = Set("--nowarm", "--stages", "--explain")
    flags.find(f => !switches(f) && !f.startsWith("--set:") &&
      !f.startsWith("--ab:")).foreach(f => throw usage(s"unknown flag $f"))
    if (pos.isEmpty) throw usage("no gate named")
    if (pos.size > 3) throw usage(s"unexpected argument ${pos(3)}")
    val gates =
      if (pos.head == "all") SparkEntry.allQueries
      else pos.head.split(',').toSeq.map(n => SparkEntry.allQueries
        .find(_.name == n).getOrElse(throw usage(s"no such gate $n")))
    val dir = pos.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(throw usage("no sfDir given and SPARK_GRAFT_SF_DIR unset"))
    val reps = pos.lift(2).fold(3)(r => r.toIntOption.filter(_ > 0)
      .getOrElse(throw usage(s"reps must be a positive count, got $r")))
    val a = Args(gates, dir, reps, pairs("--set:"), pairs("--ab:"),
      !flags.contains("--nowarm"), flags.contains("--stages"),
      flags.contains("--explain"))
    if (a.explain && (a.stages || a.ab.nonEmpty))
      throw usage("--explain runs nothing: it takes no --stages or --ab:")
    a
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toSeq)
    val spark = graft.Bench.session()
    // surface the engine's gated decisions (kernel legs, census buckets)
    spark.conf.set(graft.util.Dbg.ConfKey, "true")
    try run(spark, a) finally spark.stop()
  }

  def run(spark: SparkSession, args: Seq[String]): Seq[Report] =
    run(spark, parse(args))

  def run(spark: SparkSession, a: Args): Seq[Report] = {
    val saved = setConfs(spark, a.set)
    val meter = new Meter(spark)
    spark.sparkContext.addSparkListener(meter)
    spark.streams.addListener(meter.progress)
    try {
      if (a.warm && !a.explain) graft.Bench.warmUp(spark, a.dir)
      a.gates.map(q => if (a.explain) explain(spark, a, q)
        else probe(spark, a, q, meter))
    } finally {
      spark.streams.removeListener(meter.progress)
      spark.sparkContext.removeSparkListener(meter)
      restore(spark, saved)
    }
  }

  /** Sets `kvs`, returning each key's previous explicit value (None
    * when it was at its default) for [[restore]]. */
  private def setConfs(spark: SparkSession, kvs: Seq[(String, String)])
      : Seq[(String, Option[String])] =
    kvs.map { case (k, v) =>
      val prev = spark.conf.getAll.get(k)
      spark.conf.set(k, v)
      k -> prev
    }

  private def restore(spark: SparkSession,
      saved: Seq[(String, Option[String])]): Unit =
    saved.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }

  private def explain(spark: SparkSession, a: Args, q: QueryDef): Report = {
    val plan = q.run(spark, a.dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    println(s"\n========== ${q.name} ==========\n$plan")
    Report(q.name, Nil, Nil)
  }

  private def probe(spark: SparkSession, a: Args, q: QueryDef,
      meter: Meter): Report = {
    q.stage.foreach(_(spark, a.dir)) // fixture staging, untimed
    def rep(i: Int, label: String): Rep = {
      meter.take()
      val c0 = SessionCache.stats(spark)
      val (n0, ns0) = compiled()
      val t0 = System.nanoTime()
      val rows = q.run(spark, a.dir).count()
      val wallS = (System.nanoTime() - t0) / 1e9
      val (n1, ns1) = compiled()
      val (jobs, stages, batches) = meter.take()
      val c1 = SessionCache.stats(spark)
      val r = Rep(wallS, rows, jobs, stages, batches,
        c1.entries - c0.entries, c1.bytes - c0.bytes, n1 - n0,
        (ns1 - ns0) / 1e6)
      if (a.stages) (stages ++ batches).foreach(println)
      println(r.line(s"${q.name} rep$i$label"))
      r
    }
    if (a.ab.isEmpty)
      return Report(q.name, (1 to a.reps).map(rep(_, "")), Nil)
    // an untimed run whose rows outlive the leg's confs
    def pinned(): DataFrame = q.run(spark, a.dir).localCheckpoint()
    val over = a.ab.map { case (k, v) => s"$k=$v" }.mkString(", ")
    def overridden[T](body: => T): T = {
      val saved = setConfs(spark, a.ab)
      try body finally restore(spark, saved)
    }
    // the legs take turns, so drift and warm-up weigh on both alike
    val (base, abReps) = (1 to a.reps).map(i =>
      (rep(i, ""), overridden(rep(i, s" ($over)")))).unzip
    val left = pinned()
    val right = overridden(pinned())
    val diff = (left.exceptAll(right).count(), right.exceptAll(left).count())
    Seq(left, right).foreach(shims.releaseLocalCheckpoint)
    if (diff != (0L, 0L)) throw new IllegalStateException(
      s"${q.name} diverged under $over: ${diff._1} rows only without it, " +
        s"${diff._2} rows only with it")
    println(s"[ab] ${q.name}: equal with and without $over")
    Report(q.name, base, abReps)
  }

  /** Janino compiles so far in this JVM and their total nanoseconds. */
  private def compiled(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime)

  /** The probe's one listener: finished jobs, completed stages and (via
    * [[progress]]) streaming micro-batches since the last [[take]]. */
  private final class Meter(spark: SparkSession) extends SparkListener {
    private val jobs = new AtomicInteger()
    private val stages = new ConcurrentLinkedQueue[Stage]()
    private val batches = new ConcurrentLinkedQueue[Batch]()

    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val wallS = (for (sub <- s.submissionTime; fin <- s.completionTime)
        yield (fin - sub) / 1e3).getOrElse(-1.0)
      stages.add(Stage(s.stageId, s.numTasks, wallS,
        m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        s.rddInfos.map(r => s"${r.name}#${r.id}").mkString(",").take(160)))
    }

    val progress: StreamingQueryListener = new StreamingQueryListener {
      import StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit =
        batches.add(Batch(e.progress.name, e.progress.batchId,
          e.progress.durationMs.asScala.toMap.map { case (k, v) =>
            k -> v.longValue }))
    }

    private def drain[T](q: ConcurrentLinkedQueue[T]): Seq[T] =
      Iterator.continually(q.poll()).takeWhile(_ != null).toSeq

    /** Everything delivered since the last call, once the bus is empty. */
    def take(): (Int, Seq[Stage], Seq[Batch]) = {
      shims.drainListenerBus(spark)
      (jobs.getAndSet(0), drain(stages).sortBy(_.id), drain(batches))
    }
  }
}
