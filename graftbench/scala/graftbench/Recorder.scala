package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. `parent` is 0 for an operation's root span;
  * Spark job spans carry their operation's root as parent and are
  * re-parented to the innermost benchmark span that contains them when
  * self times are computed. Times are nanoseconds since the recorder
  * started. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long)

/** Per-operation Spark counters, summed from task-end events. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, result = 0L
}

/** Everything the benchmark measures from outside graft: its own spans
  * around calls into graft, Spark's public SparkListener events (jobs
  * tagged with the operation's job group) and StreamingQueryListener
  * progress. Spans and counters are kept in memory and written when
  * the run ends. With tracing off only the streaming progress is kept,
  * since the stream workload's batch latency comes from it. */
final class Recorder(val traced: Boolean) extends SparkListener {
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis()
  def now(): Long = System.nanoTime() - t0Nanos
  private def fromMillis(ms: Long): Long = (ms - t0Millis) * 1000000L

  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack[(Long, Long)]() // (span id, op id)
  private val roots = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  val counters = new java.util.concurrent.ConcurrentHashMap[String, Counters]()
  val progress = new ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()

  /** Run `body` as operation `op`: a root span, and a Spark job group
    * so the listener can attribute its jobs. */
  def operation[T](op: Long, name: String,
      sc: org.apache.spark.SparkContext)(body: => T): T = {
    sc.setJobGroup(op.toString, name, interruptOnCancel = false)
    try span(name, op)(body)
    finally sc.clearJobGroup()
  }

  /** A child span of the innermost open span (or a root for `op`). */
  def span[T](name: String, op: Long = -1)(body: => T): T = {
    if (!traced) return body
    val id = ids.incrementAndGet()
    val (parent, opId) =
      if (op >= 0) (0L, op) else stack.headOption.getOrElse((0L, 0L))
    if (parent == 0L) roots.put(opId, id)
    stack.push((id, opId))
    val start = now()
    try body
    finally {
      stack.pop()
      spans.add(Span(id, parent, opId, name, start, now()))
    }
  }

  /** Record an interval measured elsewhere (a streaming batch phase). */
  def addSpan(parent: Long, op: Long, name: String, start: Long,
      end: Long): Long = {
    val id = ids.incrementAndGet()
    if (traced) spans.add(Span(id, parent, op, name, start, end))
    id
  }

  def rootOf(op: Long): Long = roots.getOrDefault(op, 0L)

  /** The operation a job belongs to: its job group, which is the
    * operation id, or for a streaming micro-batch the query's run id. */
  private def group(props: java.util.Properties): String = {
    val g = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    Option(streamRuns.get(g)).map(_.toString).getOrElse(g)
  }

  private def countersOf(g: String): Counters =
    counters.computeIfAbsent(g, _ => new Counters)

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int,
    (Long, String)]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int,
    String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = group(e.properties)
    jobStart.put(e.jobId, (fromMillis(e.time), g))
    e.stageIds.foreach(s => stageGroup.put(s, g))
    countersOf(g).synchronized { countersOf(g).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (start, g) =>
      val op = scala.util.Try(g.toLong).getOrElse(0L)
      addSpan(rootOf(op), op, "spark.job", start, fromMillis(e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = countersOf(stageGroup.getOrDefault(e.stageInfo.stageId, "none"))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = countersOf(stageGroup.getOrDefault(e.stageId, "none"))
    c.synchronized {
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.result += m.resultSize
    }
  }

  /** Streaming progress; with tracing on, each trigger becomes a span
    * under the operation running the query, with its phases laid out in
    * MicroBatchExecution's order from the trigger start (progress
    * reports only their durations). */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamRuns.put(e.runId.toString,
        streamOps.getOrDefault(String.valueOf(e.name), 0L))
    def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(p)
      if (traced) {
        val start = fromMillis(java.time.Instant.parse(p.timestamp).toEpochMilli)
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val total = d.getOrElse("triggerExecution", 0L) * 1000000L
        val opId = streamOps.getOrDefault(String.valueOf(p.name), 0L)
        val trig = addSpan(rootOf(opId), opId, "streaming.trigger", start,
          start + total)
        var t = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets").foreach { phase =>
          d.get(phase).foreach { ms =>
            addSpan(trig, opId, s"streaming.$phase", t, t + ms * 1000000L)
            t += ms * 1000000L
          }
        }
      }
    }
  }
  /** Streaming query name, and run id, → the operation that runs it. */
  val streamOps = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val streamRuns =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()
}

/** Host contention over the timed region, read the way graft.Bench
  * reads it: hypervisor steal from /proc/stat's cpu line and CPU used
  * by other processes (system minus this process) from the JVM's
  * OperatingSystemMXBean, both as cores. */
final class HostSample {
  private val os = java.lang.management.ManagementFactory.getPlatformMXBean(
    classOf[com.sun.management.OperatingSystemMXBean])
  private val nproc = Runtime.getRuntime.availableProcessors()

  private def stealAndTotal(): (Long, Long) =
    try {
      val cols = java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/stat"))
        .linesIterator.next().trim.split("\\s+")
      // user..steal (cols 1-8); guest time is already in user/nice
      (cols(8).toLong, cols.slice(1, 9).map(_.toLong).sum)
    } catch { case _: Throwable => (-1L, -1L) }

  private val (steal0, total0) = stealAndTotal()
  os.getCpuLoad; os.getProcessCpuLoad // start both load windows here

  /** (steal cores, external cores) since construction; -1 if unknown. */
  def finish(): (Double, Double) = {
    val (steal1, total1) = stealAndTotal()
    val steal =
      if (steal0 < 0 || total1 <= total0) -1.0
      else (steal1 - steal0).toDouble / (total1 - total0) * nproc
    val sys = os.getCpuLoad
    val proc = os.getProcessCpuLoad
    val ext =
      if (sys.isNaN || proc.isNaN || sys < 0 || proc < 0) -1.0
      else math.max(0.0, (sys - proc) * nproc)
    (steal, ext)
  }
}
