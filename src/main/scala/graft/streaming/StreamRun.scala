package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  StreamingQueryListener, StreamingQueryProgress}

import graft.util.Dbg

/** The one place a graft stream starts. Every query runs with
  * [[LocalCheckpointFileManager]] as its checkpoint file manager (unless
  * the session already names one), so a local checkpoint starts no
  * child process, and optionally with a pinned shuffle-partition count
  * (state store instances are per shuffle partition and their
  * open/commit cost is per-partition-per-microbatch, so heavily-stateful
  * queries on small clusters want fewer, fuller partitions).
  *
  * A query starts interpreted (no whole-stage codegen, expressions
  * evaluated without generated classes) and compiles only once a
  * micro-batch reads more than [[CompileMinRows]] input rows per source
  * read: a small
  * batch does not run long enough to repay its Janino compiles, and a
  * stream's generated sources change from batch to batch, so Spark's
  * codegen cache cannot amortize them. A session that names
  * `spark.sql.codegen.wholeStage` or `spark.sql.codegen.factoryMode`
  * itself keeps its setting for the whole query. The gate sees a batch
  * only after it ran, so a stream whose first batch is large runs that
  * batch interpreted.
  *
  * A query takes its settings from a clone of the caller's session made
  * when it starts, so the shuffle-partition and codegen pins are held on
  * the caller's session only across `writer.start()`; statements `body`
  * runs on that session meanwhile plan as usual. The checkpoint-manager
  * pin is held until the query stops: a file source creates its
  * metadata log on the query's own thread, after `start()` returns,
  * from the session it was read with. Each pin tests presence with
  * `conf.getAll` (`getOption` answers a registered key's default) and
  * is undone by `unset` when the caller had not set the key. */
object StreamRun {

  /** Input rows of one micro-batch, per source read, above which a
    * query switches to codegen for the rest of its life: the largest
    * measured batch size at which interpreted execution was not slower
    * in every shape. Spark's `numInputRows` sums over every read of a
    * source, so a self-join such as click-view reports twice the rows
    * it reads; the gate divides by the number of reads.
    *
    * Measured with `sessionizeStream` (gap 30 min), `clickViewJoinOuter`
    * (1 h bound) and `slidingAggregates` (1 h windows every 15 min,
    * Complete mode) on generated events, one parquet file of `n` rows
    * per trigger (max(1,000, n/10) users, one hour of event time per
    * batch), 4 shuffle partitions, `local[4]` on a 4-core VM. Each cell
    * is interpreted / codegen ms per batch, the median of 3 runs of a
    * 3-batch stream; the runs alternated between the modes. A run
    * compiled 8 classes interpreted against 20 with codegen (sessions),
    * 0 against 33 (click-view) and 3 against 12 (sliding windows).
    * Sessions and click-view are level or faster interpreted up to 10⁵
    * rows; the windowed aggregate already loses at 2·10⁴.
    *
    * | rows / batch | sessions | click-view | sliding windows |
    * |---|---|---|---|
    * | 10⁴ | 281 / 359 | 661 / 782 | 341 / 332 |
    * | 2·10⁴ | 278 / 376 | 584 / 746 | 351 / 318 |
    * | 5·10⁴ | 335 / 406 | 705 / 861 | 590 / 356 |
    * | 10⁵ | 402 / 433 | 809 / 958 | 956 / 339 |
    * | 10⁶ | 1,696 / 1,306 | 4,097 / 3,089 | 6,277 / 929 |
    */
  val CompileMinRows: Long = 10000L

  private val CodegenKeys = Seq(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key,
    SQLConf.CODEGEN_FACTORY_MODE.key)
  private val Interpreted = CodegenKeys.zip(Seq("false", "NO_CODEGEN"))

  /** Starts `writer`, runs `body` on the started query, then stops it. */
  def run[T](spark: SparkSession, writer: DataStreamWriter[_],
      statePartitions: Option[Int] = None)(body: StreamingQuery => T): T =
    gated(spark, writer, statePartitions, CompileMinRows)(body)

  /** Runs the query until every available input is processed. */
  def drain(spark: SparkSession, writer: DataStreamWriter[_],
      statePartitions: Option[Int] = None): Unit =
    run(spark, writer, statePartitions)(_.processAllAvailable())

  /** [[run]] with the compile bound as a parameter. */
  private[streaming] def gated[T](spark: SparkSession,
      writer: DataStreamWriter[_], statePartitions: Option[Int],
      compileMinRows: Long)(body: StreamingQuery => T): T = {
    val named = spark.conf.getAll
    val manager = Seq(LocalCheckpointFileManager.ClassKey ->
      classOf[LocalCheckpointFileManager].getName)
      .filterNot(kv => named.contains(kv._1))
    val interpret = !CodegenKeys.exists(named.contains)
    val atStart = statePartitions
      .map(n => SQLConf.SHUFFLE_PARTITIONS.key -> n.toString).toSeq ++
      (if (interpret) Interpreted else Nil)
    pinned(spark, named, manager) {
      val q = pinned(spark, named, atStart)(writer.start())
      // progress events reach the listeners of the session that started q
      val streams = q.sparkSession.streams
      val switch = Option.when(interpret)(new CompileSwitch(q, compileMinRows))
      try {
        switch.foreach { sw =>
          streams.addListener(sw)
          // a batch that finished before the listener was added
          q.recentProgress.foreach(sw.observe)
        }
        body(q)
      } finally {
        q.stop()
        switch.foreach(streams.removeListener)
        Dbg(spark, s"[stream] ${Option(q.name).getOrElse(q.id)}: " +
          switch.fold("codegen keys as the session names them")(_.decision))
      }
    }
  }

  /** `body` with `pins` set on `spark`; each key then goes back to its
    * entry in `named` (the caller's explicit settings), or is unset. */
  private def pinned[T](spark: SparkSession, named: Map[String, String],
      pins: Seq[(String, String)])(body: => T): T = {
    pins.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally pins.foreach { case (k, _) =>
      named.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Switches `q`'s own session to codegen on the first progress report
    * of a batch above `bound` input rows per source read. One-way; the
    * listener runs asynchronously, so the switch may land a batch late. */
  private final class CompileSwitch(q: StreamingQuery, bound: Long)
      extends StreamingQueryListener {
    import StreamingQueryListener._
    private val switchedAt = new AtomicReference[(Long, Long)]()

    // the plan is built before the first batch, so before any progress
    private lazy val reads = math.max(1, shims.sourceReads(q))

    def observe(p: StreamingQueryProgress): Unit = if (p.id == q.id) {
      val rows = p.numInputRows / reads
      if (rows > bound && switchedAt.compareAndSet(null, (p.batchId, rows)))
        CodegenKeys.foreach(shims.streamSession(q).conf.unset)
    }

    def decision: String = Option(switchedAt.get).fold(
      s"stayed interpreted (bound $bound rows)") { case (batch, rows) =>
      s"started interpreted, codegen after batch $batch " +
        s"($rows rows per source read > bound $bound)"
    }

    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit = observe(e.progress)
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }
}
