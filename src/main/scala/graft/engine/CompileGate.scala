package graft.engine

import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.internal.SQLConf

import graft.util.Dbg

/** The one "interpret or compile generated code" decision: Spark's
  * whole-stage and expression codegen pay a Janino compile per new
  * plan shape, which a small input does not run long enough to repay
  * (Kohn, Leis and Neumann, *Adaptive Execution of Compiled Queries*,
  * ICDE 2018). It owns the two codegen keys, the rule that a session
  * naming either key (`conf.getAll`, not `getOption`, which answers a
  * default) keeps its own setting, the interpreted twin session and the
  * Cypher bound. [[graft.streaming.StreamRun]] gates streams on their
  * batch sizes with the same keys.
  *
  * A Cypher statement whose graph has at most [[CypherMaxRows]] known
  * rows plans and runs on the caller's interpreted twin: a clone of the
  * caller's session with both keys set to interpret. A read frame bound
  * to the twin ([[shims.rebind]]) plans and runs under the twin's conf
  * whoever collects it. The twin also runs graft's own eager actions
  * inside a statement (the pinned deltas, MERGE's stats, the planning
  * of lazy local checkpoints, the [[KernelGate]] probes and collects of
  * the driver graph kernels), while a write's new snapshot stays bound
  * to the caller's session. Nothing is set on the caller's session, so
  * concurrent statements do not see each other's choice.
  *
  * One twin per caller session and conf, kept in [[SessionCache]]: a
  * changed caller conf gets a new twin and no twin is ever mutated.
  * A clone per statement would cost heap (the executor keeps an
  * isolated session state per session id, up to 100) and the first-task
  * set-up of every new session. */
private[graft] object CompileGate {

  val CodegenKeys: Seq[String] = Seq(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key,
    SQLConf.CODEGEN_FACTORY_MODE.key)

  /** The settings that run a plan without generated classes. */
  val Interpreted: Seq[(String, String)] =
    CodegenKeys.zip(Seq("false", "NO_CODEGEN"))

  /** The explicit settings `named` (a session's `conf.getAll`) choose a
    * codegen mode themselves. */
  def namesCodegen(named: Map[String, String]): Boolean =
    CodegenKeys.exists(named.contains)

  /** Known rows of a statement's graph (vertices + edges) up to which
    * it runs interpreted; a graph with a leaf of unknown size compiles.
    * The largest measured graph at which no cy gate ran slower
    * interpreted: the sf0.01 TPC-H graph (95,255 rows), rounded up.
    * At sf0.1 (952,055 rows) six gates lose.
    *
    * Measured with `graft.dev.Probe <cy01…cy33> <sf> 5` and
    * `--ab:` forced codegen (`factoryMode=CODEGEN_ONLY`,
    * `wholeStage=true`), the legs alternating rep by rep, on a build
    * whose bound admitted every size, `local[4]` on a 4-core VM. Each
    * cell is interpreted / codegen ms, the median of reps 2–5 (rep 1
    * pays one-time set-up). The cold columns clear Spark's codegen
    * cache before each rep, as a session with more statement shapes
    * than the cache's 100 entries sees it (graftbench cypher-rw
    * compiles 142–150 classes a pass); with the cache kept ("warm",
    * reps 2–6 of 6), a repeated statement compiles nothing, and at
    * sf0.01 cy09, cy10 and cy26 run 29–42% slower interpreted.
    *
    * | gate | sf0.001 | sf0.01 | sf0.1 | sf0.01 warm |
    * |---|---|---|---|---|
    * | cy01 | 165 / 180 | 175 / 220 | 230 / 260 | 190 / 160 |
    * | cy02 | 115 / 165 | 175 / 225 | 165 / 235 | 140 / 140 |
    * | cy03 | 295 / 450 | 465 / 725 | 840 / 840 | 410 / 440 |
    * | cy04 | 145 / 255 | 185 / 325 | 185 / 290 | 120 / 130 |
    * | cy05 | 90 / 105 | 115 / 165 | 145 / 170 | 90 / 80 |
    * | cy06 | 210 / 315 | 305 / 460 | 400 / 540 | 210 / 230 |
    * | cy07 | 150 / 210 | 210 / 280 | 340 / 430 | 150 / 180 |
    * | cy08 | 145 / 220 | 210 / 300 | 310 / 400 | 120 / 120 |
    * | cy09 | 355 / 360 | 650 / 660 | 2,470 / 2,220 | 480 / 370 |
    * | cy10 | 320 / 335 | 495 / 500 | 1,735 / 1,455 | 360 / 280 |
    * | cy11 | 220 / 255 | 250 / 310 | 480 / 630 | 200 / 170 |
    * | cy12 | 465 / 785 | 445 / 745 | 750 / 1,145 | 460 / 480 |
    * | cy13 | 90 / 150 | 95 / 160 | 375 / 295 | 100 / 80 |
    * | cy14 | 210 / 305 | 205 / 370 | 435 / 585 | 190 / 250 |
    * | cy15 | 90 / 100 | 95 / 120 | 155 / 175 | 90 / 90 |
    * | cy16 | 110 / 175 | 115 / 215 | 245 / 335 | 100 / 110 |
    * | cy17 | 80 / 115 | 105 / 145 | 160 / 225 | 60 / 70 |
    * | cy18 | 70 / 90 | 85 / 100 | 150 / 190 | 70 / 60 |
    * | cy19 | 580 / 940 | 500 / 890 | 885 / 1,160 | 600 / 660 |
    * | cy20 | 80 / 100 | 75 / 80 | 120 / 150 | 80 / 70 |
    * | cy21 | 110 / 135 | 105 / 130 | 425 / 685 | 110 / 110 |
    * | cy22 | 80 / 90 | 70 / 85 | 105 / 125 | 80 / 60 |
    * | cy23 | 255 / 335 | 225 / 270 | 520 / 590 | 230 / 230 |
    * | cy24 | 240 / 325 | 265 / 355 | 535 / 685 | 230 / 210 |
    * | cy25 | 260 / 345 | 340 / 345 | 1,050 / 940 | 260 / 240 |
    * | cy26 | 205 / 300 | 380 / 355 | 2,710 / 1,525 | 270 / 190 |
    * | cy27 | 135 / 235 | 165 / 260 | 475 / 415 | 160 / 150 |
    * | cy28 | 90 / 110 | 120 / 150 | 465 / 475 | 110 / 110 |
    * | cy29 | 110 / 140 | 115 / 160 | 190 / 220 | 90 / 80 |
    * | cy30 | 135 / 205 | 150 / 255 | 355 / 395 | 120 / 110 |
    * | cy31 | 320 / 395 | 480 / 470 | 2,350 / 1,795 | 330 / 300 |
    * | cy32 | 490 / 605 | 715 / 805 | 2,310 / 2,550 | 350 / 380 |
    * | cy33 | 230 / 255 | 245 / 255 | 570 / 600 | 160 / 150 |
    * | all | 6,645 / 9,085 | 8,330 / 10,890 | 22,635 / 22,730 | 6,720 / 6,490 |
    */
  val CypherMaxRows: Long = 100000L

  /** The bound [[statement]] applies; tests bind 0 to force codegen. */
  private[graft] val cypherBound = new DynamicVariable[Long](CypherMaxRows)

  /** The running statement's twin: None outside a statement, Some(None)
    * in a statement that compiles. */
  private val current = new DynamicVariable[Option[Option[SparkSession]]](None)

  /** `body` as one Cypher statement of `spark` over `g`: decided once,
    * with one `[codegen]` debug line; a statement nested in another
    * keeps the outer one's choice. */
  def statement[T](spark: SparkSession, g: GraphState)(body: => T): T =
    if (current.value.isDefined) body
    else current.withValue(Some(decide(spark, g)))(body)

  /** `df` bound to the running statement's twin; `df` itself outside a
    * statement or in one that compiles. */
  def interpreted(df: DataFrame): DataFrame =
    current.value.flatten.fold(df)(shims.rebind(_, df))

  /** `df.localCheckpoint(eager)`, planned (and, when eager, run) on the
    * running statement's twin and bound back to `df`'s session: planning
    * a checkpoint runs `execute()`, which compiles. */
  def checkpoint(df: DataFrame, eager: Boolean): DataFrame =
    current.value.flatten.fold(df.localCheckpoint(eager)) { twin =>
      shims.rebind(df.sparkSession,
        shims.rebind(twin, df).localCheckpoint(eager))
    }

  /** The interpreted twin of `spark` under its conf `named`. */
  private def twin(spark: SparkSession, named: Map[String, String])
      : SparkSession =
    SessionCache.getOrCompute(spark, ("codegen.twin", named)) {
      val t = shims.cloneSession(spark)
      Interpreted.foreach { case (k, v) => t.conf.set(k, v) }
      t
    }

  private def decide(spark: SparkSession, g: GraphState)
      : Option[SparkSession] = {
    val bound = cypherBound.value
    val rows = g.knownRows
    val named = spark.conf.getAll
    val (choice, why) =
      if (namesCodegen(named))
        (None, "codegen keys as the session names them")
      else if (rows.exists(_ <= bound))
        (Some(twin(spark, named)), "interpreted")
      else (None, "codegen")
    Dbg(spark, s"[codegen] cypher statement: " +
      s"rows=${rows.fold("unknown")(_.toString)} bound=$bound $why")
    choice
  }
}
