package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming over the events table (SURVEY.md §2.A
  * streaming/temporal): windowed aggregation with watermarks and custom
  * per-key state via mapGroupsWithState.
  *
  * The reference's only streaming analogue is the ChangeTracker append log
  * (change_tracker.rs:22-25) with no late-data handling at all — the
  * watermark semantics here are defined by us on the driver's events
  * table. Batch and streaming share the same transformation code
  * (DataFrame in, DataFrame out), the core Structured Streaming design
  * promise; Temporal.scala applies the same ops in batch.
  */
object EventStreams {

  /** Micros-precision epoch of a Timestamp — the nanos->micros
    * truncation discipline every stateful operator's (ts, id) sort
    * uses (TESTDATA.md events contract; see [[graft.sources.EventTs]]). */
  private def microsOf(t: java.sql.Timestamp): Long = {
    val i = t.toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Tumbling-window counts/sums per event type with a watermark for late
    * data. Works identically on a batch or streaming input. */
  def windowedAggregates(events: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      // exact decimal sum → identical result in batch, streaming, and any
      // engine, independent of aggregation order
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double")
          .as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding-window variant. */
  def slidingAggregates(events: DataFrame, windowLen: String = "1 hour",
      slide: String = "15 minutes", watermark: String = "10 minutes")
      : DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"))

  final case class UserEvent(event_id: Long,
      ts: java.sql.Timestamp, user_id: Long, event_type: String,
      value: Double)
  final case class UserSessionState(nEvents: Long, totalValue: Double,
      lastTs: Long)
  final case class UserSummary(user_id: Long, n_events: Long,
      total_value: Double)

  /** Custom per-key running state (KeyValueGroupedDataset
    * .mapGroupsWithState): running event count + value sum per user.
    * The streaming analogue of the reference's per-entity state in its
    * in-memory engine (graph.rs adjacency upkeep). */
  def userRunningState(events: DataFrame)(implicit spark: SparkSession)
      : DataFrame = {
    import spark.implicits._
    events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserSessionState, UserSummary](
        GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[UserSessionState]) =>
          val prev = state.getOption.getOrElse(UserSessionState(0L, 0.0, 0L))
          var n = prev.nEvents
          var total = prev.totalValue
          var last = prev.lastTs
          evs.foreach { e =>
            n += 1
            total += e.value
            last = math.max(last, e.ts.getTime)
          }
          state.update(UserSessionState(n, total, last))
          UserSummary(uid, n, total)
      }.toDF()
  }

  final case class SessionState(startMicros: Long, endMicros: Long,
      n: Long)
  final case class SessionOut(user_id: Long,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
      n_events: Long)

  /** Streaming approximate distinct users per window: HLL sketch state
    * inside the streaming aggregation — fixed-size per (window, key)
    * whatever the cardinality, the sketch argument that makes
    * count-distinct feasible in an unbounded stream (exact distinct
    * would hold every user id in state forever). rsd defaults to 0.02
    * here (tighter than Spark's 0.05 default — a larger but still
    * fixed-size sketch); the st10 gate certifies the estimate against
    * the exact batch count per window. */
  def windowedApproxDistinct(events: DataFrame, keyCol: String,
      windowLen: String = "1 hour",
      watermark: String = "10 minutes",
      rsd: Double = 0.02): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(approx_count_distinct(col(keyCol), rsd).as("n_approx"))
      .select(col("window.start").as("window_start"),
        col("n_approx"))

  final case class FunnelState(timesMicros: Seq[Long])
  final case class FunnelOut(user_id: Long, times_millis: Seq[Long])

  /** Streaming ordered funnel: per-user state is the completed stage
    * prefix; a user EMITS exactly once, when the last stage completes.
    * Within a batch, stages resolve by a stage-outer earliest-first
    * scan — exactly the batch `EventOps.funnel` semantics (stage k =
    * earliest qualifying event at-or-after stage k−1), including
    * equal-timestamp events regardless of delivery order. Across
    * micro-batches the contract is: each user's events arrive in
    * event-time order, with equal-timestamp events delivered in the
    * same batch. Completed users keep a full-state tombstone so late
    * duplicates can't re-emit. Output times are epoch millis, matching
    * the batch gate's truncation. */
  def funnelStream(events: DataFrame, stages: Seq[String])
      (implicit spark: SparkSession): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    import spark.implicits._
    events
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[FunnelState]) =>
          var times = state.getOption.map(_.timesMicros).getOrElse(Nil)
          if (times.length >= stages.length) Iterator.empty // done
          else {
            val sorted = evs.toSeq
              .sortBy(e => (microsOf(e.ts), e.event_id))
            // stage-OUTER scan: each stage takes the earliest event of
            // its type at-or-after the previous stage, re-scanning the
            // batch — a single event-ordered pass would discard a
            // qualifying event that sorts before the stage it follows
            // at an equal timestamp and diverge from the batch funnel
            var advanced = true
            while (times.length < stages.length && advanced) {
              val prev = times.lastOption.getOrElse(Long.MinValue)
              val hit = sorted.find(e =>
                e.event_type == stages(times.length) &&
                  microsOf(e.ts) >= prev)
              advanced = hit.isDefined
              hit.foreach(e => times = times :+ microsOf(e.ts))
            }
            if (times.nonEmpty) state.update(FunnelState(times))
            if (times.length == stages.length)
              Iterator.single(FunnelOut(uid, times.map(_ / 1000)))
            else Iterator.empty
          }
      }.toDF()
  }

  final case class SeqMatchState(pos: Int, count: Long)
  final case class SeqMatchOut(user_id: Long, match_no: Long,
    end_millis: Long)

  /** Streaming sequence-pattern matching (the MATCH_RECOGNIZE idiom,
    * streaming form): per user, count non-overlapping
    * `start middle* end` runs with a two-state automaton — state is
    * ONE (position, count) pair per user, bounded forever, unlike the
    * batch signature string which grows with history. Emits one
    * Append-mode row per COMPLETED match (user, running match number,
    * end-event time).
    *
    * The automaton replays Java/RE2 leftmost non-overlapping greedy
    * semantics for this pattern family: in the armed state a `start`
    * event re-anchors (the failed earlier attempt backtracks to the
    * later anchor, exactly what the regex engine's scan does), a
    * middle event holds, an `end` event completes, anything else
    * disarms. Batch parity with the q36 regex gate is pinned by st12
    * under the documented event-time-ordered source contract. */
  def sequenceMatchStream(events: DataFrame, start: String,
      middle: Set[String], end: String)
      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    events
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqMatchState, SeqMatchOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[SeqMatchState]) =>
          var st = state.getOption.getOrElse(SeqMatchState(0, 0L))
          val out = scala.collection.mutable.ListBuffer.empty[SeqMatchOut]
          evs.toSeq.sortBy(e => (microsOf(e.ts), e.event_id)).foreach {
            e =>
              val c = e.event_type
              if (st.pos == 0) {
                if (c == start) st = st.copy(pos = 1)
              } else {
                if (c == end) {
                  st = SeqMatchState(0, st.count + 1)
                  out += SeqMatchOut(uid, st.count, microsOf(e.ts) / 1000)
                } else if (middle.contains(c) || c == start) {
                  // middle holds; start re-anchors (same armed state)
                } else st = st.copy(pos = 0)
              }
          }
          state.update(st)
          out.iterator
      }.toDF()
  }

  final case class TransState(lastType: String)
  final case class TransOut(user_id: Long, src_type: String,
    dst_type: String)

  /** Streaming first-order Markov transitions (the stateful
    * continuation of `EventOps.transitionCounts`): per-user state is
    * ONE string — the type of the user's latest event — so a
    * transition spanning a micro-batch boundary (user's last event of
    * batch N, first event of batch N+1) is emitted exactly like an
    * intra-batch one. O(1) state per user forever; each event emits at
    * most one Append row. Must reproduce the batch matrix exactly
    * under the event-time-ordered source contract (gate st18 feeds
    * THREE time-ranged files one micro-batch each to force the
    * boundary case). */
  def transitionStream(events: DataFrame)
      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    events
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[TransState]) =>
          var last = state.getOption.map(_.lastType)
          val out = scala.collection.mutable.ListBuffer.empty[TransOut]
          evs.toSeq.sortBy(e => (microsOf(e.ts), e.event_id)).foreach {
            e =>
              last.foreach(l => out += TransOut(uid, l, e.event_type))
              last = Some(e.event_type)
          }
          last.foreach(l => state.update(TransState(l)))
          out.iterator
      }.toDF()
  }

  final case class AttrState(ftType: Option[String], ftMs: Option[Long],
    ltType: Option[String], ltMs: Option[Long])
  final case class AttrOut(conversion_id: Long, user: Long,
    last_touch: Option[String], last_touch_ms: Option[Long],
    first_touch: Option[String], first_touch_ms: Option[Long])

  /** Streaming first/last-touch attribution: per-user state is TWO
    * (type, millis) pairs — first-ever touch and most recent touch —
    * O(1) forever; each conversion event emits one Append row carrying
    * the state at its (ts, id) position. Must equal the batch
    * `EventOps.attribution` exactly under the event-time-ordered
    * source contract (gate st13). */
  def attributionStream(events: DataFrame, touchTypes: Set[String],
      conversionType: String)
      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    events
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, AttrOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, evs, state: GroupState[AttrState]) =>
          var st = state.getOption.getOrElse(
            AttrState(None, None, None, None))
          val out = scala.collection.mutable.ListBuffer.empty[AttrOut]
          evs.toSeq.sortBy(e => (microsOf(e.ts), e.event_id)).foreach {
            e =>
              if (touchTypes.contains(e.event_type)) {
                val ms = microsOf(e.ts) / 1000
                if (st.ftType.isEmpty)
                  st = st.copy(ftType = Some(e.event_type),
                    ftMs = Some(ms))
                st = st.copy(ltType = Some(e.event_type),
                  ltMs = Some(ms))
              } else if (e.event_type == conversionType)
                out += AttrOut(e.event_id, uid, st.ltType, st.ltMs,
                  st.ftType, st.ftMs)
          }
          state.update(st)
          out.iterator
      }.toDF()
  }

  /** Gap-based sessionization, batch form (gaps-and-islands): a new
    * session starts when the whole-second delta to the previous event
    * exceeds `gapSeconds`. One shuffle on user_id; the running flags are
    * per-key window functions. Whole-second deltas keep the boundary
    * decision identical across engines regardless of sub-second timestamp
    * precision (parquet nanos vs Spark micros). */
  def sessionizeBatch(events: DataFrame, gapSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
        col("ts").cast("long") - col("__prev").cast("long") > gapSeconds, 1)
        .otherwise(0))
      .withColumn("sess_seq", sum(col("__new")).over(run))
      .groupBy(col("user_id"), col("sess_seq"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Gap-based sessionization, streaming form: per-user open-session
    * state via flatMapGroupsWithState with an event-time timeout.
    * Sessions closed by a later event emit immediately; the open session
    * emits when the watermark passes its end + gap. Batch and streaming
    * forms produce identical sessions (asserted in the spec) — the same
    * whole-second gap rule on both paths. */
  def sessionizeStream(events: DataFrame, gapSeconds: Long,
      watermark: String = "0 seconds")(implicit spark: SparkSession)
      : DataFrame = {
    import spark.implicits._
    def tsOf(micros: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(micros / 1000000 * 1000)
      t.setNanos((micros % 1000000).toInt * 1000)
      t
    }
    def out(uid: Long, s: SessionState): SessionOut =
      SessionOut(uid, tsOf(s.startMicros), tsOf(s.endMicros), s.n)
    events
      .withWatermark("ts", watermark)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, evs, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(out(uid, s))
          } else {
            val sorted = evs.toSeq.sortBy(e => (microsOf(e.ts), e.event_id))
            var open = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val micros = microsOf(e.ts)
              open match {
                case Some(s)
                    if micros / 1000000 - s.endMicros / 1000000
                      <= gapSeconds =>
                  open = Some(SessionState(s.startMicros,
                    math.max(s.endMicros, micros), s.n + 1))
                case Some(s) =>
                  closed += out(uid, s)
                  open = Some(SessionState(micros, micros, 1))
                case None =>
                  open = Some(SessionState(micros, micros, 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(
                s.endMicros / 1000 + gapSeconds * 1000 + 1)
            }
            closed.result().iterator
          }
      }.toDF()
  }

  /** Streaming graph ingestion: each micro-batch projects to vertex rows
    * and upserts into the session's GraphState via foreachBatch — the
    * streaming write path for graph mutations (the reference's
    * ChangeTracker append analogue, but with set-oriented batch upserts
    * instead of row-at-a-time calls). The upsert pins the projection
    * when it runs (GraphState.pin), so the snapshot keeps no lineage
    * into a micro-batch DataFrame that expires with its trigger. */
  def graphUpsertSink(spark: SparkSession, sourceDir: String,
      session: graft.api.GraftSession,
      toVertices: DataFrame => DataFrame): Unit = {
    val raw = graft.sources.EventTs.readStream(spark, sourceDir)
    StreamRun.drain(spark, raw.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        session.bulkInsert(vertices = toVertices(batch))
      })
  }

  /** Stream-stream INTERVAL self-join: each click matched to the same
    * user's views in the preceding `windowSeconds`. Both sides carry
    * watermarks (state eviction — at production scale join state is
    * bounded by watermark × arrival rate, not history) and the join
    * condition is an equi-key plus an event-time range, exactly the
    * shape Structured Streaming's state store supports. Inner join:
    * matches emit as they form, so a bounded source yields the complete
    * deterministic pair set. */
  def clickViewJoin(events: DataFrame, windowSeconds: Int): DataFrame =
    clickViewJoinImpl(events, windowSeconds, "inner")

  /** Stream-stream LEFT OUTER interval join: clickViewJoin's pair set
    * PLUS one (click_id, NULL) row per click that matched no view —
    * emitted only when the watermark passes the click's last possible
    * match time and its state is evicted (Append mode can't know "no
    * match" any earlier). This is the streaming-semantics difference a
    * batch LEFT JOIN hides: unmatched rows near the stream's head —
    * clicks the final watermark never passed — stay in state and are
    * never emitted. At production scale the state bound is identical to
    * the inner join's (watermark × arrival rate); the outer rows ride
    * the same eviction pass the state store already does. */
  def clickViewJoinOuter(events: DataFrame, windowSeconds: Int): DataFrame =
    clickViewJoinImpl(events, windowSeconds, "left_outer")

  /** Shared builder for the inner/outer interval join. The 1 h
    * watermark DELAY is late-data tolerance, independent of
    * `windowSeconds`: state eviction is derived by Spark from the join
    * CONDITION plus the watermark (a click expires only when no
    * non-late view can still satisfy `vts <= cts`), so a window longer
    * than the delay evicts correctly — the two knobs need not be
    * coupled. */
  private def clickViewJoinImpl(events: DataFrame, windowSeconds: Int,
      joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id"), col("ts").as("cts"))
      .withWatermark("cts", "1 hour")
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"),
        col("user_id").as("v_user_id"), col("ts").as("vts"))
      .withWatermark("vts", "1 hour")
    clicks.join(views,
      col("user_id") === col("v_user_id") &&
        col("vts") >= col("cts") - expr(s"INTERVAL $windowSeconds SECONDS") &&
        col("vts") <= col("cts"),
      joinType)
      .select(col("click_id"), col("view_id"))
  }

  /** Drive any of the above as a real streaming query from a parquet dir,
    * landing results in an in-memory table — used by tests and as the
    * template for production sinks (kafka/parquet/foreachBatch).
    * `statePartitions` pins the query's shuffle-partition count
    * ([[StreamRun]]). */
  def runToMemory(spark: SparkSession, sourceDir: String, queryName: String,
      transform: DataFrame => DataFrame,
      outputMode: OutputMode = OutputMode.Append,
      statePartitions: Option[Int] = None,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val raw = graft.sources.EventTs.readStream(spark, sourceDir,
      maxFilesPerTrigger)
    StreamRun.drain(spark, transform(raw).writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode), statePartitions)
    spark.table(queryName)
  }
}
