package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the (user, type, timestamp) shape —
  * ordered funnels and cohort retention, the two queries every
  * product-events pipeline runs.
  *
  * Scale shape: both operators are chains of per-user aggregations —
  * shuffles keyed by the user id with map-side partial aggregation, no
  * windows over raw events, no per-user event lists materialized. A
  * k-stage funnel is k filtered passes (each pass reads only its
  * stage's events — predicate pushed to the scan); retention is two
  * aggregations and one join on the user key.
  */
object EventOps {

  /** Ordered funnel: stage i counts only at-or-after the user's stage
    * i−1 time; each stage time is the EARLIEST such event. Returns one
    * row per user who entered the funnel: (user, t1..tk epoch-millis,
    * depth = completed prefix length). tk is NULL (and depth stops)
    * once a stage is missing — `min(when(ts ≥ t_prev))` propagates the
    * null through later stages, so depth is always a prefix count. */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    var acc = events.filter(col(typeCol) === stages.head)
      .groupBy(col(userCol).as("user"))
      .agg(min(col(tsCol)).as("t1"))
    stages.zipWithIndex.drop(1).foreach { case (stage, i) =>
      val k = i + 1
      val ev = events.filter(col(typeCol) === stage)
        .select(col(userCol).as("user"), col(tsCol).as("__ts"))
      val carried = (1 to i).map(j => col(s"t$j"))
      acc = acc.join(ev, Seq("user"), "left")
        .groupBy(col("user") +: carried: _*)
        .agg(min(when(col("__ts") >= col(s"t$i"), col("__ts")))
          .as(s"t$k"))
    }
    val depth = (1 to stages.length)
      .map(j => col(s"t$j").isNotNull.cast("long")).reduce(_ + _)
    val millis = (1 to stages.length)
      .map(j => unix_millis(col(s"t$j")).as(s"t$j"))
    acc.select((col("user") +: millis) :+ depth.as("depth"): _*)
  }

  /** Weekly cohort retention: users are cohorted by the Monday-start
    * week of their FIRST event; n_users counts the cohort's distinct
    * users active in each later week. Returns
    * (cohort_week 'yyyy-MM-dd', week_offset ≥ 0, n_users). */
  def retentionWeekly(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val first = events.groupBy(col(userCol).as("user"))
      .agg(date_trunc("week", min(col(tsCol))).as("cw"))
    val active = events.select(col(userCol).as("user"),
      date_trunc("week", col(tsCol)).as("w")).distinct()
    active.join(first, Seq("user"))
      .groupBy(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
        (datediff(col("w").cast("date"), col("cw").cast("date")) / 7)
          .cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** First/last-touch conversion attribution: for every conversion
    * event, the user's first-ever and most recent touch event at or
    * before it in EVENT ORDER — the (ts, id) lexicographic order, so a
    * same-timestamp touch with a lower id counts and one with a higher
    * id does not, deterministically on every engine. Conversions with
    * no preceding touch keep NULL attribution.
    *
    * Scale shape: ONE per-user ordered window over the events (the
    * sessionization shape — no self-join of conversions × touches,
    * which is the naive quadratic form). first/last carry the touch
    * STRUCT atomically, so type and time can never come from
    * different rows. */
  def attribution(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String, touchTypes: Seq[String],
      conversionType: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val touch = when(col(typeCol).isin(touchTypes: _*),
      struct(col(tsCol).as("t"), col(idCol).as("i"),
        col(typeCol).as("y")))
    events
      .withColumn("__lt", last(touch, ignoreNulls = true).over(w))
      .withColumn("__ft", first(touch, ignoreNulls = true).over(w))
      .filter(col(typeCol) === conversionType)
      .select(col(idCol).as("conversion_id"), col(userCol).as("user"),
        col("__lt.y").as("last_touch"),
        unix_millis(col("__lt.t")).as("last_touch_ms"),
        col("__ft.y").as("first_touch"),
        unix_millis(col("__ft.t")).as("first_touch_ms"))
  }

  /** Daily resample + forward fill (time-series gap filling): one row
    * per (key, day) over the keys' global [min, max] observed-day
    * range; a day with no observation carries the key's most recent
    * observed value forward (`filled` = 1). The carried per-day
    * observation is the day's LAST event (latest ts, id tie-break), so
    * every output value is a verbatim input value — no float
    * arithmetic, bit-exact across engines.
    *
    * Scale shape: one per-(key, day) aggregation with map-side
    * combine, a broadcast of the 2-value global day range, and one
    * per-key ordered window over the RESAMPLED grid (|keys| × |days|
    * rows — the semantic output size), never a window over raw events.
    */
  def gapFillDaily(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String): DataFrame = {
    val obs = events
      .groupBy(col(keyCol).as("key"), to_date(col(tsCol)).as("day"))
      .agg(max_by(col(valueCol), struct(col(tsCol), col(idCol)))
        .as("v"))
    val range = obs.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = obs.select(col("key")).distinct()
      .crossJoin(broadcast(range))
      .select(col("key"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy(col("key")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ff = last(col("v"), ignoreNulls = true).over(w)
    grid.join(obs, Seq("key", "day"), "left")
      .select(col("key"), col("day"), ff.as("value_ff"),
        (col("v").isNull && ff.isNotNull).cast("long").as("filled"))
  }

  /** Per-key ordered event-type signature: each event contributes one
    * code character (`codes`: type → char, first match wins, unknown
    * types → '?'), concatenated in (ts, id) order. The signature string
    * is the input to regex sequence-pattern matching (the
    * MATCH_RECOGNIZE idiom: funnel counts, anomaly motifs) — see gate
    * q36_seq_pattern.
    *
    * Scale shape: per-key sorted collect_list — bounded by per-key
    * activity (the same bound sessionization already accepts); the
    * array_sort/transform lambdas run interpreted but only once per
    * KEY over an already-aggregated array, not per raw event.
    */
  def eventSignature(events: DataFrame, keyCol: String, typeCol: String,
      tsCol: String, idCol: String,
      codes: Seq[(String, String)]): DataFrame = {
    require(codes.nonEmpty, "eventSignature needs at least one code")
    val code = codes.tail
      .foldLeft(when(col(typeCol) === codes.head._1, lit(codes.head._2))) {
        case (acc, (k, v)) => acc.when(col(typeCol) === k, lit(v))
      }.otherwise(lit("?"))
    events
      .groupBy(col(keyCol).as("key"))
      .agg(array_join(transform(array_sort(collect_list(struct(
          col(tsCol).as("t"), col(idCol).as("i"), code.as("c")))),
        x => x.getField("c")), "").as("sig"))
  }

  /** First-order Markov transition matrix over per-key event streams —
    * the user-journey summary behind "what happens after X" product
    * analytics and next-event baselines. For each key's events in
    * total (ts, tiebreak) order, every adjacent pair contributes one
    * (src_type, dst_type) observation; output is the count matrix plus
    * each row's source total (so downstream derives P(dst|src) = n /
    * src_total exactly).
    *
    * Scale shape: ONE shuffle on the key for the lead() window (state
    * per partition is a single row of lookahead, not a per-key list),
    * then a partial-aggregated count over the tiny type×type matrix
    * and a window over that matrix (≤ |types|² rows — nothing
    * data-scale is re-shuffled). Hot-key skew is bounded by the
    * hottest key's event count, same as sessionization.
    *
    * Returns (src_type, dst_type, n, src_total). */
  def transitionCounts(events: DataFrame, keyCol: String, typeCol: String,
      tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val pairs = events
      .select(col(keyCol), col(typeCol).as("src_type"),
        lead(col(typeCol), 1).over(w).as("dst_type"))
      .filter(col("dst_type").isNotNull)
      .groupBy(col("src_type"), col("dst_type"))
      .agg(count(lit(1)).as("n"))
    pairs.withColumn("src_total",
      sum(col("n")).over(Window.partitionBy(col("src_type"))))
  }
}
