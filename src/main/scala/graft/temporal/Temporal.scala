package graft.temporal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal-graph operators (reference: lib/src/graph_evolution):
  * change-event logs, point-in-time replay, interval-validity edges.
  *
  * The reference replays by scanning a Vec of (ts, node?, edge?) events
  * (change_tracker.rs:28-44, last-write-wins for nodes, HashSet-dedup for
  * edges). Here the change log is an append-only DataFrame and replay is
  * one window function — a single shuffle on the entity key, at any scale.
  */
object Temporal {

  /** Point-in-time state: latest record per entity with ts <= asOf.
    * Deletes (op = 'delete') tombstone the entity away.
    * changeLog schema: (id, ts, op, ...payload). */
  def replayAsOf(changeLog: DataFrame, asOf: Column,
      idCol: String = "id", tsCol: String = "ts", opCol: String = "op")
      : DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col(tsCol).desc)
    changeLog
      .filter(col(tsCol) <= asOf)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) =!= "delete")
      .drop("__rn")
  }

  /** SCD-2 interval-validity filter: rows valid at `t`
    * (graph_evolution/models.rs:6-31 — start_time/end_time options;
    * open end = still valid). */
  def validAt(t: Column, startCol: Column, endCol: Column): Column =
    startCol <= t && (endCol.isNull || endCol > t)

  /** As-of join: for each left row, the single latest right row with
    * `right.ts <= left.ts` per key (SURVEY §2.A notes the reference's
    * only analogue is the TimeWindow filter; this is the real operator).
    *
    * Implemented with the union+window technique: tag sides, union on
    * (key, ts), carry the last-seen right payload forward with a running
    * window, keep left rows. ONE shuffle on (key), no range cross-join —
    * the shape that survives 100 TB (a per-key sort-merge, exactly what
    * a custom SparkPlan would do, but expressible declaratively).
    *
    * `left`/`right` must share `keyCol` and `tsCol`; right payload
    * columns get nulls on left rows pre-union. Ties (equal ts) resolve
    * right-row-first so a same-instant right row IS visible to the left
    * row (inclusive <=).
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String): DataFrame = {
    val leftCols = left.columns.toSeq
    val rightPayload = right.columns.toSeq
      .filterNot(c => c == keyCol || c == tsCol)
    val lTagged = left
      .withColumn("__side", lit(1))
      .select(Seq(col(keyCol), col(tsCol), col("__side")) ++
        leftCols.filterNot(c => c == keyCol || c == tsCol).map(col) ++
        rightPayload.map(c => lit(null).cast(
          right.schema(c).dataType).as(s"__r_$c")): _*)
    val rTagged = right
      .withColumn("__side", lit(0))
      .select(Seq(col(keyCol), col(tsCol), col("__side")) ++
        leftCols.filterNot(c => c == keyCol || c == tsCol)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightPayload.map(c => col(c).as(s"__r_$c")): _*)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    // Carry ONE struct of the whole right payload, not each column
    // independently: the latest right ROW must win atomically — a right
    // row with a legitimately-NULL payload value would otherwise be
    // patched with an older row's value (and multi-column results could
    // mix values from different right rows).
    val unioned = lTagged.unionByName(rTagged)
    val joined =
      (if (rightPayload.isEmpty) unioned
       else unioned.withColumn("__latest",
         last(when(col("__side") === 0,
             struct(rightPayload.map(c => col(s"__r_$c").as(c)): _*)),
           ignoreNulls = true).over(w)))
        .filter(col("__side") === 1)
    joined.select(
      (Seq(col(keyCol), col(tsCol)) ++
        leftCols.filterNot(c => c == keyCol || c == tsCol).map(col) ++
        rightPayload.map(c => col("__latest").getField(c).as(c))): _*)
  }

  /** Close open intervals for updated entities: given a current SCD-2
    * table and fresh rows, end-date the old version and append the new
    * (the reference's GraphEvolution.update closing behavior). */
  def scd2Upsert(current: DataFrame, fresh: DataFrame, idCol: String,
      tsCol: String): DataFrame = {
    val freshStarts = fresh.groupBy(col(idCol))
      .agg(min(col(tsCol)).as("__new_start"))
    val closed = current.join(freshStarts, Seq(idCol), "left")
      .withColumn("end_time",
        when(col("__new_start").isNotNull && col("end_time").isNull,
          col("__new_start")).otherwise(col("end_time")))
      .drop("__new_start")
    closed.unionByName(
      fresh.withColumn("end_time", lit(null).cast("timestamp")),
      allowMissingColumns = true)
  }

  /** Keyless interval (range) join: every point row matched to every
    * interval row with `start <= ts <= end` (both inclusive). The naive
    * plan is a cross join with an inequality filter — O(|points|·|ivs|)
    * comparisons, a scale-killer. Binned instead: points get ONE time
    * bin, intervals are replicated to each bin they overlap, and the
    * match becomes an equi-join on the bin (each true pair meets exactly
    * once — in the point's bin — so no post-join dedup). Replication
    * factor ≈ interval length / binSeconds + 1: pick binSeconds near the
    * typical interval length so the join stays linear in its true output
    * while the hot path is a plain hash join. Column names of the two
    * sides must be disjoint. */
  def rangeJoinBinned(points: DataFrame, tsCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      binSeconds: Long): DataFrame = {
    val p = points.withColumn("__bin",
      floor(unix_timestamp(col(tsCol)) / binSeconds).cast("long"))
    val i = intervals.withColumn("__bin",
      explode(sequence(
        floor(unix_timestamp(col(startCol)) / binSeconds).cast("long"),
        floor(unix_timestamp(col(endCol)) / binSeconds).cast("long"))))
    p.join(i, Seq("__bin"))
      .filter(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("__bin")
  }
}
