package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization of event streams — part of the LLM-pipeline
  * operator set (grouping interaction logs into conversations/visits
  * before per-session curation). The reference engine has no
  * sessionization; both shapes here are pure Catalyst plans.
  *
  * Scale notes (100 TB): each shape shuffles ONCE on the user key and
  * reuses that exchange for everything downstream — the running sum in
  * [[sessionize]] rides the same window, and the rollup in
  * [[sessionStats]] hash-aggregates on (user, window) which
  * HashPartitioning(user) already clusters, so EnsureRequirements
  * inserts no second exchange. Per-user event counts bound window-state
  * memory; for a pathological single-user firehose use
  * [[sessionizeSalted]], which pre-splits each user by a time chunk and
  * stitches boundaries from a per-chunk summary.
  */
object Sessions {

  /** Per-event session assignment: `session_seq` starts at 1 for each
    * user's first event and increments whenever the gap since the
    * previous event EXCEEDS `gapMicros` — the same boundary rule as
    * Spark's built-in `session_window`, where a gap exactly equal to the
    * duration still merges (verified in SessionsSpec). `tieBreak`
    * columns make the within-user order total when timestamps collide,
    * keeping the numbering deterministic.
    */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
      gapMicros: Long, tieBreak: Seq[String] = Nil): DataFrame = {
    require(gapMicros > 0, "session gap must be positive")
    val order: Seq[Column] = col(tsCol) +: tieBreak.map(col)
    val w = Window.partitionBy(col(userCol)).orderBy(order: _*)
    val micros = unix_micros(col(tsCol))
    val prev = lag(micros, 1).over(w)
    val boundary = when(prev.isNull || micros - prev > gapMicros, 1L)
      .otherwise(0L)
    events.withColumn("session_seq",
      sum(boundary).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** [[sessionize]] with a hot-key pre-split: events are windowed over
    * (user, time-chunk) instead of (user), so a single-user firehose
    * spreads across one task per chunk rather than pinning one task with
    * every row. Cross-chunk boundaries are stitched from a per-chunk
    * summary — (first_ts, last_ts, local session count), ONE row per
    * (user, chunk) — whose per-user window touches chunk counts, never
    * events: a user emitting 10⁹ events/day for 10 years is ~3 650
    * summary rows. Output is bit-identical to [[sessionize]]
    * (property-tested in SessionsSpec): a chunk whose first event is
    * within `gapMicros` of the previous chunk's last event merges its
    * first local session into the previous session, and later local
    * sessions renumber from the cumulative effective count.
    */
  def sessionizeSalted(events: DataFrame, userCol: String, tsCol: String,
      gapMicros: Long, tieBreak: Seq[String] = Nil,
      splitMicros: Long = 86400000000L): DataFrame = {
    require(gapMicros > 0, "session gap must be positive")
    require(splitMicros > 0, "split granularity must be positive")
    val micros = unix_micros(col(tsCol))
    val order: Seq[Column] = col(tsCol) +: tieBreak.map(col)
    val chunked = events.withColumn("__chunk",
      floor(micros / lit(splitMicros)))
    val wLocal = Window.partitionBy(col(userCol), col("__chunk"))
      .orderBy(order: _*)
    val prev = lag(micros, 1).over(wLocal)
    val boundary = when(prev.isNull || micros - prev > gapMicros, 1L)
      .otherwise(0L)
    val local = chunked.withColumn("__local_seq",
      sum(boundary).over(
        wLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // per-chunk stitch summary: groupBy reuses the (user, chunk) exchange
    // the local window just built — no extra full-data shuffle
    val summary = local.groupBy(col(userCol), col("__chunk"))
      .agg(min(micros).as("__first"), max(micros).as("__last"),
        max(col("__local_seq")).as("__n"))
    val wChunk = Window.partitionBy(col(userCol)).orderBy(col("__chunk"))
    val prevLast = lag(col("__last"), 1).over(wChunk)
    val stitched = summary
      .withColumn("__continues",
        when(prevLast.isNotNull && col("__first") - prevLast <= gapMicros,
          1L).otherwise(0L))
      .withColumn("__base", coalesce(
        sum(col("__n") - col("__continues")).over(
          wChunk.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(userCol), col("__chunk"), col("__continues"), col("__base"))
    local.join(stitched, Seq(userCol, "__chunk"))
      .withColumn("session_seq",
        col("__base") + col("__local_seq") - col("__continues"))
      .select(events.columns.map(col) :+ col("session_seq"): _*)
  }

  /** Ordered conversion funnel: per key, the earliest instant each
    * stage completes given the previous stage completed STRICTLY before
    * it — first `stages(0)`, then the first `stages(1)` after that,
    * and so on. Events at exactly the previous stage's instant do not
    * advance the funnel (a click logged at the view's own timestamp
    * can't confirm the view). Output: one row per key with a nullable
    * `t_<stage>` timestamp per stage and `stages_completed`.
    *
    * Scale shape: ONE exchange on the key; every stage is a windowed
    * conditional-min over that same partitioning (EnsureRequirements
    * inserts no further shuffle between the chained Window operators),
    * and the final one-row-per-key rollup hash-aggregates on the
    * already-clustered key. Window state is the key's own events —
    * the same bound as [[sessionize]].
    */
  def funnel(events: DataFrame, keyCol: String, typeCol: String,
      tsCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "need at least one funnel stage")
    require(stages.distinct == stages, "funnel stages must be distinct")
    val w = Window.partitionBy(col(keyCol))
    val micros = unix_micros(col(tsCol))
    val staged = stages.zipWithIndex.foldLeft(events) {
      case (df, (stage, i)) =>
        // null-safe by construction: if stage i-1 never completed,
        // micros > null is null and the conditional min collects nothing
        val gate =
          if (i == 0) col(typeCol) === stage
          else col(typeCol) === stage && micros > col(s"__t${i - 1}")
        df.withColumn(s"__t$i", min(when(gate, micros)).over(w))
    }
    val firstAgg = max(col("__t0")).as("__m0")
    val restAgg = stages.indices.drop(1)
      .map(i => max(col(s"__t$i")).as(s"__m$i"))
    // built innermost-out: the final expression checks the DEEPEST
    // completed stage first (when(m_last, n)...otherwise(when(m0, 1)))
    val completed = stages.indices.foldLeft(lit(0L)) {
      case (acc, i) => when(col(s"__m$i").isNotNull, lit(i + 1L)).otherwise(acc)
    }
    staged.groupBy(col(keyCol))
      .agg(firstAgg, restAgg: _*)
      .select(col(keyCol) +:
        stages.zipWithIndex.map { case (stage, i) =>
          timestamp_micros(col(s"__m$i")).as(s"t_$stage")
        } :+ completed.as("stages_completed"): _*)
  }

  /** Session-level rollup via the built-in `session_window` grouping
    * (merge-on-overlap semantics; window end = last event + gap).
    */
  def sessionStats(events: DataFrame, userCol: String, tsCol: String,
      gap: String, valueCol: String): DataFrame =
    events
      .groupBy(col(userCol), session_window(col(tsCol), gap).as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(18,4)")).cast("double")
          .as("sum_value"))
      .select(col(userCol),
        col("sw.start").as("session_start"),
        col("sw.end").as("session_end"),
        col("n_events"), col("sum_value"))
}
