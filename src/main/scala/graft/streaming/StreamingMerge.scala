package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.core.TableSpec

/** Continuous MERGE — the streaming form of [[graft.functions.Merge]]'s
  * batch changeset application, for CDC feeds that must maintain a live
  * keyed snapshot (the "table mirror" every lakehouse CDC pipeline
  * converges to).
  *
  * The reference is strictly batch; its repair loop re-runs the diff and
  * re-applies a changeset per run. This is the natural continuous
  * extension: upsert/delete records arrive as a stream, per-key state
  * holds the LATEST payload (event-time wins, not arrival order, so
  * out-of-order and replayed feeds converge to the same snapshot), and
  * every micro-batch emits the new current row for each touched key.
  *
  * State discipline: one entry per LIVE key holding (payload, ts) — the
  * snapshot itself, which is the irreducible state of a mirror. Deletes
  * keep a tombstone (needed to beat late pre-delete upserts) that an
  * EVENT-time timeout garbage-collects once the watermark passes the
  * delete's time + `tombstoneTtlMs` (event-time, not processing-time:
  * a processing-time timeout forces the engine to busy-loop empty
  * micro-batches to poll the clock; the event-time form piggybacks on
  * the watermark and costs nothing when the stream is idle). A late
  * upsert older than the tombstone's delete is discarded; one arriving
  * after GC resurrects the key — the standard CDC-mirror trade-off,
  * bounded and documented rather than unbounded state.
  */
object StreamingMerge {

  /** op ∈ {"upsert", "delete"}; `payload` is the row rendering (JSON of
    * the regular columns via [[changesAsStream]]); `ts` is the CHANGE's
    * event time — the merge order.
    */
  case class ChangeRec(key: String, op: String, payload: String,
    ts: java.sql.Timestamp)

  /** Latest known state of one key. `live = false` is a tombstone. */
  case class KeyState(payload: String, tsMillis: Long, live: Boolean)

  /** Emitted on every micro-batch for each touched key: the key's new
    * current row (`live = false` ⇒ the key is now deleted).
    */
  case class SnapshotRow(key: String, payload: String, tsMillis: Long,
    live: Boolean)

  /** Apply a change in event-time order: strictly newer changes win;
    * ties resolve deterministically (delete beats upsert, then larger
    * payload) so replays and shuffled arrival converge byte-identically.
    */
  def apply1(st: Option[KeyState], c: ChangeRec): KeyState = {
    val cand = KeyState(if (c.op == "delete") "" else c.payload,
      c.ts.getTime, c.op != "delete")
    st match {
      case None => cand
      case Some(cur) =>
        val keep =
          if (cand.tsMillis != cur.tsMillis) cand.tsMillis > cur.tsMillis
          else if (cand.live != cur.live) !cand.live // delete wins ties
          else cand.payload > cur.payload
        if (keep) cand else cur
    }
  }

  /** The continuous mirror: one state entry per key, latest-wins by
    * event time; emits the key's new current row each micro-batch it is
    * touched. Tombstones are GC'd once the watermark (event time,
    * `watermarkDelay` behind max seen ts) passes their delete time +
    * `tombstoneTtlMs`; live keys never expire — they ARE the snapshot.
    */
  def mirror(changes: Dataset[ChangeRec],
      tombstoneTtlMs: Long = 600000L,
      watermarkDelay: String = "0 seconds"): Dataset[SnapshotRow] = {
    import changes.sparkSession.implicits._
    changes
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.key)
      .flatMapGroupsWithState[KeyState, SnapshotRow](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[KeyState]) =>
          if (state.hasTimedOut) {
            // only tombstones arm the timeout — drop the entry silently
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption
            rows.foreach(c => st = Some(apply1(st, c)))
            val s = st.get
            state.update(s)
            if (!s.live)
              // must be strictly past the current watermark or Spark rejects
              state.setTimeoutTimestamp(math.max(s.tsMillis + tombstoneTtlMs,
                state.getCurrentWatermarkMs + 1))
            Iterator.single(SnapshotRow(key, s.payload, s.tsMillis, s.live))
          }
      }
  }

  /** Batch→stream adapter: render a changeset (the shape
    * [[graft.functions.Merge.applyChangeset]] consumes: `opCol` +
    * key/regular columns) as [[ChangeRec]]s — key as the concatenated
    * primary key, payload as JSON of the regular columns (null positions
    * stay distinct).
    */
  def changesAsStream(changeset: DataFrame, spec: TableSpec,
      tsCol: String, opCol: String = "op"): DataFrame =
    changeset.select(
      concat_ws("|", spec.primaryKey.map(col): _*).as("key"),
      when(col(opCol) === "delete", lit("delete"))
        .otherwise(lit("upsert")).as("op"),
      when(col(opCol) === "delete", lit(""))
        .otherwise(to_json(struct(spec.regular.map(col): _*))).as("payload"),
      col(tsCol).as("ts"))
}
