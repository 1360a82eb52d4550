package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.TableSpec

/** Incremental / continuous diff via Structured Streaming.
  *
  * The reference is strictly batch (SURVEY §1.1: no streaming anywhere);
  * its closest feature is resumable-batch via the journal (O12). This
  * module is the natural extension the reference doc itself hints at
  * ("continuous validation"): feed CHANGES of both sides as streams and
  * maintain per-partition match state with `mapGroupsWithState`.
  *
  * Input contract: a stream of row-level change records
  * `(side, token, pk..., row_hash)` where side ∈ {source, target} — e.g.
  * CDC feeds or periodic snapshot deltas of the two clusters. State per
  * partition key: the latest row-hash seen from each side; output on
  * every update: the partition's current classification. Watermarked
  * event-time variants can bound state retention.
  */
object StreamingDiff {

  case class Change(side: String, token: Long, pk: String, rowHash: Long, ts: java.sql.Timestamp)
  case class PartitionState(srcHash: Option[Long], tgtHash: Option[Long])
  case class PartitionVerdict(pk: String, token: Long, classification: String)

  /** Classification from the two last-seen hashes — same taxonomy as the
    * batch engine (MismatchType.java:22-28).
    */
  def classify(st: PartitionState): String = (st.srcHash, st.tgtHash) match {
    case (Some(_), None) => graft.core.Classification.OnlyInSource
    case (None, Some(_)) => graft.core.Classification.OnlyInTarget
    case (Some(a), Some(b)) if a == b => graft.core.Classification.Matched
    case (Some(_), Some(_)) => graft.core.Classification.PartitionMismatch
    case (None, None) => graft.core.Classification.Skipped
  }

  /** Stateful streaming diff: one state entry per partition key, updated
    * as change records arrive from either side; emits the new verdict for
    * every touched partition each micro-batch.
    */
  def verdicts(changes: Dataset[Change]): Dataset[PartitionVerdict] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(c => (c.pk, c.token))
      .mapGroupsWithState[PartitionState, PartitionVerdict](
        GroupStateTimeout.NoTimeout) {
        case ((pk, token), rows, state: GroupState[PartitionState]) =>
          var st = state.getOption.getOrElse(PartitionState(None, None))
          // apply in timestamp order so replays converge
          rows.toSeq.sortBy(_.ts.getTime).foreach { c =>
            st =
              if (c.side == "source") st.copy(srcHash = Some(c.rowHash))
              else st.copy(tgtHash = Some(c.rowHash))
          }
          state.update(st)
          PartitionVerdict(pk, token, classify(st))
      }
  }

  /** Batch→stream adapter: turn a table snapshot into the change-record
    * shape (row hash = xxhash64 of all regular columns), for tests and
    * for replaying snapshot deltas through the streaming path.
    */
  def snapshotAsChanges(df: DataFrame, spec: TableSpec, side: String): DataFrame = {
    // row hash must DISCRIMINATE nulls: xxhash64 skips null children, so
    // (5, NULL) and (NULL, 5) would collide. Hash the JSON rendering of
    // the regular-column struct — null positions stay distinct.
    val regStruct = to_json(struct(spec.regular.map(col): _*))
    df.select(
      lit(side).as("side"),
      xxhash64(spec.pk.map(col): _*).as("token"),
      concat_ws("|", spec.primaryKey.map(col): _*).as("pk"),
      xxhash64(regStruct).as("rowHash"),
      current_timestamp().as("ts"))
  }
}
