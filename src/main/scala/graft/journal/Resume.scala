package graft.journal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** O12: the reference's mid-split resume rule. The reference journals
  * `last_token` per (split, table) and, on re-run, skips finished splits
  * (`lastToken == split.end`) and restarts in-progress ones from
  * `last_token` (Differ.java:153-171, 262-285; JobMetadataDb.java:182-217).
  *
  * [[pending]] is that rule at journal-bucket granularity: an anti-join of
  * the work-set against `done` buckets plus a `last_token` watermark filter
  * inside `in_progress` ones. The diff job does not call it: `DiffRunner`
  * journals only whole `done` buckets (no `in_progress` watermark) and
  * decides what a re-run skips with `BucketPlan.decide` over those rows.
  * `pending` is kept for the oracle-gated `diff_resume` query and for
  * committing a table in bucket waves (ROADMAP item 4), where a crash can
  * leave a bucket half done.
  */
object Resume {

  val StatusDone = "done"
  val StatusInProgress = "in_progress"

  /** Filter a keyed frame (must carry `token` and `bucket` columns) down
    * to the partitions still needing comparison given a journal state.
    *
    * @param journal rows (bucket, status, last_token)
    * @param rerun   the reference's `isRerun`: when true, done buckets are
    *                re-compared too (error re-runs, Differ.java:166-171)
    */
  def pending(work: DataFrame, journal: DataFrame, rerun: Boolean = false,
      tokenCol: String = "token", bucketCol: String = "bucket"): DataFrame = {
    if (rerun) return work
    val j = journal.select(
      col("bucket").as("__j_bucket"),
      col("status").as("__j_status"),
      col("last_token").as("__j_last_token"))
    work
      .join(j, work(bucketCol) === col("__j_bucket"), "left_outer")
      .filter(
        col("__j_status").isNull ||                       // untouched bucket
        (col("__j_status") === StatusInProgress &&        // mid-bucket watermark
          (col("__j_last_token").isNull || col(tokenCol) > col("__j_last_token"))))
      .drop("__j_bucket", "__j_status", "__j_last_token")
  }
}
