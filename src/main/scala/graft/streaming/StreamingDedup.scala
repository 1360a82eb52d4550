package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Dedup

/** Streaming deduplication — the continuous form of the batch dedup
  * operators, for ingest pipelines where the corpus arrives as a stream
  * (crawl output, CDC feed) and exact duplicates must be dropped before
  * they reach storage.
  *
  * State discipline: dedup state is keyed by the 128-bit content hash
  * only (not the document), and the event-time watermark bounds how long
  * each hash is retained — the two things that keep state from growing
  * with the corpus. Re-emissions beyond the watermark horizon are the
  * documented trade-off, exactly as in Spark's own
  * `dropDuplicatesWithinWatermark` contract.
  */
object StreamingDedup {

  /** Drop exact-duplicate documents (same normalized content hash as
    * [[Dedup.contentHash]]) arriving within `watermark` of each other.
    * Output: the input rows that survived, plus the `content_hash`
    * column.
    */
  def dropExactDups(stream: DataFrame, textCol: String, tsCol: String,
      watermark: String = "10 minutes"): DataFrame =
    stream
      .withColumn("content_hash", Dedup.contentHash(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")
}
