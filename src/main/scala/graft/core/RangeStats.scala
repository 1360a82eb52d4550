package graft.core

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The counters of the reference's `RangeStats`
  * (spark-job/.../RangeStats.java:29-198): the seven summable
  * [[RangeStats.Counters]] and the skipped count. The reference's
  * error-partition counter has no field: quarantined rows are journaled
  * to `errors` and served by the errors endpoints. A table's stats are the sum
  * of its per-bucket counter rows (`task_status`) and its skipped count,
  * merged by [[+]], the reference's `accumulate`
  * (RangeStats.java:157-178), once per table on the driver, as the
  * reference reduces once per job (DiffJob.java:172-184). The runner's
  * totals and the stats queries all sum through [[RangeStats.sum]].
  */
final case class RangeStats(
    matchedPartitions: Long = 0L,
    mismatchedPartitions: Long = 0L,
    onlyInSource: Long = 0L,
    onlyInTarget: Long = 0L,
    matchedRows: Long = 0L,
    matchedValues: Long = 0L,
    mismatchedValues: Long = 0L,
    skippedPartitions: Long = 0L) {

  /** The reference's `accumulate`: every counter summed. `RangeStats()`
    * is its identity.
    */
  def +(o: RangeStats): RangeStats =
    RangeStats.of(values.zip(o.values).map { case (a, b) => a + b })

  /** `table`'s `job_results` row, in [[RangeStats.RowSchema]]. */
  def toRow(table: String): Row =
    Row.fromSeq(values :+ table)

  private def values: IndexedSeq[Long] =
    productIterator.map(_.asInstanceOf[Long]).toIndexedSeq
}

object RangeStats {

  /** The seven summable counters, in journal column order: every counter
    * row (task_status, digest credit, job_results) carries them.
    */
  val Counters: Seq[String] = Seq("matched_partitions",
    "mismatched_partitions", "only_in_source", "only_in_target",
    "matched_rows", "matched_values", "mismatched_values")

  /** The column of each field, in field order. */
  private val Columns = Counters :+ "skipped_partitions"

  /** A `job_results` row: the [[Counters]], the skipped count, the table. */
  val RowSchema: StructType = StructType(
    Counters.map(StructField(_, LongType, nullable = false)))
    .add("skipped_partitions", LongType)
    .add("table_name", StringType, nullable = false)

  /** A `task_status` or `job_results` row's counters. A null or absent
    * counter, and an absent `skipped_partitions`, read as 0.
    */
  def fromRow(row: Row): RangeStats = of(Columns.map(c =>
    if (!row.schema.fieldNames.contains(c) || row.isNullAt(row.fieldIndex(c))) 0L
    else row.getAs[Number](c).longValue).toIndexedSeq)

  /** One table's stats: its counter rows, at most `buckets` of them,
    * summed with [[+]], plus the `skipped` partitions.
    */
  def sum(rows: Iterable[Row], skipped: Long): RangeStats =
    rows.foldLeft(RangeStats(skippedPartitions = skipped))(_ + fromRow(_))

  private def of(v: IndexedSeq[Long]): RangeStats =
    RangeStats(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7))
}
