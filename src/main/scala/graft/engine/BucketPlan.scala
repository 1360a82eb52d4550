package graft.engine

import scala.collection.immutable.SortedMap

import org.apache.spark.sql.{Column, DataFrame, Row}

import graft.core.{RangeStats, TableSpec}

/** Which buckets of one table a diff compares. The reference decides each
  * range's fate in one place (RangeComparator, SURVEY O12/O13); here
  * `DiffRunner` and the digest queries of [[DiffEngine]] all take their
  * sets from [[BucketPlan.decide]], a pure function of at most `buckets`
  * rows per input, collected once.
  *
  * @param skip    the buckets not re-compared; their journal rows stand
  * @param retired the buckets live in the prior digests, gone from both
  *                sides now
  * @param clean   digest-first: the digest rows of the pending buckets
  *                whose digests agree, journaled as digest credit
  * @param dirty   digest-first: the pending buckets whose digests disagree
  * @param restriction the one restriction of both sides: `left_semi` on
  *                the dirty set, `left_anti` on the skip set, or none
  */
final case class BucketPlan(skip: Set[Long], retired: Seq[Long],
    clean: Seq[Row], dirty: Seq[Long],
    restriction: Option[(String, Seq[Long])]) {

  /** `df` under [[restriction]], by [[DiffEngine.restrictBuckets]]. */
  def restrict(df: DataFrame, spec: TableSpec, buckets: Int,
      token: Seq[Column] => Column): DataFrame =
    restriction.fold(df) { case (how, ids) =>
      DiffEngine.restrictBuckets(df, spec, buckets, token, ids, how) }

  /** The counter rows this plan journals without a join, in
    * [[DiffEngine.bucketProgressFromPartitions]] columns: each clean
    * bucket's digest credit, then zero counters (and a null `last_token`)
    * per retired bucket, whose stale counters would otherwise replay.
    */
  def counterRows(table: String): Seq[Row] = {
    val cols = "bucket" +: RangeStats.Counters :+ "last_token"
    clean.map(r => Row.fromSeq(cols.map(r.getAs[Any]) :+ table)) ++
      retired.map(b => Row.fromSeq(b +: RangeStats.Counters.map(_ => 0L) :+ null :+ table))
  }

  /** A `bucket_digests` row per retired bucket: the bucket, then every
    * [[DiffEngine.DigestCols]] field null.
    */
  def tombstones: Seq[Row] =
    retired.map(b => Row.fromSeq(b +: DiffEngine.DigestCols.map(_ => null)))
}

object BucketPlan {

  /** The `task_status` status of a journaled bucket: every row the runner
    * journals is a whole bucket, so there is no in-progress watermark.
    */
  val StatusDone = "done"

  /** Every bucket compared: nothing skipped, retired or credited. */
  val All: BucketPlan = BucketPlan(Set.empty, Nil, Nil, Nil, None)

  /** The plan of one table. With `priorDigests` (incremental mode) the
    * skip set is the buckets present in both runs with every
    * [[DiffEngine.DigestCols]] field null-safe equal; otherwise it is O12
    * resume, the buckets whose prior status is [[StatusDone]] (`rerun`
    * re-compares them, Differ.java:166-171). A retired bucket has no
    * partitionStats rows, so its stale counters would replay forever: it
    * journals zero counters and a tombstone digest, which never equals a
    * current digest (a bucket whose rows come back is re-diffed) and is
    * not live, so a bucket retires once.
    *
    * @param digests this run's digest rows: `digestCompare` or
    *                `digestProgress` rows with `digestFirst`, else
    *                `sideDigests` rows
    */
  def decide(digests: SortedMap[Long, Row],
      priorDigests: Option[Map[Long, Row]] = None,
      priorStatus: Map[Long, Row] = Map.empty, rerun: Boolean = false,
      digestFirst: Boolean = false): BucketPlan = {
    def digestOf(r: Row): Seq[Any] = DiffEngine.DigestCols.map(r.getAs[Any])
    val prior = priorDigests.getOrElse(Map.empty)
    val skip: Set[Long] =
      if (priorDigests.isDefined)
        digests.keySet.filter(b => prior.get(b).map(digestOf)
          .contains(digestOf(digests(b))))
      else if (rerun) Set.empty
      else priorStatus.keySet.filter(
        priorStatus(_).getAs[String]("status") == StatusDone)
    val retired = prior.keySet.filter(b => !digests.contains(b) &&
      digestOf(prior(b)).exists(_ != null)).toSeq.sorted
    val (clean, dirty) =
      if (!digestFirst) (Nil, Nil)
      else digests.toSeq.filter { case (b, _) => !skip(b) }
        .partition(_._2.getAs[Boolean]("digest_match"))
    val restriction =
      if (digestFirst) Some("left_semi" -> dirty.map(_._1))
      else if (skip.isEmpty) None
      else Some("left_anti" -> skip.toSeq.sorted)
    BucketPlan(skip, retired, clean.map(_._2), dirty.map(_._1), restriction)
  }

  /** `df`'s rows by their `bucket` column, collected once. */
  def byBucket(df: DataFrame): SortedMap[Long, Row] =
    SortedMap.from(df.collect().map(r => r.getAs[Number]("bucket").longValue -> r))
}
