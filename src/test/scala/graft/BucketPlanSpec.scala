package graft

import scala.collection.immutable.SortedMap

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

import graft.core.RangeStats
import graft.engine.{BucketPlan, DiffEngine}

/** [[BucketPlan.decide]] on hand-built rows: every bucket decision of the
  * runner and the digest queries, and the counter rows a plan journals,
  * summed by [[RangeStats]], with no Spark job.
  */
class BucketPlanSpec extends SparkSpec {

  private val DigestSchema = StructType(StructField("bucket", LongType) +:
    DiffEngine.DigestCols.map(c => StructField(c,
      if (c.endsWith("_sum")) DecimalType(38, 0) else LongType)) :+
    StructField("digest_match", BooleanType))

  private val StatusSchema = StructType(Seq(
    StructField("bucket", LongType), StructField("status", StringType)))

  /** A digest row of `bucket` whose sides hold a digest derived from
    * their value; a side of None holds no rows, so its fields read null.
    */
  private def digest(bucket: Long, src: Option[Long], tgt: Option[Long]): Row = {
    def side(v: Option[Long]): Seq[Any] = v.fold(Seq[Any](null, null, null))(x =>
      Seq(x, new java.math.BigDecimal(x * 31), x ^ 0x5bd1e995L))
    new GenericRowWithSchema(
      ((bucket +: side(src)) ++ side(tgt) :+ (src.isDefined && src == tgt)).toArray,
      DigestSchema)
  }

  private def byBucket(rows: Row*): SortedMap[Long, Row] =
    SortedMap.from(rows.map(r => r.getLong(0) -> r))

  private def status(bucket: Long, s: String): (Long, Row) =
    bucket -> new GenericRowWithSchema(Array(bucket, s), StatusSchema)

  /** `body`'s value, asserting that it submitted no Spark job. */
  private def noJobs[T](body: => T): T = {
    var out: Option[T] = None
    assert(jobsOf { out = Some(body) } === Nil)
    out.get
  }

  test("resume skips the done buckets; rerun skips none") {
    val digests = byBucket((0L to 3L).map(b => digest(b, Some(b), Some(b))): _*)
    val prior = Map(status(1, BucketPlan.StatusDone), status(3, BucketPlan.StatusDone))
    val plan = noJobs(BucketPlan.decide(digests, priorStatus = prior))
    assert(plan.skip === Set(1L, 3L))
    assert(plan.restriction === Some("left_anti" -> Seq(1L, 3L)))
    assert(plan.retired.isEmpty && plan.clean.isEmpty && plan.dirty.isEmpty)
    val rerun = noJobs(BucketPlan.decide(digests, priorStatus = prior, rerun = true))
    assert(rerun.skip.isEmpty && rerun.restriction.isEmpty)
    // a plain first run: nothing to skip, no restriction
    assert(noJobs(BucketPlan.decide(SortedMap.empty)).restriction.isEmpty)
  }

  test("incremental mode skips the unchanged digests, null fields included") {
    val current = byBucket(
      digest(0, Some(5), Some(5)),   // unchanged
      digest(1, Some(7), None),      // unchanged, target side empty in both runs
      digest(2, Some(9), None),      // target side emptied since
      digest(3, Some(4), Some(6)),   // changed on the target side
      digest(4, Some(1), Some(1)))   // new bucket
    val prior = Map(0L -> digest(0, Some(5), Some(5)), 1L -> digest(1, Some(7), None),
      2L -> digest(2, Some(9), Some(9)), 3L -> digest(3, Some(4), Some(4)))
    // resume rows do not count in incremental mode
    val plan = noJobs(BucketPlan.decide(current, priorDigests = Some(prior),
      priorStatus = Map(status(3, BucketPlan.StatusDone))))
    assert(plan.skip === Set(0L, 1L))
    assert(plan.restriction === Some("left_anti" -> Seq(0L, 1L)))
    assert(plan.retired.isEmpty)
  }

  test("a tombstone never equals a current digest") {
    val plan = noJobs(BucketPlan.decide(byBucket(digest(4, Some(2), Some(2))),
      priorDigests = Some(Map(4L -> digest(4, None, None)))))
    assert(plan.skip.isEmpty && plan.restriction.isEmpty && plan.retired.isEmpty)
  }

  test("a bucket gone from both sides retires once, with a tombstone") {
    val prior = Map(5L -> digest(5, Some(3), Some(3)), 6L -> digest(6, None, None),
      7L -> digest(7, Some(8), None))
    val plan = noJobs(BucketPlan.decide(byBucket(digest(7, Some(8), None)),
      priorDigests = Some(prior)))
    assert(plan.retired === Seq(5L))
    assert(plan.tombstones === Seq(Row.fromSeq(5L +: DiffEngine.DigestCols.map(_ => null))))
    assert(plan.counterRows("t") === Seq(Row.fromSeq(5L +: Seq.fill(7)(0L) :+ null :+ "t")))
    assert(plan.skip === Set(7L))
    // journaled, the tombstone is a prior digest that does not retire again
    val next = noJobs(BucketPlan.decide(SortedMap.empty,
      priorDigests = Some(prior ++ Map(5L -> digest(5, None, None), 7L -> digest(7, None, None)))))
    assert(next.retired.isEmpty && next.tombstones.isEmpty)
  }

  test("digest-first splits the pending buckets into clean and dirty") {
    val digests = byBucket(
      digest(0, Some(1), Some(1)), digest(1, Some(2), Some(3)),
      digest(2, Some(4), Some(4)), digest(3, Some(5), None),
      digest(4, None, Some(6)))
    val resumed = Map(status(0, BucketPlan.StatusDone), status(1, BucketPlan.StatusDone))
    val plan = noJobs(BucketPlan.decide(digests, priorStatus = resumed,
      digestFirst = true))
    assert(plan.skip === Set(0L, 1L))
    assert(plan.clean === Seq(digests(2L)))
    assert(plan.dirty === Seq(3L, 4L))
    assert(plan.restriction === Some("left_semi" -> Seq(3L, 4L)))
    // with incremental mode the unchanged buckets are the skipped ones
    val inc = noJobs(BucketPlan.decide(digests, digestFirst = true,
      priorDigests = Some(Map(1L -> digests(1L), 2L -> digests(2L)))))
    assert(inc.skip === Set(1L, 2L))
    assert(inc.clean === Seq(digests(0L)) && inc.dirty === Seq(3L, 4L))
    // no dirty bucket: the semi join keeps nothing
    val allClean = noJobs(BucketPlan.decide(byBucket(digest(0, Some(1), Some(1))),
      digestFirst = true))
    assert(allClean.restriction === Some("left_semi" -> Nil))
  }

  test("counter rows: null or absent counters read 0; the sum is a monoid") {
    // a clean bucket's digest credit row, as digestProgress shapes it
    val creditSchema = StructType(Seq(StructField("bucket", LongType),
      StructField("digest_match", BooleanType)) ++
      (RangeStats.Counters :+ "last_token").map(StructField(_, LongType)))
    val credit = new GenericRowWithSchema(
      (Seq[Any](2L, true) ++ (1L to 7L) :+ 42L).toArray, creditSchema)
    val plan = BucketPlan(Set.empty, Nil, Seq(credit), Nil, None)
    assert(plan.counterRows("t") === Seq(Row.fromSeq(2L +: (1L to 7L) :+ 42L :+ "t")))
    // a task_status row with null counters, and an older row holding
    // two counters and no skipped_partitions
    val nulls = new GenericRowWithSchema(Array[Any](1L, null, 3L, null, 5L, 6L, null, null),
      StructType((RangeStats.Counters :+ "skipped_partitions").map(StructField(_, LongType))))
    val older = new GenericRowWithSchema(Array[Any](2L, 4L), StructType(Seq(
      StructField("matched_partitions", LongType), StructField("matched_rows", LongType))))
    assert(RangeStats.fromRow(nulls) === RangeStats(1, 0, 3, 0, 5, 6, 0, 0))
    assert(RangeStats.fromRow(older) === RangeStats(matchedPartitions = 2, matchedRows = 4))
    assert(RangeStats.sum(Seq(nulls, older), skipped = 9) ===
      RangeStats(3, 0, 3, 0, 9, 6, 0, 9))
    assert(RangeStats.sum(Nil, skipped = 0) === RangeStats())
    val (a, b, c) = (RangeStats(1, 2, 3, 4, 5, 6, 7, 8),
      RangeStats(10, 0, 30, 0, 50, 0, 70, 0), RangeStats(0, 200, 0, 400, 0, 600, 0, 800))
    assert(a + RangeStats() === a && RangeStats() + a === a)
    assert((a + b) + c === a + (b + c))
    assert(a + b + c === RangeStats(11, 202, 33, 404, 55, 606, 77, 808))
  }
}
