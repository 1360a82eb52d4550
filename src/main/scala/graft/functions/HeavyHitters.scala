package graft.functions

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Batch heavy hitters: a mergeable Misra–Gries summary plus an exact
  * recount pass — the standard two-phase "frequent items" plan
  * (Misra & Gries 1982; mergeability per Agarwal et al., "Mergeable
  * Summaries", PODS '12), in the shape a corpus-profiling pipeline
  * wants: an EXACT answer to "every term with frequency >= num/den of
  * the corpus", at a cost that never shuffles the vocabulary.
  *
  * Why not a plain `groupBy(term)`? Its exchange carries one row per
  * DISTINCT TERM PER MAP PARTITION — at web scale (10^8+ token types,
  * heavy-tailed) that is the dominant shuffle, and it pays for the
  * entire tail when only the head is wanted. Here phase 1 runs the
  * Misra–Gries summary as a typed partial/final ObjectHashAggregate:
  * each map task ships AT MOST k counters no matter how large its
  * vocabulary, and the k-counter guarantee (any term with true count
  * > n/(k+1) survives every decrement) makes the candidate set a
  * superset of the true heavy hitters whenever (k+1)·num > den. Phase 2
  * broadcast-semi-joins the <=k candidates back onto the token stream
  * and counts exactly (map-side combinable, <=k groups), so the
  * approximate sketch never reaches the result — it only prunes.
  *
  * Reference anchor: the reference's counter aggregation is the same
  * partial/final monoid shape (spark-job RangeStats partial merge);
  * this generalizes it to a bounded-size map monoid.
  */
object HeavyHitters {

  /** Misra–Gries buffer: total items seen + at most k surviving
    * counters. Counters are LOWER bounds on true counts; `n` is exact.
    */
  final case class MGSummary(n: Long, counts: Map[String, Long])

  /** Typed mergeable Misra–Gries aggregator with k counters. */
  final class MisraGries(k: Int) extends Aggregator[String, MGSummary, MGSummary] {
    require(k >= 1, "k must be >= 1")

    override def zero: MGSummary = MGSummary(0L, Map.empty)

    override def reduce(b: MGSummary, term: String): MGSummary = {
      val m = b.counts
      m.get(term) match {
        case Some(c) => MGSummary(b.n + 1, m.updated(term, c + 1))
        case None if m.size < k => MGSummary(b.n + 1, m.updated(term, 1L))
        case None =>
          // classic decrement-all step: the unseen term and one unit of
          // every survivor cancel; zeros drop out
          MGSummary(b.n + 1,
            m.flatMap { case (t, c) => if (c > 1) Some(t -> (c - 1)) else None })
      }
    }

    override def merge(a: MGSummary, b: MGSummary): MGSummary = {
      val summed = b.counts.foldLeft(a.counts) { case (acc, (t, c)) =>
        acc.updated(t, acc.getOrElse(t, 0L) + c)
      }
      val pruned =
        if (summed.size <= k) summed
        else {
          // subtract the (k+1)-th largest count from everything and drop
          // non-positives — the Agarwal et al. merge that preserves the
          // error bound n/(k+1)
          val byCount = summed.valuesIterator.toArray
          java.util.Arrays.sort(byCount)
          val kth = byCount(summed.size - k - 1)
          summed.flatMap { case (t, c) => if (c > kth) Some(t -> (c - kth)) else None }
        }
      MGSummary(a.n + b.n, pruned)
    }

    override def finish(r: MGSummary): MGSummary = r
    override def bufferEncoder: Encoder[MGSummary] = Encoders.product[MGSummary]
    override def outputEncoder: Encoder[MGSummary] = Encoders.product[MGSummary]
  }

  /** Every term with exact frequency `>= suppNum/suppDen` of the token
    * total, with exact counts: MG sketch (one pass, <=k counters per
    * task) -> candidate explode (<=k rows, broadcast) -> exact recount
    * (second pass, map-side combinable). `(k+1)·suppNum > suppDen` is
    * required so the sketch's recall guarantee covers the threshold —
    * under it the output is EXACT, not approximate.
    *
    * Output: (term, cnt, n_tokens, frac), one row per heavy hitter.
    */
  def heavyTerms(docs: DataFrame, textCol: String,
      suppNum: Long, suppDen: Long, k: Int = 256): DataFrame = {
    require(suppNum >= 1 && suppDen >= suppNum, "need 0 < suppNum/suppDen <= 1")
    require((k + 1L) * suppNum > suppDen,
      s"k=$k too small for support $suppNum/$suppDen: need (k+1)*num > den")
    val spark = docs.sparkSession
    import spark.implicits._

    val terms = docs.select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val mg: org.apache.spark.sql.Dataset[MGSummary] =
      terms.as[String].select(new MisraGries(k).toColumn)
    val sketch = mg.toDF()
      .select(col("n").as("n_tokens"), explode(col("counts")))
      .select(col("key").as("term"), col("n_tokens"))
    terms.join(broadcast(sketch), Seq("term"))
      .groupBy(col("term"), col("n_tokens"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * suppDen >= col("n_tokens") * suppNum)
      .select(col("term"), col("cnt"), col("n_tokens"),
        (col("cnt").cast("double") / col("n_tokens").cast("double")).as("frac"))
  }
}
