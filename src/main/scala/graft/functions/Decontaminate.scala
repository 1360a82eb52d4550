package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — flag training-corpus documents that share
  * word n-grams with an evaluation set, the standard guard against
  * test-set leakage when assembling LLM training data (the reference
  * engine has nothing comparable; public recipes use 8–13-gram overlap).
  *
  * Shape at 100 TB: the benchmark side is small (test sets are thousands
  * of documents), so its distinct shingle set is BROADCAST; the corpus
  * never shuffles its text — each partition explodes its shingles
  * locally into the broadcast hash-join probe, and only the MATCHED
  * (id, count) pairs reach the one aggregation shuffle. A clean corpus
  * shuffles nearly zero bytes.
  */
object Decontaminate {

  /** Per-document contamination report: documents of `corpus` sharing at
    * least `minHits` distinct word `n`-grams with any document of
    * `bench`. Output: id, `n_hit_ngrams` (distinct shared shingles),
    * `n_shingles` (the doc's distinct shingle count), `hit_frac`.
    * Shorter-than-n documents count as one whole-text shingle
    * (the [[Dedup.wordShingles]] degenerate rule), so verbatim short
    * leaks still hit.
    */
  def ngramHits(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 8, minHits: Long = 1): DataFrame = {
    require(n >= 1, "shingle size must be >= 1")
    require(minHits >= 1, "minHits must be >= 1")
    val shingles = array_distinct(Dedup.wordShingles(col(textCol), n))
    val b = bench.select(explode(shingles).as("__shingle")).distinct()
    corpus.select(col(idCol), shingles.as("__sh"))
      .withColumn("__n_sh", size(col("__sh")))
      .select(col(idCol), col("__n_sh"),
        explode(col("__sh")).as("__shingle"))
      .join(broadcast(b), Seq("__shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_ngrams"),
        first(col("__n_sh")).cast("long").as("n_shingles"))
      .filter(col("n_hit_ngrams") >= minHits)
      .withColumn("hit_frac",
        col("n_hit_ngrams").cast("double") / col("n_shingles").cast("double"))
  }

  /** Bit position j via DOUBLE HASHING (Kirsch & Mitzenheimer, "Less
    * Hashing, Same Performance: Building a Better Bloom Filter", ESA
    * 2006): one 60-bit digest splits into h1 (low 30 bits) and h2 (high
    * 30 bits), position j = (h1 + j·h2) mod m — proven to preserve the
    * Bloom false-positive asymptotics while costing ONE md5 per element
    * instead of k (the md5 is the whole probe budget; this replaced k
    * independent salted digests). h1 + j·h2 <= 2^30 + 7·2^30 — exact in
    * a long in both engines. Callers must pre-hash into a column
    * themselves: codegen CSE does NOT collapse identical digest subtrees
    * repeated inside one expression (measured 3 generated call sites
    * before the split).
    */
  private def posFromH(h: Column, j: Int, mBits: Int): Column =
    pmod(pmod(h, lit(1L << 30)) + lit(j.toLong) * shiftright(h, 30),
      lit(mBits.toLong))

  /** The filter itself, as ONE row holding the dense 32-bit-word array
    * (column `__bloom`): distinct bench shingles -> k bit positions each
    * -> per-word bit_or -> one-pass dense fill (untouched words 0) via
    * the native [[Sketches.denseLongArray]] kernel. The previous
    * `transform(sequence) + element_at(map)` densification evaluated the
    * lambda INTERPRETED with a linear map scan per element —
    * O(entries × words) boxed probes, measured at 3.8 s of
    * decontaminate_bloom's 5.1 s sf0.1 floor; the kernel is O(entries).
    */
  def bloomFilterRow(bench: DataFrame, textCol: String, n: Int,
      mBits: Int, k: Int): DataFrame = {
    require(n >= 1, "shingle size must be >= 1")
    require(k >= 1 && k <= 8, "need 1 <= k <= 8 hash functions")
    require(mBits >= 32 && mBits % 32 == 0, "mBits must be a multiple of 32")
    val words = mBits / 32
    val shingles = array_distinct(Dedup.wordShingles(col(textCol), n))
    bench
      .select(explode(shingles).as("__shingle")).distinct()
      .select(Sampling.keyHash60(col("__shingle")).as("__h"))
      .select(explode(array((0 until k).map(j =>
        posFromH(col("__h"), j, mBits)): _*)).as("__pos"))
      .select((col("__pos") / 32).cast("long").as("__word"),
        wordMask(col("__pos")).as("__mask"))
      .groupBy(col("__word")).agg(expr("bit_or(__mask)").as("__bits"))
      .agg(collect_list(struct(col("__word"), col("__bits"))).as("__entries"))
      .select(Sketches.denseLongArray(col("__entries"), words).as("__bloom"))
  }

  /** The 32 single-bit word masks as a literal array — an array lookup
    * replaces the previous `pow(2.0, bit)` libm call per probe (same
    * exact values: 2^bit is exact in a double for bit <= 31, so the two
    * forms were already bit-identical; this one just costs an index).
    */
  private val BitMasks: Column =
    typedlit((0 until 32).map(b => 1L << b))

  private def wordMask(p: Column): Column =
    element_at(BitMasks, pmod(p, lit(32L)).cast("int") + 1)

  /** True iff all `k` of `shingle`'s bits are set in the `__bloom`
    * array column (which must be in scope, e.g. via a broadcast join of
    * [[bloomFilterRow]]).
    */
  def bloomHit(shingle: Column, mBits: Int, k: Int): Column =
    bloomHitFromH(Sampling.keyHash60(shingle), mBits, k)

  /** [[bloomHit]] over a PRE-HASHED key column: the batch prober
    * materializes `__h` once per shingle row because codegen CSE does
    * not collapse the k identical digest subtrees inside one boolean
    * expression (measured 3 generated call sites pre-split).
    */
  def bloomHitFromH(h: Column, mBits: Int, k: Int): Column =
    (0 until k).map { j =>
      val p = posFromH(h, j, mBits)
      element_at(col("__bloom"), (p / 32).cast("int") + 1)
        .bitwiseAND(wordMask(p)) =!= 0L
    }.reduce(_ && _)

  /** Bloom-filter decontamination — [[ngramHits]] for benchmark sets too
    * big to broadcast as a literal shingle set. The benchmark's distinct
    * n-grams are folded into an `mBits`-bit Bloom filter with
    * `k` positions per gram derived from ONE md5 digest ([[posFromH]]
    * double hashing), built entirely as DATA (a groupBy over bit
    * positions, then one dense long-array row) — no driver-side sketch
    * object, no collect. The corpus side probes the filter as a single
    * broadcast row: membership is pure bit arithmetic inside the scan's
    * project, so a 100 TB corpus is decontaminated with ONE aggregation
    * shuffle carrying (id, bool) pairs and a broadcast of `mBits / 8`
    * bytes — regardless of how many n-grams the benchmark holds.
    *
    * Deterministic by construction (hash = 60-bit md5, the cross-engine
    * idiom of [[Sampling.keyHash60]]), so the full report — INCLUDING
    * which false positives fire — is oracle-checkable bit-for-bit. No
    * false negatives ever: every shingle [[ngramHits]] flags, this
    * flags. Output: (id, n_shingles, n_flagged, flag_frac), one row per
    * corpus document that has at least one shingle.
    *
    * Sizing: false-positive rate ≈ (1 - e^(-k·n/mBits))^k for n distinct
    * benchmark shingles; the 2^18-bit default holds ~16k shingles at
    * < 0.5% FP. 32-bit words keep every mask positive, sidestepping
    * signed-shift edge cases across engines.
    */
  def bloomNgramHits(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 8, mBits: Int = 1 << 18,
      k: Int = 3): DataFrame = {
    val shingles = array_distinct(Dedup.wordShingles(col(textCol), n))
    // probe: per exploded shingle, all k bits must be set; the bloom
    // array rides along as a broadcast single-row cross join
    corpus
      .select(col(idCol), explode(shingles).as("__shingle"))
      .select(col(idCol), Sampling.keyHash60(col("__shingle")).as("__h"))
      .join(broadcast(bloomFilterRow(bench, textCol, n, mBits, k)))
      .withColumn("__hit", bloomHitFromH(col("__h"), mBits, k))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__hit"), 1L).otherwise(0L)).as("n_flagged"))
      .withColumn("flag_frac",
        col("n_flagged").cast("double") / col("n_shingles").cast("double"))
  }

  /** Corpus boilerplate profile: for every document, the share of its
    * distinct word `n`-grams that are corpus-common (document frequency
    * >= `minDf`) — the signal behind boilerplate/template stripping in
    * public curation recipes (headers, navigation, license blocks
    * repeat across many pages; original prose does not).
    *
    * Unlike [[ngramHits]] the reference set is the corpus itself, so
    * nothing broadcasts by construction: the df table is one aggregation
    * over exploded shingles, the hot subset (df >= minDf) joins back on
    * the shingle key. Both shuffles carry (shingle, id)/(shingle, df)
    * pairs, never text; ultra-hot shingles skew the join-back and are
    * AQE-splittable. Every document survives to the output (zero-hit
    * docs report 0.0), so the result is a full per-doc profile usable
    * as a filter column.
    */
  def boilerplateFrac(corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minDf: Long = 3): DataFrame = {
    require(n >= 1, "shingle size must be >= 1")
    require(minDf >= 1, "minDf must be >= 1")
    val shingles = array_distinct(Dedup.wordShingles(col(textCol), n))
    val sh = corpus.select(col(idCol),
      explode(shingles).as("__shingle"))
    val hot = sh.groupBy(col("__shingle"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf)
      .select(col("__shingle"))
    val hits = sh.join(hot, Seq("__shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_boiler"))
    corpus.select(col(idCol), size(shingles).cast("long").as("n_shingles"))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_boiler", coalesce(col("__n_boiler"), lit(0L)))
      .withColumn("boiler_frac",
        col("n_boiler").cast("double") /
          greatest(col("n_shingles"), lit(1L)).cast("double"))
      .select(col(idCol), col("n_shingles"), col("n_boiler"),
        col("boiler_frac"))
  }

  /** Pairwise SOURCE overlap matrix — the dataset-card diagnostic for a
    * multi-source training mix: for every pair of sources, how many
    * distinct word n-grams they share, with per-source totals and both
    * containment fractions (a web crawl re-scraping a curated corpus
    * shows up as high containment of the smaller side). The cross-SOURCE
    * counterpart of [[ngramHits]]' corpus-vs-benchmark check.
    *
    * Output: (src_a, src_b, n_common, n_a, n_b, contain_a, contain_b),
    * src_a < src_b lexically.
    *
    * Scale shape: the (source, shingle) frame dedups in one partial-
    * aggregating pass keyed on the shingle hash; the self-join keys on
    * the shingle, and — unlike document-pair joins — the per-key
    * fan-out is bounded by the SOURCE count squared (sources number in
    * the dozens), so no df cap is needed; the output is one row per
    * source pair. Text never shuffles: shingles hash to 60-bit longs in
    * the scan. The deduped (src, hash) frame is eagerly
    * localCheckpointed once — it feeds three downstream references
    * (per-source sizes + both self-join sides), and Spark shares no
    * common subtrees, so without the barrier the shingle explode +
    * distinct would run three times.
    */
  def sourceOverlap(corpus: DataFrame, stratumCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    require(n >= 1, "shingle size must be >= 1")
    val sh = corpus.select(col(stratumCol).as("src"),
        explode(array_distinct(Dedup.wordShingles(col(textCol), n)))
          .as("__s"))
      .select(col("src"), Sampling.keyHash60(col("__s")).as("__h"))
      .distinct()
      .localCheckpoint()
    val sizes = sh.groupBy(col("src")).agg(count(lit(1)).as("n_shingles"))
    sh.as("x").join(sh.as("y"),
        col("x.__h") === col("y.__h") && col("x.src") < col("y.src"))
      .groupBy(col("x.src").as("src_a"), col("y.src").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("src").as("src_a"), col("n_shingles").as("n_a")),
        Seq("src_a"))
      .join(sizes.select(col("src").as("src_b"), col("n_shingles").as("n_b")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_common"), col("n_a"),
        col("n_b"),
        (col("n_common").cast("double") / col("n_a").cast("double"))
          .as("contain_a"),
        (col("n_common").cast("double") / col("n_b").cast("double"))
          .as("contain_b"))
  }
}
