package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus term statistics: per-document term frequency, corpus document
  * frequency, and the top distinctive terms per document — the tf-idf
  * family, kept INTEGER-ONLY so every result is bit-reproducible
  * cross-engine (a float idf = tf·ln(N/df) differs in final ulps between
  * libm builds; ranking by (tf desc, df asc, term) orders identically
  * without ever computing it).
  *
  * Scale shape: the unavoidable cost of corpus stats is shuffling the
  * (doc, term) pair stream — three narrow exchanges (pair counts on
  * (doc, term), df on term, top-k on doc), each carrying ids and two
  * longs, never text. The top-k filter runs as WindowGroupLimit, so
  * reducers see at most k rows per (doc, input partition).
  */
object TermStats {

  /** Per-(doc, term) tf plus per-term df over the whole corpus.
    *
    * df shape, deliberately: groupBy(term) with a BROADCAST join back,
    * not a term-partitioned count window. The window evaluates the pair
    * subtree once but concentrates EVERY row of a hot term ("the" ≈
    * every doc) into a single task — an unbounded straggler at corpus
    * scale. The groupBy partial-aggregates map-side (the term exchange
    * carries one row per term per partition, hot or not) at the cost of
    * evaluating the tokenize+count subtree twice; a 2× constant beats a
    * single-task hotspot. The df table is one row per distinct term —
    * broadcast at vocabulary sizes (`broadcastDf = true`, the default);
    * past that — web corpora reach 10⁸+ distinct tokens — pass
    * `broadcastDf = false` for a plain shuffle join on the term key
    * (AQE still promotes it to broadcast if the table turns out small).
    */
  def docTermStats(docs: DataFrame, idCol: String, textCol: String,
      broadcastDf: Boolean = true): DataFrame = {
    def pairs = docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df_ = pairs.groupBy(col("term")).agg(count(lit(1)).as("df"))
    pairs.join(if (broadcastDf) broadcast(df_) else df_, Seq("term"))
  }

  /** Out-of-vocabulary profile: per-document token count, count of
    * token OCCURRENCES outside the corpus's top-`vocabK` terms, and the
    * OOV fraction — the "how well does a fixed tokenizer vocabulary
    * cover this document" quality signal of a training-data pipeline
    * (high OOV flags boilerplate, code, or foreign-language slices).
    *
    * The vocabulary is derived from the corpus itself: the `vocabK`
    * terms with the highest total occurrence count (ties by term), so
    * the operator is self-contained and deterministic. Scale shape: one
    * term-count aggregation (partial map-side), a `vocabK`-row sorted
    * head that BROADCASTS back (the vocabulary is bounded by
    * construction — never corpus-sized), and a per-doc aggregation of
    * (id, flag) pairs; text never crosses an exchange.
    */
  def oovStats(docs: DataFrame, idCol: String, textCol: String,
      vocabK: Int): DataFrame = {
    require(vocabK >= 1, "vocabK must be >= 1")
    val tok = docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val vocab = tok.groupBy(col("term")).agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("term"))
      .limit(vocabK)
      .select(col("term"), lit(1).as("__in_vocab"))
    tok.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_frac",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** Unigram-LM surprisal profile — the perplexity-proxy quality signal
    * of a CCNet-style pipeline (docs whose tokens are rare under the
    * corpus's own unigram model read as unusual: other-language, code,
    * noise), kept INTEGER-EXACT so it is bit-reproducible cross-engine:
    * a float `-log p` differs in final ulps between libm builds, so the
    * per-token surprisal is `floor(log2(T / c_t))` — computed as
    * `length(bin(T div c_t)) - 1`, pure integer ops both engines share —
    * and only the final mean divides two order-independent longs.
    *
    * Scale shape: same as [[docTermStats]] — the (doc, term, tf) pair
    * stream partial-aggregates map-side, the per-term surprisal table is
    * one row per distinct term with the corpus total attached by a 1-row
    * broadcast (never a window), and it joins back broadcast at
    * vocabulary sizes (`broadcastDf = false` for web-scale vocabularies
    * → plain term-key shuffle join).
    */
  def surprisalStats(docs: DataFrame, idCol: String, textCol: String,
      broadcastDf: Boolean = true): DataFrame = {
    def pairs = docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val tc = pairs.groupBy(col("term")).agg(sum(col("tf")).as("c"))
    val tot = tc.agg(sum(col("c")).as("t"))
    val sup = tc.crossJoin(broadcast(tot))
      .select(col("term"),
        (length(bin(expr("t DIV c"))) - 1).cast("long").as("sup"))
    pairs.join(if (broadcastDf) broadcast(sup) else sup, Seq("term"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("sup")).as("sum_surprisal"))
      .withColumn("mean_surprisal",
        col("sum_surprisal").cast("double") / col("n_tokens").cast("double"))
  }

  /** The `k` most distinctive terms per document: highest tf first,
    * rarest (lowest df) on ties, then term — a deterministic tf-idf
    * ranking with no float in sight.
    */
  def topTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int, broadcastDf: Boolean = true): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("term"))
    docTermStats(docs, idCol, textCol, broadcastDf)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("rank").cast("long").as("rank"))
  }

  /** Windowed token co-occurrence with an integer-exact PMI score — the
    * statistic behind distributional word embeddings (word2vec's SGNS
    * factorizes shifted PMI) and collocation mining. Ordered pairs
    * (earlier token, later token) within a forward window of `window`
    * positions are counted corpus-wide; pairs seen at least `minCount`
    * times are scored with the floor-log2 PMI proxy
    * `ilog2(c_ab·T²) − ilog2(c_a·c_b·P)` (T = token total, P = pair
    * total) — pure integer ops both engines share, so the result
    * hash-matches where a float `log` never would. Top-`k` by
    * (pmi desc, count desc, tokens).
    *
    * Scale shape: the pair stream forms MAP-SIDE (one slice-zip per
    * window offset, concatenated, then one explode — no shuffle to form
    * pairs), the count groupBy partial-aggregates, and the unigram table
    * (one row per distinct term) joins back broadcast at vocabulary
    * sizes (`broadcastTerms = false` → term-key shuffle joins for
    * web-scale vocabularies, mirroring [[dsirWeights]]); both totals are
    * 1-row broadcasts. The final top-k is a
    * per-partition heap. Caveat: the products inside ilog2 need
    * c_ab·T² < 2⁶³ — beyond ~10¹⁸ token-pairs move the same mechanics
    * onto decimal(38,0).
    */
  def cooccurPmi(docs: DataFrame, textCol: String, window: Int,
      minCount: Int, k: Int, broadcastTerms: Boolean = true): DataFrame = {
    require(window >= 1 && minCount >= 1 && k >= 1,
      "need window, minCount, k >= 1")
    val toks = TextAnalysis.tokens(col(textCol))
    val pairArrays = (1 to window).map { d =>
      val n = greatest(size(toks) - d, lit(0))
      zip_with(slice(toks, lit(1), n), slice(toks, lit(1 + d), n),
        (a, b) => struct(a.as("l"), b.as("r")))
    }
    val pc = docs.select(explode(concat(pairArrays: _*)).as("p"))
      .groupBy(col("p.l").as("left_tok"), col("p.r").as("right_tok"))
      .agg(count(lit(1)).as("pair_count"))
    val uni = docs.select(explode(toks).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val totT = uni.agg(sum(col("c")).as("t_tok"))
    val totP = pc.agg(sum(col("pair_count")).as("t_pair"))
    def ilog2(x: Column): Column = (length(bin(x)) - 1).cast("long")
    val uniL = uni.select(col("term").as("left_tok"), col("c").as("c_left"))
    val uniR = uni.select(col("term").as("right_tok"), col("c").as("c_right"))
    pc.filter(col("pair_count") >= minCount)
      .join(if (broadcastTerms) broadcast(uniL) else uniL, Seq("left_tok"))
      .join(if (broadcastTerms) broadcast(uniR) else uniR, Seq("right_tok"))
      .crossJoin(broadcast(totT)).crossJoin(broadcast(totP))
      .select(col("left_tok"), col("right_tok"), col("pair_count"),
        col("c_left"), col("c_right"),
        (ilog2(col("pair_count") * col("t_tok") * col("t_tok")) -
          ilog2(col("c_left") * col("c_right") * col("t_pair")))
          .as("pmi_bits"))
      .orderBy(col("pmi_bits").desc, col("pair_count").desc,
        col("left_tok"), col("right_tok"))
      .limit(k)
  }

  /** DSIR-style importance weight of each document toward a target
    * slice (Xie et al., "Data Selection for Language Models via
    * Importance Resampling" — hashed/unigram feature log-ratios): each
    * term's weight is `sup_raw − sup_tgt`, the difference of its
    * floor-log2 surprisals under the raw-corpus and target-slice unigram
    * models (add-one smoothed on the target side, where unseen terms are
    * legal), so a positive per-doc mean reads "more target-like than the
    * corpus at large". Integer-exact end to end — only the final mean
    * divides two longs.
    *
    * Scale shape: identical to [[surprisalStats]] — one (doc, term, tf)
    * pair aggregation carrying a target flag, a per-distinct-term weight
    * table joined back broadcast at vocabulary sizes
    * (`broadcastTerms = false` → term-key shuffle join for web-scale
    * vocabularies), totals as a 1-row broadcast; text never crosses an
    * exchange.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, broadcastTerms: Boolean = true): DataFrame = {
    def pairs = docs
      .select(col(idCol), targetPred.as("__tgt"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("__tgt"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val tc = pairs.groupBy(col("term")).agg(
      sum(col("tf")).as("c_raw"),
      sum(when(col("__tgt"), col("tf")).otherwise(0L)).as("c_tgt"))
    val tot = tc.agg(sum(col("c_raw")).as("t_raw"),
      sum(col("c_tgt")).as("t_tgt"))
    def ilog2(x: Column): Column = (length(bin(x)) - 1).cast("long")
    val w = tc.crossJoin(broadcast(tot))
      .select(col("term"),
        (ilog2(expr("t_raw DIV c_raw")) -
          ilog2(expr("(t_tgt + 1) DIV (c_tgt + 1)"))).as("wt"))
    pairs.join(if (broadcastTerms) broadcast(w) else w, Seq("term"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("wt")).as("sum_weight"))
      .withColumn("mean_weight",
        col("sum_weight").cast("double") / col("n_tokens").cast("double"))
  }

  /** Vocabulary coverage curve: the fraction of all corpus tokens
    * covered by the top-k most frequent terms, at each requested k —
    * the diminishing-returns profile that sizes a tokenizer vocabulary.
    * Ties rank deterministically (count desc, then term), so the curve
    * is oracle-exact.
    *
    * Output: `(k, n_terms, covered_tokens, total_tokens, coverage)`,
    * one row per requested k (`n_terms < k` when the vocabulary is
    * smaller than k).
    *
    * Scale shape: the (term, count) table partial-aggregates out of the
    * scan; the ranking window runs over THAT one-row-per-distinct-term
    * frame (the standard vocab-profile frame — a diagnostics table, not
    * a data path; swap in an approximate top-k at web-scale
    * vocabularies). The k cut-points attach via a broadcast theta-join
    * against a literal |ks|-row frame and the total as a 1-row
    * broadcast.
    */
  def vocabCoverageCurve(docs: DataFrame, textCol: String,
      ks: Seq[Int] = Seq(10, 100, 1000)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "need at least one k >= 1")
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val uni = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val ranked = uni.withColumn("rank",
      row_number().over(Window.orderBy(col("c").desc, col("term"))))
    val tot = uni.agg(sum(col("c")).as("total_tokens"))
    val cut = ks.map(_.toLong).toDF("k")
    ranked.join(broadcast(cut), col("rank") <= col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_terms"), sum(col("c")).as("covered_tokens"))
      .crossJoin(broadcast(tot))
      .withColumn("coverage", col("covered_tokens").cast("double") /
        col("total_tokens").cast("double"))
  }

  /** Per-source chi-square drift against the corpus-wide unigram
    * distribution — the distributional-shift test a mixture pipeline
    * runs before trusting a new crawl snapshot (a source whose term
    * distribution diverges from the pool gets eyeballed before it is
    * mixed in). For source s with term shares p_t and pooled shares
    * q_t: `chi2 = Σ_t (p_t − q_t)² / q_t` over ALL pooled terms; terms
    * absent from the source contribute q_t, folded in WITHOUT a second
    * join via the complement `Σ_{t∉s} q_t = 1 − Σ_{t∈s} q_t`.
    *
    * Determinism: p_t and q_t are single IEEE divisions of exact longs
    * (correctly rounded — bit-identical cross-engine), each per-term
    * summand is a fixed dag of IEEE ops on those, and both sums run in
    * FIXED-POINT: `floor(x * 2^40)` as a long (scaling by a power of
    * two is exact, floor is unambiguous — unlike a decimal(38,18)
    * cast, where Spark rounds the double's SHORTEST string repr and
    * DuckDB its exact binary expansion, disagreeing in the 18th digit
    * over a large term sum). Long addition is exact and
    * order-independent; one final division by 2^40 produces the
    * double. Granularity 2^-40 ≈ 9e-13 per term; per-term magnitude
    * must stay below 2^23 (8.4M) to avoid overflow at 10^9 terms —
    * chi-square summands are bounded by p_max²/q_min over the POOLED
    * vocabulary, far below that for any real corpus, and the bound is
    * ENFORCED: each summand clamps at 2^23 − 1 (identical `least` on
    * both sides) so a pathological corpus (a tiny source holding a
    * pooled-rare term: p≈1, q≈1/ct gives a ct-sized summand) truncates
    * identically in both engines instead of Spark saturating the long
    * where DuckDB errors. A clamped term reads as "maximal drift" —
    * the ranking, the statistic's only use, is preserved. No libm
    * anywhere.
    *
    * Scale shape: one (source, term) count groupBy (the only
    * corpus-sized exchange — ids and longs, never text), one term-level
    * pooled count groupBy over the same pre-aggregated frame, a join on
    * the term key (AQE-sized; pass `broadcastPool = false` at web-scale
    * vocabularies), and a |sources|-row final aggregate.
    */
  def chiSquareDrift(docs: DataFrame, sourceCol: String, textCol: String,
      broadcastPool: Boolean = true): DataFrame = {
    val st = docs
      .select(col(sourceCol).as("source"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("a"))
      .localCheckpoint()
    val pool = st.groupBy(col("term")).agg(sum(col("a")).as("c"))
    val poolTot = pool.agg(sum(col("c")).as("ct"))
    val srcTot = st.groupBy(col("source")).agg(sum(col("a")).as("at"))
    val mb = if (broadcastPool) broadcast(pool) else pool
    val p = col("a").cast("double") / col("at").cast("double")
    val q = col("c").cast("double") / col("ct").cast("double")
    val scale = math.pow(2, 40)
    val maxSummand = (1L << 23).toDouble - 1
    st.join(mb, Seq("term"))
      .join(broadcast(srcTot), Seq("source"))
      .crossJoin(broadcast(poolTot))
      .select(col("source"),
        floor(least(((p - q) * (p - q)) / q, lit(maxSummand)) * lit(scale))
          .as("chi"),
        floor(q * lit(scale)).as("qd"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_terms"),
        ((sum(col("chi")).cast("double") +
          (lit(scale) - sum(col("qd")).cast("double"))) / lit(scale))
          .as("chi2"))
  }

  /** DuckDB mirror of [[chiSquareDrift]] — same exact-division terms,
    * same 2^23−1 summand clamp, same 2^40 fixed-point sums, same
    * missing-mass complement.
    */
  def chiSquareDriftSql(sourceCol: String, toksExpr: String): String =
    s"""WITH st AS (
       |  SELECT $sourceCol AS source, term, CAST(COUNT(*) AS BIGINT) AS a
       |  FROM (SELECT $sourceCol, unnest($toksExpr) AS term FROM documents)
       |  GROUP BY 1, 2),
       |pool AS (SELECT term, CAST(SUM(a) AS BIGINT) AS c FROM st GROUP BY term),
       |pt AS (SELECT CAST(SUM(c) AS BIGINT) AS ct FROM pool),
       |srct AS (SELECT source, CAST(SUM(a) AS BIGINT) AS at FROM st GROUP BY source),
       |terms AS (
       |  SELECT sp.source,
       |    CAST(FLOOR(LEAST((p - q) * (p - q) / q, 8388607.0)
       |      * 1099511627776.0) AS BIGINT) AS chi,
       |    CAST(FLOOR(q * 1099511627776.0) AS BIGINT) AS qd
       |  FROM (SELECT st.source, st.term,
       |          CAST(st.a AS DOUBLE) / CAST(srct.at AS DOUBLE) AS p
       |        FROM st JOIN srct ON st.source = srct.source) sp
       |  JOIN (SELECT term, CAST(c AS DOUBLE) / CAST(ct AS DOUBLE) AS q
       |        FROM pool CROSS JOIN pt) pq
       |    ON sp.term = pq.term)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms,
       |  (CAST(CAST(SUM(chi) AS BIGINT) AS DOUBLE) +
       |    (1099511627776.0 - CAST(CAST(SUM(qd) AS BIGINT) AS DOUBLE)))
       |    / 1099511627776.0 AS chi2
       |FROM terms GROUP BY source""".stripMargin

  /** Vocabulary GROWTH curve (Heaps' law): distinct terms and total
    * tokens in the corpus prefix `id < cutoff`, for each cutoff — the
    * "how fast does my vocabulary grow as I add data" tokenizer- and
    * dedup-planning profile (sublinear growth is healthy; near-linear
    * growth flags noise/mojibake inflating the term space). The
    * type-token ratio rides along.
    *
    * Scale shape: one (term → first id) partial-aggregating groupBy —
    * the only corpus-sized exchange, carrying (term, id) pairs — then
    * joins against the literal cutoffs frame (bounded by construction,
    * broadcast). Per-doc token counts aggregate in a second narrow
    * pass; nothing concentrates.
    */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
      cutoffs: Seq[Long]): DataFrame = {
    require(cutoffs.nonEmpty && cutoffs.forall(_ >= 1),
      "need at least one positive cutoff")
    val spark = docs.sparkSession
    import spark.implicits._
    val cut = cutoffs.toDF("cutoff")
    val first = docs
      .select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(min(col("id")).as("first_id"))
    val terms = first.join(broadcast(cut), col("first_id") < col("cutoff"))
      .groupBy(col("cutoff")).agg(count(lit(1)).as("n_terms"))
    val toks = docs
      .select(col(idCol).as("id"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n"))
      .join(broadcast(cut), col("id") < col("cutoff"))
      .groupBy(col("cutoff"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
    toks.join(terms, Seq("cutoff"))
      .withColumn("ttr", col("n_terms").cast("double") /
        greatest(col("n_tokens"), lit(1L)).cast("double"))
      .select("cutoff", "n_docs", "n_tokens", "n_terms", "ttr")
  }

  /** BPE tokenizer TRAINING — the greedy merge-learning loop itself
    * (Sennrich et al., "Neural Machine Translation of Rare Words with
    * Subword Units"), not just its pair-count inner statistic: start
    * from characters + an end-of-word marker, repeatedly count adjacent
    * symbol pairs over the word-count vocabulary, merge the most
    * frequent pair (ties: lexicographically smallest), `nMerges` times.
    * Output is the learned merge table `(rank, sym_a, sym_b,
    * pair_count)` — the artifact a tokenizer ships.
    *
    * Determinism/exactness: symbol strings are bracket-framed
    * (`⟨h⟩⟨a⟩⟨t⟩⟨/w⟩`), so merge application is a plain left-to-right
    * non-overlapping string `replace` — identical semantics in Spark
    * and DuckDB — and the greedy choice orders by (count desc, pair
    * asc), a total order. The oracle re-derives every round itself
    * (chained CTEs), so the gate checks the whole training loop, not
    * just a final state.
    *
    * Scale shape: the ONLY corpus-sized pass is the word-count
    * aggregation (partial map-side); every merge round then works on
    * the distinct-word vocabulary table — bounded by vocabulary, not
    * corpus, exactly like production BPE trainers. Per round: one
    * vocab-sized pair aggregation, a 1-row driver `limit(1)` (the
    * chosen pair), and a scan-local replace; lineage truncates per
    * round via localCheckpoint.
    */
  def bpeLearnMerges(docs: DataFrame, textCol: String,
      nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrain(docs, textCol, nMerges)._1
      .toDF("rank", "sym_a", "sym_b", "pair_count")
  }

  /** The shared training loop: returns the merge list AND the final
    * merged vocabulary `(w, s, c)` — word, fully-merged framed symbol
    * string, corpus count — which is exactly the encode table a trained
    * BPE tokenizer applies ([[bpeEncodeStats]]).
    */
  private def bpeTrain(docs: DataFrame, textCol: String,
      nMerges: Int): (Seq[(Long, String, String, Long)], DataFrame) = {
    require(nMerges >= 1 && nMerges <= 64, "need 1 <= nMerges <= 64")
    val words = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
    var vocab = words.select(col("w"),
      concat(lit("⟨"),
        array_join(transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))), "⟩⟨"),
        lit("⟩⟨/w⟩")).as("s"),
      col("c")).localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (r <- 1 to nMerges) {
      val syms = split(trim(col("s"), "⟨⟩"), "⟩⟨")
      // a fully merged word (one symbol) has no pairs: without the filter
      // sequence(1, 0) counts DOWN and element_at reads index 0
      val best = vocab.filter(size(syms) > 1)
        .select(col("c"), explode(
            transform(sequence(lit(1), size(syms) - 1), i =>
              struct(element_at(syms, i).as("a"),
                element_at(syms, i + lit(1)).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("c")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()(0)
      val (a, b, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((r.toLong, a, b, cnt))
      vocab = vocab.withColumn("s",
          call_function("replace", col("s"),
            lit("⟨" + a + "⟩⟨" + b + "⟩"), lit("⟨" + a + b + "⟩")))
        .localCheckpoint()
    }
    (merges.result(), vocab)
  }

  /** BPE tokenizer APPLICATION — encode the corpus with the vocabulary
    * [[bpeLearnMerges]] just learned and report per-document subword
    * token counts: `(id, n_words, n_bpe_tokens, bpe_ratio)`. This is the
    * train → encode → count loop a tokenizer ships: the token budget a
    * document actually costs under the learned vocabulary (vs the
    * whitespace word count), which is what mixture weighting and packing
    * budget on.
    *
    * Scale shape: encoding is VOCABULARY-bounded, not corpus-bounded —
    * the merge loop already maintains every distinct word's fully-merged
    * symbol string, so per-word subword counts are one scan-local
    * projection over the vocab table, and the corpus-sized work is a
    * single (id, word) explode joined to that table on the word key
    * (plain shuffle join; AQE promotes it to broadcast when the
    * vocabulary is small) followed by a map-side-partial per-doc sum.
    * Text never crosses an exchange; the join carries words + one long.
    */
  def bpeEncodeStats(docs: DataFrame, idCol: String, textCol: String,
      nMerges: Int): DataFrame = {
    val vocab = bpeTrain(docs, textCol, nMerges)._2
      .select(col("w"),
        size(split(trim(col("s"), "⟨⟩"), "⟩⟨")).cast("long").as("nt"))
    docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .join(vocab, Seq("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("nt")).as("n_bpe_tokens"))
      .withColumn("bpe_ratio",
        col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
  }

  /** DuckDB mirror of [[bpeLearnMerges]]: `nMerges` chained CTE rounds,
    * each re-deriving the pair counts, the greedy argmax, and the
    * merge application from the previous round's vocabulary — no
    * data-dependent value is interpolated, so the oracle checks the
    * full training loop. Every round CTE is MATERIALIZED — DuckDB
    * inlines CTEs by default, and w(r) references w(r-1) twice (pair
    * counts + merge application), so the un-materialized expansion is
    * 2^nMerges. 
    */
  def bpeLearnMergesSql(toksExpr: String, nMerges: Int): String = {
    val union = (1 to nMerges).map(r => s"SELECT * FROM b$r")
      .mkString("\n  UNION ALL ")
    // concatenate pre-stripped parts: the rounds block is already
    // margin-stripped, a second stripMargin would eat `||` continuations
    "WITH " + bpeRoundsSql(toksExpr, nMerges, carryWord = false) + "\n" +
      s"""SELECT rank, a AS sym_a, b AS sym_b, cnt AS pair_count FROM (
         |  $union
         |)""".stripMargin
  }

  /** The shared `wc/w0/p·b·w` round CTEs of the BPE oracle;
    * `carryWord = true` threads the original word through every round so
    * the final vocabulary can be joined back for encoding.
    */
  private def bpeRoundsSql(toksExpr: String, nMerges: Int,
      carryWord: Boolean): String = {
    val wCol = if (carryWord) "w, " else ""
    val rounds = (1 to nMerges).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT sym[i] AS a, sym[i + 1] AS b, CAST(SUM(c) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(trim(s, '⟨⟩'), '⟩⟨') AS sym, c FROM w${r - 1}),
         |       unnest(range(1, len(sym))) AS u(i)
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (
         |  SELECT CAST($r AS BIGINT) AS rank, a, b, cnt FROM p$r
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT ${wCol}replace(s, '⟨' || a || '⟩⟨' || b || '⟩',
         |                 '⟨' || a || b || '⟩') AS s, c
         |  FROM w${r - 1} CROSS JOIN b$r)""".stripMargin
    }.mkString(",\n")
    s"""wc AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT unnest($toksExpr) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |w0 AS MATERIALIZED (
       |  SELECT $wCol'⟨' || array_to_string(
       |      list_transform(range(1, length(w) + 1), i -> w[i]), '⟩⟨')
       |    || '⟩⟨/w⟩' AS s, c
       |  FROM wc),
       |$rounds""".stripMargin
  }

  /** DuckDB mirror of [[bpeEncodeStats]]: the same training rounds with
    * the word carried through, then the per-doc word explode joined to
    * the final vocabulary's symbol counts.
    */
  def bpeEncodeSql(idCol: String, toksExpr: String, nMerges: Int): String =
    "WITH " + bpeRoundsSql(toksExpr, nMerges, carryWord = true) + ",\n" +
      s"""wt AS (
         |  SELECT w, CAST(len(string_split(trim(s, '⟨⟩'), '⟩⟨')) AS BIGINT) AS nt
         |  FROM w$nMerges),
         |dt AS (
         |  SELECT $idCol, unnest($toksExpr) AS w FROM documents)
         |SELECT $idCol, CAST(COUNT(*) AS BIGINT) AS n_words,
         |       CAST(SUM(nt) AS BIGINT) AS n_bpe_tokens,
         |       CAST(CAST(SUM(nt) AS BIGINT) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE) AS bpe_ratio
         |FROM dt JOIN wt USING (w)
         |WHERE w <> '' GROUP BY $idCol""".stripMargin

  // --- Count-Min sketch --------------------------------------------------
  //
  // The mergeable approximate-counting structure (Cormode & Muthukrishnan)
  // as DATA: CmRows × CmWidth counters built by one aggregation, probed by
  // a broadcast join. Estimates NEVER undercount (est = min over rows of
  // the hashed bucket's counter ≥ true count); overcounts come from
  // deterministic md5 collisions, so — unlike a randomized sketch — every
  // estimate is bit-reproducible and the DuckDB oracle checks the exact
  // values. Tables merge by entry-wise summation (same guarantee), which
  // is what makes the sketch the 100 TB answer to "term counts without a
  // corpus-sized vocabulary table": the sketch is 4×1024 longs no matter
  // the corpus.

  val CmRows = 4
  val CmWidth = 1024

  /** Bucket of `term` in sketch row `r` (salted 60-bit md5, cross-engine). */
  def cmBucket(r: Int, term: Column): Column =
    pmod(Sampling.keyHash60(concat(lit(s"cm$r:"), term)), lit(CmWidth))

  /** The DuckDB mirror of [[cmBucket]] over expression `e`. */
  def cmBucketSql(r: Int, e: String): String =
    s"(${Sampling.keyHash60Sql(s"'cm$r:' || $e")} % $CmWidth)"

  /** Build the sketch from a token stream: one (row, bucket, cnt) frame
    * of at most CmRows·CmWidth rows — the buckets fan out map-side
    * (posexplode of the per-token bucket array) and the count
    * partial-aggregates, so the exchange is bounded by the sketch size
    * per input partition, never the corpus.
    */
  def countMinSketch(tokens: DataFrame, termCol: String): DataFrame =
    tokens
      .select(posexplode(array((0 until CmRows).map(r =>
        cmBucket(r, col(termCol))): _*)).as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("cnt"))

  /** Probe: per probe term the minimum counter across rows — the CM
    * estimate. The sketch side broadcasts (bounded by construction).
    * The sketch frame only materializes NON-EMPTY slots, so the lookup is
    * a left join with empty slots read as 0: an out-of-corpus probe whose
    * buckets are all (or partly) unpopulated estimates 0 (the true CM
    * answer), instead of vanishing from the output or being estimated
    * from only its colliding rows.
    */
  def countMinEstimate(probes: DataFrame, termCol: String,
      sketch: DataFrame): DataFrame = {
    val melted = probes.select(col("*"),
      posexplode(array((0 until CmRows).map(r =>
        cmBucket(r, col(termCol))): _*)).as(Seq("r", "bucket")))
    melted.join(broadcast(sketch), Seq("r", "bucket"), "left")
      .groupBy(probes.columns.map(col).toIndexedSeq: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
  }

  /** Bigram conditional surprisal — the next step up from
    * [[surprisalStats]]'s unigram model and the integer-exact stand-in
    * for the KenLM-perplexity quality gate of a CCNet-style pipeline:
    * per bigram (a,b) the score is `floor(log2(c(a) / c(a,b)))`
    * (= −log2 of the conditional MLE p(b|a), floored), summed per
    * document over its adjacent pairs. Low mean = predictable,
    * natural-language word order; high mean = shuffled/noisy text that
    * unigram stats cannot distinguish. Documents shorter than two
    * tokens have no bigrams and drop from the output (mirrored by the
    * oracle).
    *
    * Scale shape: bigrams form map-side (slice-zip, one explode), the
    * (doc, bigram, tf) aggregation is two-phase, the per-distinct-bigram
    * surprisal table joins back broadcast at phrase-vocabulary sizes
    * (`broadcastTerms = false` → (l, r)-key shuffle join at web scale),
    * and the unigram history table attaches to it broadcast; text never
    * crosses an exchange.
    */
  def bigramSurprisalStats(docs: DataFrame, idCol: String, textCol: String,
      broadcastTerms: Boolean = true): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val n1 = greatest(size(toks) - 1, lit(0))
    val pairsCol = zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
      (a, b) => struct(a.as("l"), b.as("r")))
    def pairs = docs.select(col(idCol), explode(pairsCol).as("p"))
      .groupBy(col(idCol), col("p.l").as("l"), col("p.r").as("r"))
      .agg(count(lit(1)).as("tf"))
    val c2 = pairs.groupBy(col("l"), col("r")).agg(sum(col("tf")).as("c2"))
    val c1 = docs.select(explode(toks).as("l"))
      .groupBy(col("l")).agg(count(lit(1)).as("c1"))
    def ilog2(x: Column): Column = (length(bin(x)) - 1).cast("long")
    val sup = c2.join(broadcast(c1), Seq("l"))
      .select(col("l"), col("r"), ilog2(expr("c1 DIV c2")).as("sup"))
    pairs.join(if (broadcastTerms) broadcast(sup) else sup, Seq("l", "r"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("sup")).as("sum_surprisal"))
      .withColumn("mean_surprisal",
        col("sum_surprisal").cast("double") / col("n_bigrams").cast("double"))
  }

  /** CROSS-VALIDATED trigram surprisal with stupid backoff (Brants et
    * al., "Large Language Models in Machine Translation") — the honest
    * form of the LM-quality gate: [[surprisalStats]] and
    * [[bigramSurprisalStats]] score the corpus under counts trained ON
    * it, so every n-gram is seen and backoff is dead code; here a
    * deterministic hash split ([[Sampling.splitAssign]], salt "cv")
    * holds out `evalPerMille`/1000 of the documents, counts come from
    * the REST, and the held-out docs are scored with the full backoff
    * cascade a production LM filter needs:
    *
    *   seen trigram          s = log2(c2(ab)/c3(abc))         (floored)
    *   backoff to bigram     s = 2 + log2(c1(b)/c2(bc))
    *   backoff to unigram    s = 4 + log2(T/c1(c))
    *   OOV word              s = 4 + log2(T)
    *
    * The +2-bits-per-level penalty is the integer-exact surrogate for
    * stupid backoff's α = 0.4 (−log2 α ≈ 1.32; 2 keeps every quantity a
    * long — the same floor-log2 discipline as the rest of the family).
    * Prefix counts (c2 as trigram-prefix, c1 as bigram-prefix) come
    * from the n-gram tables themselves so each conditional is a true
    * MLE over its context.
    *
    * Output per held-out doc: trigram count, how many fell to each
    * backoff level, and the summed/mean surprisal. High mean = text the
    * train split's model finds unpredictable (noise, other-language,
    * shuffled) — the CCNet-style perplexity prune, cross-validated.
    *
    * Scale shape: three train-side count aggregations (all partial
    * map-side; the n-gram streams form scan-locally via slice-zips),
    * each localCheckpointed once (every table feeds its own prefix agg
    * AND a join — Spark shares no subtrees); the scoring side is the
    * eval (doc, trigram, tf) stream LEFT-joined to the three surprisal
    * tables (broadcast at vocabulary sizes; `broadcastTerms = false` →
    * term-key shuffle joins at web scale) and one 1-row totals
    * broadcast. Text never crosses an exchange.
    */
  def trigramSurprisalCv(docs: DataFrame, idCol: String, textCol: String,
      evalPerMille: Int = 100, broadcastTerms: Boolean = true): DataFrame = {
    require(evalPerMille >= 1 && evalPerMille <= 999,
      "need 1 <= evalPerMille <= 999")
    val split = Sampling.splitAssign(docs, idCol,
      Seq("train" -> (1000 - evalPerMille), "eval" -> evalPerMille),
      salt = "cv")
    val train = split.filter(col("split") === "train")
    val eval_ = split.filter(col("split") === "eval")
    def mb(df: DataFrame) = if (broadcastTerms) broadcast(df) else df
    def ilog2(x: Column): Column = (length(bin(x)) - 1).cast("long")
    val toks = TextAnalysis.tokens(col(textCol))
    val n1 = greatest(size(toks) - 1, lit(0))
    val biCol = zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
      (b, c) => struct(b.as("b"), c.as("c")))
    val n2 = greatest(size(toks) - 2, lit(0))
    val triCol = zip_with(slice(toks, lit(1), n2),
      zip_with(slice(toks, lit(2), n2), slice(toks, lit(3), n2),
        (b, c) => struct(b.as("b"), c.as("c"))),
      (a, bc) => struct(a.as("a"),
        bc.getField("b").as("b"), bc.getField("c").as("c")))

    val tri = train.select(explode(triCol).as("t"))
      .groupBy(col("t.a").as("a"), col("t.b").as("b"), col("t.c").as("c"))
      .agg(count(lit(1)).as("c3")).localCheckpoint()
    val c2p = tri.groupBy(col("a"), col("b")).agg(sum(col("c3")).as("c2p"))
    val sup3 = tri.join(mb(c2p), Seq("a", "b"))
      .select(col("a"), col("b"), col("c"),
        ilog2(expr("c2p DIV c3")).as("s3"))

    val bi = train.select(explode(biCol).as("p"))
      .groupBy(col("p.b").as("b"), col("p.c").as("c"))
      .agg(count(lit(1)).as("c2b")).localCheckpoint()
    val c1p = bi.groupBy(col("b")).agg(sum(col("c2b")).as("c1b"))
    val sup2 = bi.join(mb(c1p), Seq("b"))
      .select(col("b"), col("c"),
        (lit(2L) + ilog2(expr("c1b DIV c2b"))).as("s2"))

    val uni = train.select(explode(toks).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("c1")).localCheckpoint()
    val tot = uni.agg(sum(col("c1")).as("t1"))
    val sup1 = uni.crossJoin(broadcast(tot))
      .select(col("c"), (lit(4L) + ilog2(expr("t1 DIV c1"))).as("s1"))
    val s0 = tot.select((lit(4L) + ilog2(col("t1"))).as("s0"))

    eval_
      .select(col(idCol), explode(triCol).as("t"))
      .groupBy(col(idCol), col("t.a").as("a"), col("t.b").as("b"),
        col("t.c").as("c"))
      .agg(count(lit(1)).as("tf"))
      .join(mb(sup3), Seq("a", "b", "c"), "left")
      .join(mb(sup2), Seq("b", "c"), "left")
      .join(mb(sup1), Seq("c"), "left")
      .crossJoin(broadcast(s0))
      .select(col(idCol), col("tf"),
        coalesce(col("s3"), col("s2"), col("s1"), col("s0")).as("s"),
        col("s3"), col("s2"), col("s1"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_trigrams"),
        sum(when(col("s3").isNull && col("s2").isNotNull, col("tf"))
          .otherwise(0L)).as("n_bo2"),
        sum(when(col("s3").isNull && col("s2").isNull && col("s1").isNotNull,
          col("tf")).otherwise(0L)).as("n_bo1"),
        sum(when(col("s3").isNull && col("s2").isNull && col("s1").isNull,
          col("tf")).otherwise(0L)).as("n_oov"),
        sum(col("tf") * col("s")).as("sum_surprisal"))
      .withColumn("mean_surprisal",
        col("sum_surprisal").cast("double") / col("n_trigrams").cast("double"))
  }

  /** DuckDB mirror of [[trigramSurprisalCv]] — identical hash split,
    * counts, and backoff cascade.
    */
  def trigramSurprisalCvSql(idCol: String, toksExpr: String,
      evalPerMille: Int): String = {
    val h = Sampling.shuffleHashSql("cv", Sampling.nullSafeKeySql(idCol))
    val cut = 1000 - evalPerMille
    s"""WITH base AS (SELECT $idCol, $toksExpr AS t, $h % 1000 AS h
       |              FROM documents),
       |tr AS MATERIALIZED (SELECT t FROM base WHERE h < $cut),
       |tri AS MATERIALIZED (
       |  SELECT t[i] AS a, t[i + 1] AS b, t[i + 2] AS c,
       |         CAST(COUNT(*) AS BIGINT) AS c3
       |  FROM tr, unnest(range(1, len(t) - 1)) AS u(i)
       |  GROUP BY 1, 2, 3),
       |c2p AS (SELECT a, b, CAST(SUM(c3) AS BIGINT) AS c2p
       |        FROM tri GROUP BY a, b),
       |sup3 AS (SELECT a, b, c,
       |           CAST(length(bin(c2p // c3)) - 1 AS BIGINT) AS s3
       |         FROM tri JOIN c2p USING (a, b)),
       |bi AS MATERIALIZED (
       |  SELECT t[i] AS b, t[i + 1] AS c, CAST(COUNT(*) AS BIGINT) AS c2b
       |  FROM tr, unnest(range(1, len(t))) AS u(i)
       |  GROUP BY 1, 2),
       |c1p AS (SELECT b, CAST(SUM(c2b) AS BIGINT) AS c1b FROM bi GROUP BY b),
       |sup2 AS (SELECT b, c,
       |           2 + CAST(length(bin(c1b // c2b)) - 1 AS BIGINT) AS s2
       |         FROM bi JOIN c1p USING (b)),
       |uni AS MATERIALIZED (
       |  SELECT c, CAST(COUNT(*) AS BIGINT) AS c1
       |  FROM (SELECT unnest(t) AS c FROM tr) GROUP BY c),
       |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS t1 FROM uni),
       |sup1 AS (SELECT c, 4 + CAST(length(bin(t1 // c1)) - 1 AS BIGINT) AS s1
       |         FROM uni CROSS JOIN tot),
       |ev AS (
       |  SELECT $idCol, t[i] AS a, t[i + 1] AS b, t[i + 2] AS c,
       |         CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM base, unnest(range(1, len(t) - 1)) AS u(i)
       |  WHERE h >= $cut
       |  GROUP BY 1, 2, 3, 4)
       |SELECT $idCol, CAST(SUM(tf) AS BIGINT) AS n_trigrams,
       |  CAST(SUM(CASE WHEN s3 IS NULL AND s2 IS NOT NULL THEN tf
       |                ELSE 0 END) AS BIGINT) AS n_bo2,
       |  CAST(SUM(CASE WHEN s3 IS NULL AND s2 IS NULL AND s1 IS NOT NULL
       |                THEN tf ELSE 0 END) AS BIGINT) AS n_bo1,
       |  CAST(SUM(CASE WHEN s3 IS NULL AND s2 IS NULL AND s1 IS NULL
       |                THEN tf ELSE 0 END) AS BIGINT) AS n_oov,
       |  CAST(SUM(tf * COALESCE(s3, s2, s1,
       |    4 + length(bin(t1)) - 1)) AS BIGINT) AS sum_surprisal,
       |  CAST(SUM(tf * COALESCE(s3, s2, s1, 4 + length(bin(t1)) - 1))
       |       AS DOUBLE) / CAST(SUM(tf) AS DOUBLE) AS mean_surprisal
       |FROM ev LEFT JOIN sup3 USING (a, b, c)
       |        LEFT JOIN sup2 USING (b, c)
       |        LEFT JOIN sup1 USING (c)
       |        CROSS JOIN tot
       |GROUP BY $idCol""".stripMargin
  }

  /** Corpus-wide adjacent-token-pair counts — the statistic at the heart
    * of BPE/WordPiece vocabulary induction: each merge step picks the
    * most frequent adjacent pair, so tokenizer training over a corpus is
    * exactly this aggregation, iterated. Returns the `k` most frequent
    * pairs (ties broken lexicographically) as
    * (left_tok, right_tok, pair_count).
    *
    * Scale shape: the pair stream is generated map-side (zip of the
    * token array with its own tail, then explode — no shuffle to form
    * pairs); the count groupBy partial-aggregates on the map side, so
    * the exchange carries one row per distinct pair per partition, not
    * one per token position. The final top-k is TakeOrderedAndProject —
    * per-partition heaps, only k rows reach the driver side of the sort.
    */
  def adjacentPairCounts(docs: DataFrame, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val toks = TextAnalysis.tokens(col(textCol))
    val n1 = greatest(size(toks) - 1, lit(0))
    val pairs = zip_with(
      slice(toks, lit(1), n1), slice(toks, lit(2), n1),
      (a, b) => struct(a.as("l"), b.as("r")))
    docs
      .select(explode(pairs).as("p"))
      .groupBy(col("p.l").as("left_tok"), col("p.r").as("right_tok"))
      .agg(count(lit(1)).as("pair_count"))
      .orderBy(col("pair_count").desc, col("left_tok"), col("right_tok"))
      .limit(k)
  }

  // --- BM25 retrieval ----------------------------------------------------
  //
  // Okapi BM25 (Robertson et al., TREC-3) with k1 = 1.2, b = 0.75, kept
  // FIXED-POINT INTEGER so the ranking is bit-reproducible cross-engine:
  //  - idf uses the Robertson–Spärck Jones RATIO (N - df + 0.5)/(df + 0.5)
  //    directly (no log — ln differs in final ulps between libm builds),
  //    scaled to millionths by one integer division:
  //      idf_fp = (1e6 * (2N - 2df + 1)) div (2df + 1)
  //    A monotone-in-df surrogate: per-term ordering is identical to the
  //    log form; multi-term sums weight rare terms MORE steeply than ln
  //    (documented divergence from the textbook formula).
  //  - The tf saturation term tf(k1+1) / (tf + k1(1 - b + b·dl/avgdl))
  //    multiplies through by 10·S (avgdl = S/N, k1 = 6/5, b = 3/4) into a
  //    ratio of exact longs:
  //      tf_fp = (1e6 * 22 * S * tf) div (10*S*tf + 3*S + 9*dl*N)
  //  - contribution = (idf_fp * tf_fp) div 1e6; the document score is the
  //    exact long sum of contributions, and only the display column
  //    divides once by 1e6 (exactly-rounded IEEE op on an exact long).
  // Intermediate products stay below 2^63 while 22e6·S·tf_max < 2^63,
  // i.e. corpus token count S up to ~1e10 with tf ≤ 40; past that, scale
  // the fixed point down or pre-divide S — the ranking tolerates it.

  /** Top-`k` documents for a bag-of-words query under fixed-point BM25.
    *
    * Scale shape: ONE corpus pass — per-document `dl` and per-query-term
    * `tf` come from a single conditional aggregation over the exploded
    * token stream (map-side partial, exchange carries one row per doc),
    * the corpus totals (N, S, per-term df) are ONE row cross-joined back
    * (broadcast bounded by construction: |Q| + 2 longs), scoring is
    * scan-local integer arithmetic, and the top-k is
    * TakeOrderedAndProject — per-partition heaps, k rows to the driver.
    * Documents matching no query term score 0 and are filtered before
    * the sort.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.size <= 16,
      "need 1 <= queryTerms.size <= 16")
    require(k >= 1, "k must be >= 1")
    val q = queryTerms.zipWithIndex
    val tfAggs = count(lit(1)).as("dl") +: q.map { case (t, i) =>
      sum(when(col("t") === lit(t), 1L).otherwise(0L)).as(s"tf_$i") }
    // referenced twice (totals + scoring) — materialize once so the
    // corpus explode+aggregate runs once, not per reference (Spark
    // shares no common subtrees); the frame is ids + (2+|Q|) longs
    val perDoc = docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .groupBy(col(idCol))
      .agg(tfAggs.head, tfAggs.tail: _*)
      .localCheckpoint()
    val totAggs = Seq(count(lit(1)).as("n"), sum(col("dl")).as("s")) ++
      q.map { case (_, i) =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i") }
    val tot = perDoc.agg(totAggs.head, totAggs.tail: _*)
    val contribs = q.map { case (_, i) =>
      s"""(((1000000 * (2*n - 2*df_$i + 1)) DIV (2*df_$i + 1))
         | * (CASE WHEN tf_$i > 0
         |     THEN (1000000 * 22 * s * tf_$i)
         |          DIV (10*s*tf_$i + 3*s + 9*dl*n)
         |     ELSE 0 END)) DIV 1000000""".stripMargin.replace("\n", " ")
    }
    val matched = q.map { case (_, i) =>
      s"(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END)" }.mkString(" + ")
    perDoc.crossJoin(broadcast(tot))
      .withColumn("score_fp", expr(contribs.mkString("(", ") + (", ")")))
      .filter(col("score_fp") > 0)
      .select(col(idCol), expr(s"CAST($matched AS BIGINT)").as("n_terms_matched"),
        col("score_fp"),
        (col("score_fp").cast("double") / lit(1000000.0)).as("score"))
      .orderBy(col("score_fp").desc, col(idCol))
      .limit(k)
  }

  /** DuckDB mirror of [[bm25TopK]] — identical integer ops (`//` floors
    * like Spark's `DIV` for the all-positive operands here).
    */
  def bm25TopKSql(idCol: String, toksExpr: String,
      queryTerms: Seq[String], k: Int): String = {
    val q = queryTerms.zipWithIndex
    def lit_(t: String) = "'" + t.replace("'", "''") + "'"
    val tfCols = q.map { case (t, i) =>
      s"CAST(COUNT(*) FILTER (WHERE t = ${lit_(t)}) AS BIGINT) AS tf_$i"
    }.mkString(",\n         ")
    val dfCols = q.map { case (_, i) =>
      s"CAST(COUNT(*) FILTER (WHERE tf_$i > 0) AS BIGINT) AS df_$i"
    }.mkString(",\n         ")
    val contribs = q.map { case (_, i) =>
      s"""(((1000000 * (2*n - 2*df_$i + 1)) // (2*df_$i + 1))
         | * (CASE WHEN tf_$i > 0
         |     THEN (1000000 * 22 * s * tf_$i)
         |          // (10*s*tf_$i + 3*s + 9*dl*n)
         |     ELSE 0 END)) // 1000000""".stripMargin.replace("\n", " ")
    }.mkString("(", ") + (", ")")
    val matched = q.map { case (_, i) =>
      s"(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END)" }.mkString(" + ")
    s"""WITH tok AS (SELECT $idCol, unnest($toksExpr) AS t FROM documents),
       |pd AS (SELECT $idCol, CAST(COUNT(*) AS BIGINT) AS dl,
       |         $tfCols
       |       FROM tok GROUP BY $idCol),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST(SUM(dl) AS BIGINT) AS s,
       |         $dfCols
       |       FROM pd),
       |sc AS (SELECT $idCol, CAST($matched AS BIGINT) AS n_terms_matched,
       |         CAST($contribs AS BIGINT) AS score_fp
       |       FROM pd CROSS JOIN tot)
       |SELECT $idCol, n_terms_matched, score_fp,
       |       CAST(score_fp AS DOUBLE) / 1000000.0 AS score
       |FROM sc WHERE score_fp > 0
       |ORDER BY score_fp DESC, $idCol LIMIT $k""".stripMargin
  }
}
