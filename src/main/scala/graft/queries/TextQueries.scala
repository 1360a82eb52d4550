package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.{Decontaminate, Dedup, Multimodal, Packing, Sampling, Web, TextAnalysis => TA}

/** Text-analysis + deduplication + multimodal queries over the
  * `documents` table. Dedup queries run over a deterministically
  * dup-injected corpus (exact copies + near-copies) mirrored 1:1 in the
  * oracle SQL.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** corpus + exact dups (doc_id%10) + near dups with 3 extra tokens
    * (doc_id%15).
    */
  /** The fixed bag-of-words query for `search_bm25`: one rare term
    * ("dup", df ≈ 5% of docs) + two near-ubiquitous ones, so the idf
    * spread actually exercises the weighting.
    */
  val Bm25Query: Seq[String] = Seq("dup", "spark", "batch")

  def dupCorpus(d: DataFrame): DataFrame =
    d.unionByName(
        d.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("source", lit("dup")))
      .unionByName(
        d.filter(col("doc_id") % 15 === 0)
          .withColumn("doc_id", col("doc_id") + 2000000L)
          .withColumn("text", concat(col("text"), lit(" graft extra token")))
          .withColumn("source", lit("neardup")))

  val dupCorpusSql: String =
    """SELECT doc_id, text, lang, source, n_chars FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000, text, lang, 'dup', n_chars FROM documents WHERE doc_id % 10 = 0
      |UNION ALL
      |SELECT doc_id + 2000000, text || ' graft extra token', lang, 'neardup', n_chars
      |FROM documents WHERE doc_id % 15 = 0""".stripMargin

  /** Incremental-dedup batch: exact copies (doc_id%10), near copies
    * (doc_id%15), and genuinely fresh documents (doc_id%7 — synthetic
    * tokens disjoint from the corpus vocabulary).
    */
  def incBatch(d: DataFrame): DataFrame =
    d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionByName(d.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" graft extra token")).as("text")))
      .unionByName(d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(lit("fa"), col("doc_id"), lit(" fb"), col("doc_id"),
            lit(" fc"), col("doc_id"), lit(" fd"), col("doc_id")).as("text")))

  val incBatchSql: String =
    """SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
      |UNION ALL
      |SELECT doc_id + 2000000, text || ' graft extra token' FROM documents WHERE doc_id % 15 = 0
      |UNION ALL
      |SELECT doc_id + 3000000,
      |  'fa' || CAST(doc_id AS VARCHAR) || ' fb' || CAST(doc_id AS VARCHAR) ||
      |  ' fc' || CAST(doc_id AS VARCHAR) || ' fd' || CAST(doc_id AS VARCHAR)
      |FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** documents + a deterministic raw `url` column (doc_id arithmetic,
    * byte-identical to [[webCorpusSql]]) exercising every rule
    * [[graft.functions.Web.canonicalUrl]] applies: mixed-case scheme and
    * host (%2/%4/%7), default ports that must strip — https:443 on %6≡0
    * (even → HTTPS), http:80 on %6≡3 (odd → http) — a non-default :8080
    * that must survive (%11), tracking params that must go while real
    * params stay in order (%3/%9), and fragments (%5). The tld rotates
    * through com/org/co.uk so the registered-domain public-suffix branch
    * is exercised. The Spark queries PARSE these URLs with parse_url;
    * the oracle derives the expected outputs from the same arithmetic —
    * two independent derivations of the same answer.
    */
  def webCorpus(d: DataFrame): DataFrame = {
    val id = col("doc_id")
    val s = id.cast("string")
    val url = concat(
      when(id % 2 === 0, "HTTPS").otherwise("http"), lit("://"),
      when(id % 4 === 0, "WWW.").otherwise(""),
      when(id % 7 === 0, "CDN").otherwise("cdn"), lit("."),
      col("source"), (id % 37).cast("string"), lit("."),
      when(id % 3 === 0, "com").when(id % 3 === 1, "org").otherwise("co.uk"),
      when(id % 11 === 0, ":8080")
        .when(id % 6 === 0, ":443")
        .when(id % 6 === 3, ":80")
        .otherwise(""),
      lit("/Articles/"), (id % 13).cast("string"),
      when(id % 9 === 0, concat(lit("?gclid=z"), s, lit("&utm_medium=cpc")))
        .when(id % 3 === 0,
          concat(lit("?utm_source=feed&id="), s, lit("&fbclid=abc")))
        .otherwise(""),
      when(id % 5 === 0, "#Section-2").otherwise(""))
    d.withColumn("url", url)
  }

  val webCorpusSql: String =
    """SELECT doc_id, text, lang, source, n_chars,
      |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
      |  (CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END) ||
      |  (CASE WHEN doc_id % 7 = 0 THEN 'CDN' ELSE 'cdn' END) || '.' ||
      |  source || CAST(doc_id % 37 AS VARCHAR) || '.' ||
      |  (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'co.uk' END) ||
      |  (CASE WHEN doc_id % 11 = 0 THEN ':8080'
      |        WHEN doc_id % 6 = 0 THEN ':443'
      |        WHEN doc_id % 6 = 3 THEN ':80' ELSE '' END) ||
      |  '/Articles/' || CAST(doc_id % 13 AS VARCHAR) ||
      |  (CASE WHEN doc_id % 9 = 0
      |        THEN '?gclid=z' || CAST(doc_id AS VARCHAR) || '&utm_medium=cpc'
      |        WHEN doc_id % 3 = 0
      |        THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) || '&fbclid=abc'
      |        ELSE '' END) ||
      |  (CASE WHEN doc_id % 5 = 0 THEN '#Section-2' ELSE '' END) AS url
      |FROM documents""".stripMargin

  /** [[webCorpus]] + injected re-crawl URL VARIANTS (doc_id%4==1, with
    * %6≠3 and %11≠0 so base and variant agree on canonical port):
    * uppercased host, explicit default :80, tracking-param noise, and a
    * fragment — raw strings that differ from the base in every rule
    * [[graft.functions.Web.canonicalUrl]] normalizes, and in nothing
    * else, so URL-level dedup must collapse each variant onto its base.
    */
  def webDupCorpus(d: DataFrame): DataFrame = {
    val id = col("doc_id")
    val vq = when(id % 3 === 0 && id % 9 =!= 0,
        concat(lit("?id="), id.cast("string"), lit("&utm_x=1")))
      .otherwise("?utm_x=1")
    val host = concat(
      when(id % 7 === 0, "CDN").otherwise("cdn"), lit("."),
      col("source"), (id % 37).cast("string"), lit("."),
      when(id % 3 === 0, "com").when(id % 3 === 1, "org").otherwise("co.uk"))
    val variant = d
      .filter(id % 4 === 1 && id % 6 =!= 3 && id % 11 =!= 0)
      .select((id + 5000000L).as("doc_id"),
        concat(lit("HTTP://"), upper(host), lit(":80/Articles/"),
          (id % 13).cast("string"), vq, lit("#dup")).as("url"))
    webCorpus(d).select(col("doc_id"), col("url")).unionByName(variant)
  }

  /** The DuckDB arithmetic derivation of the expected lowercased host of
    * a [[webCorpus]] URL.
    */
  private val webHostSql: String =
    """lower((CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END) ||
      |  (CASE WHEN doc_id % 7 = 0 THEN 'CDN' ELSE 'cdn' END) || '.' ||
      |  source || CAST(doc_id % 37 AS VARCHAR) || '.' ||
      |  (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'co.uk' END))"""
      .stripMargin

  /** The DuckDB arithmetic derivation of the expected CANONICAL URL of a
    * [[webCorpus]] row (needs doc_id + source columns in scope; also
    * correct for [[webDupCorpus]] variants, whose filters pin the same
    * canonical port/query classes as their base).
    */
  private val webCanonSql: String =
    s"""((CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) ||
       |  '://' || $webHostSql ||
       |  (CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END) ||
       |  '/Articles/' || CAST(doc_id % 13 AS VARCHAR) ||
       |  (CASE WHEN doc_id % 9 = 0 THEN ''
       |        WHEN doc_id % 3 = 0 THEN '?id=' || CAST(doc_id AS VARCHAR)
       |        ELSE '' END))""".stripMargin

  /** The DuckDB arithmetic derivation of the expected registered domain
    * (www/sub stripped, minimal public-suffix set — co.uk keeps 3
    * labels).
    */
  private val webDomainSql: String =
    """(lower(source) || CAST(doc_id % 37 AS VARCHAR) || '.' ||
      |  (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'co.uk' END))"""
      .stripMargin

  /** Shared DuckDB tail of the ExactSubstr mirrors: expects CTEs `t`
    * (doc_id, w token list) and `m` (doc_id, p marked gram starts) for
    * L = 8 — coverage union, per-doc reassembly from the gaps,
    * gaps-and-islands span count.
    */
  private val exactSubstrTailCtes: String =
    """cov AS (
      |  SELECT DISTINCT doc_id, p + o AS idx
      |  FROM m, unnest(range(0, 8)) AS z(o)),
      |tok AS (
      |  SELECT doc_id, CAST(i AS INTEGER) AS idx, w[i+1] AS tk
      |  FROM t, unnest(range(0, len(w))) AS u(i)),
      |clean AS (
      |  SELECT tok.doc_id,
      |    CAST(COUNT(*) FILTER (WHERE cov.idx IS NOT NULL) AS BIGINT)
      |      AS n_removed,
      |    COALESCE(string_agg(tk, ' ' ORDER BY tok.idx)
      |      FILTER (WHERE cov.idx IS NULL), '') AS clean_text
      |  FROM tok LEFT JOIN cov
      |    ON tok.doc_id = cov.doc_id AND tok.idx = cov.idx
      |  GROUP BY tok.doc_id),
      |isl AS (
      |  SELECT doc_id,
      |    CASE WHEN p > COALESCE(MAX(p) OVER (PARTITION BY doc_id
      |        ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING
      |        AND 1 PRECEDING), -99) + 8
      |      THEN 1 ELSE 0 END AS brk
      |  FROM m),
      |sp AS (SELECT doc_id, CAST(SUM(brk) AS BIGINT) AS n_spans
      |       FROM isl GROUP BY doc_id)""".stripMargin

  /** Final per-document SELECT over [[exactSubstrTailCtes]] — standalone
    * result for dedup_exact_substr*, a subquery for the savings rollup.
    */
  private val exactSubstrPerDocSql: String =
    """SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
      |  c.n_removed,
      |  COALESCE(sp.n_spans, CAST(0 AS BIGINT)) AS n_spans,
      |  c.clean_text
      |FROM t
      |JOIN clean c ON t.doc_id = c.doc_id
      |LEFT JOIN sp ON t.doc_id = sp.doc_id""".stripMargin

  private val exactSubstrTailSql: String =
    s"$exactSubstrTailCtes\n$exactSubstrPerDocSql"

  /** A document's whitespace tokens, as the DuckDB oracles split them. */
  private val toks = "string_split(text, ' ')"

  def all: Seq[Query] = Seq(
    // token counting + quality scoring, one pass, pure expressions
    Query("text_stats", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TA.tokenCount(col("text")).cast("long").as("n_tokens"),
        TA.bpeTokenEstimate(col("text")).as("bpe_tokens"),
        length(col("text")).cast("long").as("n_chars_calc"),
        TA.stopwordCount(col("text")).cast("long").as("stop_count"),
        TA.punctRatio(col("text")).as("punct_ratio"),
        TA.qualityScore(col("text")).as("quality")),
      oracle = s"""SELECT doc_id,
         |  CAST(len($toks) AS BIGINT) AS n_tokens,
         |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars_calc,
         |  CAST(${TA.stopwordCountSql(toks)} AS BIGINT) AS stop_count,
         |  CAST(length(text) - length(translate(text, '${TA.PunctChars.replace("'", "''")}', '')) AS DOUBLE)
         |    / CAST(GREATEST(length(text), 1) AS DOUBLE) AS punct_ratio,
         |  LEAST(CAST(len($toks) AS DOUBLE) / 100.0, 1.0) * 0.5 +
         |    (CAST(${TA.stopwordCountSql(toks)} AS DOUBLE)
         |     / CAST(GREATEST(len($toks), 1) AS DOUBLE)) * 0.5 AS quality
         |FROM documents""".stripMargin),
    // Gopher-style quality rule battery: metrics + per-rule verdicts +
    // keep conjunction, one codegen'd pass over the scan (thresholds
    // tightened from the published defaults so the fixture corpus
    // exercises both outcomes of every data-dependent rule)
    Query("text_quality_rules", (s, dir) =>
      docs(s, dir).select(
        col("doc_id") +: TA.qualityRuleColumns(col("text"),
          TestQualityRules): _*),
      oracle = s"""SELECT doc_id,
         |  ${TA.qualityRuleColumnsSql(toks, TestQualityRules)}
         |FROM documents""".stripMargin),
    // n-gram-heuristic language ID vs the labeled lang column
    Query("text_langid", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"), col("lang"),
        TA.langId(col("text")).as("lang_pred")),
      oracle = s"""SELECT doc_id, lang, ${TA.langIdSql(toks)} AS lang_pred
         |FROM documents""".stripMargin),
    // language-ID confusion matrix + per-label recall: the classifier
    // eval a pipeline runs before trusting langid for routing — one
    // (label, prediction) groupBy, label totals join back on the tiny
    // label frame, recall divides exact longs
    Query("text_langid_confusion", (s, dir) => {
      val pred = docs(s, dir).select(col("lang"),
        TA.langId(col("text")).as("lang_pred"))
      val cell = pred.groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
      val tot = cell.groupBy(col("lang")).agg(sum(col("n")).as("__t"))
      cell.join(tot, Seq("lang"))
        .select(col("lang"), col("lang_pred"), col("n"),
          (col("n").cast("double") / col("__t").cast("double"))
            .as("share_of_label"),
          (col("lang") === col("lang_pred")).as("is_correct"))
    },
      // same predictor, same recall math
      oracle = s"""WITH p AS (
         |  SELECT lang, ${TA.langIdSql(toks)} AS lang_pred
         |  FROM documents),
         |cell AS (
         |  SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM p GROUP BY 1, 2),
         |t AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS tt
         |      FROM cell GROUP BY lang)
         |SELECT cell.lang, lang_pred, n,
         |  CAST(n AS DOUBLE) / CAST(tt AS DOUBLE) AS share_of_label,
         |  cell.lang = lang_pred AS is_correct
         |FROM cell JOIN t ON cell.lang = t.lang""".stripMargin),
    // content fingerprint (md5 of normalized text)
    Query("text_fingerprint", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"), TA.fingerprint(col("text")).as("fp")),
      oracle = "SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents"),
    // sequence packing: shard-local concat-and-chunk token offsets
    // (8 shards, 2048-token sequences, whitespace token count)
    Query("pack_offsets", (s, dir) =>
      Packing.concatOffsets(docs(s, dir), "doc_id",
          TA.tokenCount(col("text")), shards = 8, seqLen = 2048)
        .select("doc_id", "shard", "start_offset", "end_offset",
          "first_seq", "last_seq"),
      oracle = """WITH d AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, shard,
        |    CAST(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
        |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_offset, n
        |  FROM d
        |)
        |SELECT doc_id, shard,
        |  end_offset - n AS start_offset, end_offset,
        |  (end_offset - n) // 2048 AS first_seq,
        |  CASE WHEN end_offset > end_offset - n THEN (end_offset - 1) // 2048
        |       ELSE (end_offset - n) // 2048 END AS last_seq
        |FROM c""".stripMargin),
    // token-budget selection: best-quality docs until the global token
    // budget fills — the global quality-ordered cumsum must match the
    // oracle's single running sum exactly (two-phase chunked plan)
    Query("budget_select", (s, dir) =>
      Sampling.budgetSelect(
          docs(s, dir).select(col("doc_id"), col("text")),
          "doc_id", TA.qualityScore(col("text")), TA.tokenCount(col("text")),
          budget = 12000)
        .select("doc_id", "priority", "n_tokens", "cum_tokens"),
      oracle = s"""WITH d AS (
         |  SELECT doc_id,
         |    ${TA.qualityScoreSql(toks)} AS priority,
         |    CAST(len($toks) AS BIGINT) AS n_tokens
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, priority, n_tokens,
         |    CAST(SUM(n_tokens) OVER (ORDER BY priority DESC, doc_id
         |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM d
         |)
         |SELECT doc_id, priority, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= 12000""".stripMargin),
    // GLOBAL packing order: two-phase chunked cumsum — must equal the
    // single global running sum the oracle computes, bit for bit
    Query("pack_offsets_global", (s, dir) =>
      Packing.concatOffsetsGlobal(docs(s, dir), "doc_id",
          TA.tokenCount(col("text")), chunkSize = 64, seqLen = 2048)
        .select("doc_id", "chunk", "start_offset", "end_offset",
          "first_seq", "last_seq"),
      oracle = """WITH d AS (
        |  SELECT doc_id, doc_id // 64 AS chunk,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, chunk,
        |    CAST(SUM(n) OVER (ORDER BY doc_id
        |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_offset, n
        |  FROM d
        |)
        |SELECT doc_id, chunk,
        |  end_offset - n AS start_offset, end_offset,
        |  (end_offset - n) // 2048 AS first_seq,
        |  CASE WHEN end_offset > end_offset - n THEN (end_offset - 1) // 2048
        |       ELSE (end_offset - n) // 2048 END AS last_seq
        |FROM c""".stripMargin),
    // corpus boilerplate profile: share of each doc's distinct 3-gram
    // shingles that repeat across >= 3 documents of the dup-injected
    // corpus (injected dups make their shingles corpus-common)
    Query("text_boilerplate", (s, dir) =>
      Decontaminate.boilerplateFrac(dupCorpus(docs(s, dir)),
        "doc_id", "text", n = 3, minDf = 3),
      oracle = s"""WITH corpus AS ($dupCorpusSql),
         |sh AS ($shinglesSql),
         |hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) >= 3),
         |hits AS (SELECT s.id, COUNT(*) AS n_boiler
         |         FROM sh s JOIN hot h ON s.shingle = h.shingle GROUP BY s.id),
         |tot AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_shingles
         |        FROM sh GROUP BY id)
         |SELECT t.id AS doc_id, t.n_shingles,
         |  CAST(COALESCE(h.n_boiler, 0) AS BIGINT) AS n_boiler,
         |  CAST(COALESCE(h.n_boiler, 0) AS DOUBLE)
         |    / CAST(GREATEST(t.n_shingles, 1) AS DOUBLE) AS boiler_frac
         |FROM tot t LEFT JOIN hits h ON t.id = h.id""".stripMargin),
    // benchmark decontamination: dup-injected corpus vs a "benchmark"
    // subset (doc_id % 25) — exact copies hit 100%, near-dups partially
    Query("decontaminate", (s, dir) =>
      Decontaminate.ngramHits(
        dupCorpus(docs(s, dir)),
        docs(s, dir).filter(col("doc_id") % 25 === 0),
        "doc_id", "text", n = 5),
      oracle = s"""WITH corpus AS ($dupCorpusSql),
         |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
         |bsh AS (SELECT DISTINCT shingle FROM (${sh5("bench")})),
         |csh AS (${sh5("corpus")}),
         |tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM csh GROUP BY doc_id),
         |hits AS (SELECT c.doc_id, COUNT(*) AS n_hits
         |         FROM csh c JOIN bsh b ON c.shingle = b.shingle GROUP BY c.doc_id)
         |SELECT h.doc_id,
         |  CAST(h.n_hits AS BIGINT) AS n_hit_ngrams,
         |  CAST(t.n_sh AS BIGINT) AS n_shingles,
         |  CAST(h.n_hits AS DOUBLE) / CAST(t.n_sh AS DOUBLE) AS hit_frac
         |FROM hits h JOIN tot t ON h.doc_id = t.doc_id""".stripMargin),
    // Bloom-filter decontamination: the same bench set folded into a
    // 2^18-bit / 3-hash Bloom filter built as data and probed as one
    // broadcast row — deterministic md5 bits, so even its false
    // positives are oracle-reproducible
    Query("decontaminate_bloom", (s, dir) =>
      Decontaminate.bloomNgramHits(
        dupCorpus(docs(s, dir)),
        docs(s, dir).filter(col("doc_id") % 25 === 0),
        "doc_id", "text", n = 5),
      oracle = {
        def h60(e: String) = graft.functions.Sampling.keyHash60Sql(e)
        s"""WITH corpus AS ($dupCorpusSql),
           |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
           |bsh AS (SELECT DISTINCT shingle FROM (${sh5("bench")})),
           |bh AS (SELECT shingle, ${h60("shingle")} AS h FROM bsh),
           |bbits AS (
           |  SELECT DISTINCT
           |    ((h % 1073741824) + r.j * (h // 1073741824)) % 262144 AS pos
           |  FROM bh, unnest(range(0, 3)) AS r(j)),
           |csh AS (${sh5("corpus")}),
           |ch AS (SELECT doc_id, shingle, ${h60("shingle")} AS h FROM csh),
           |probe AS (
           |  SELECT c.doc_id, c.shingle,
           |    ((h % 1073741824) + r.j * (h // 1073741824)) % 262144 AS pos
           |  FROM ch c, unnest(range(0, 3)) AS r(j)),
           |flags AS (
           |  SELECT doc_id, shingle,
           |    MIN(CASE WHEN pos IN (SELECT pos FROM bbits)
           |             THEN 1 ELSE 0 END) AS ok
           |  FROM probe GROUP BY doc_id, shingle)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
           |  CAST(SUM(ok) AS BIGINT) AS n_flagged,
           |  CAST(SUM(ok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS flag_frac
           |FROM flags GROUP BY doc_id""".stripMargin
      }),
    // PII redaction over a corpus with deterministically injected PII
    // (emails / phone+IP on a doc_id rotation) so the oracle proves the
    // scrubbing really fires, not just that clean text passes through
    Query("text_redact", (s, dir) =>
      docs(s, dir)
        .withColumn("dirty",
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" contact user"),
              col("doc_id").cast("string"), lit("@example.com now")))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit(" call 555-867-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" or visit 10.0."),
              (col("doc_id") % 256).cast("string"), lit(".1")))
          .otherwise(col("text")))
        .select(col("doc_id"),
          TA.piiCount(col("dirty")).as("n_pii"),
          TA.redactPii(col("dirty")).as("clean")),
      oracle = s"""SELECT doc_id,
         |  ${TA.piiCountSql("dirty")} AS n_pii,
         |  ${TA.redactPiiSql("dirty")} AS clean
         |FROM (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0
         |           THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
         |         WHEN doc_id % 3 = 1
         |           THEN text || ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |                || ' or visit 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
         |         ELSE text END AS dirty
         |  FROM documents)""".stripMargin),
    // within-document repetition profile (Gopher-style quality filters);
    // pure array expressions — the whole profile rides the scan
    Query("text_repetition", (s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TA.dupFrac(TA.tokenNgrams(col("text"), 2)).as("dup_2gram_frac"),
        TA.dupFrac(TA.tokenNgrams(col("text"), 3)).as("dup_3gram_frac"),
        TA.topTokenFrac(col("text")).as("top_token_frac")),
      oracle = s"""SELECT doc_id,
         |  ${TA.dupFracSql(TA.tokenNgramsSql(toks, 2))} AS dup_2gram_frac,
         |  ${TA.dupFracSql(TA.tokenNgramsSql(toks, 3))} AS dup_3gram_frac,
         |  ${TA.topTokenFracSql(toks)} AS top_token_frac
         |FROM documents""".stripMargin),
    // exact dedup: hash-groupBy over the dup-injected corpus
    Query("dedup_exact", (s, dir) =>
      Dedup.exactDups(dupCorpus(docs(s, dir)), "doc_id", "text"),
      oracle = s"""WITH corpus AS ($dupCorpusSql)
         |SELECT md5(lower(trim(text))) AS content_hash,
         |       CAST(COUNT(*) AS BIGINT) AS n_copies,
         |       MIN(doc_id) AS canonical_id
         |FROM corpus GROUP BY 1 HAVING COUNT(*) > 1""".stripMargin),
    // deduplicated corpus materialization: one canonical row per content
    Query("dedup_canonical", (s, dir) =>
      Dedup.keepCanonical(dupCorpus(docs(s, dir)), "doc_id", "text")
        .select("doc_id", "source"),
      oracle = s"""WITH corpus AS ($dupCorpusSql)
         |SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |         MIN(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS canon
         |  FROM corpus
         |) WHERE doc_id = canon""".stripMargin),
    // same result via the skew-safe groupBy+semi-join shape (hot-hash
    // corpora: the min partial-aggregates map-side instead of sorting all
    // copies of one document in a single window task)
    Query("dedup_canonical_agg", (s, dir) =>
      Dedup.keepCanonical(dupCorpus(docs(s, dir)), "doc_id", "text",
        skewSafe = true).select("doc_id", "source"),
      oracle = s"""WITH corpus AS ($dupCorpusSql)
         |SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |         MIN(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS canon
         |  FROM corpus
         |) WHERE doc_id = canon""".stripMargin),
    // n-gram Jaccard near-dup pairs (shingle-blocked self-join with a
    // document-frequency cap on the blocking key — see ngramJaccardPairs)
    Query("dedup_ngram_pairs", (s, dir) =>
      Dedup.ngramJaccardPairs(dupCorpus(docs(s, dir)), "doc_id", "text",
        shingleN = 3, minJaccard = 0.5, maxShingleDf = 64),
      oracle = ngramPairsOracleSql),
    // asymmetric containment pairs over the same shingle space: catches
    // subset/quote relationships (|∩|/|A|) that Jaccard scores near 0
    Query("dedup_containment", (s, dir) =>
      Dedup.ngramContainmentPairs(dupCorpus(docs(s, dir)), "doc_id",
        "text", shingleN = 3, minContainment = 0.9, maxShingleDf = 64),
      oracle = containmentOracleSql),
    // MinHash+LSH candidate pairs. The gate runs the md5-hash mode whose
    // shingle hash and band keys a DuckDB oracle reproduces exactly; the
    // xxh64 default stays the cheapest-hash scale path (same plan shape,
    // ScalaTest asserts recall on it)
    Query("dedup_minhash", (s, dir) =>
      Dedup.minHashCandidatePairs(dupCorpus(docs(s, dir)), "doc_id", "text",
        useMd5 = true),
      oracle = minHashOracleSql),
    // first-occurrence novelty per document: the share of a doc's
    // trigram shingles never seen in any earlier (lower-id) document —
    // the diversity/freshness metric a curation pipeline tracks as it
    // appends crawl snapshots (novelty collapsing toward 0 means the
    // new data is rehash). One shingle-keyed min-aggregate, join back,
    // per-doc ratio of exact longs
    Query("text_novelty", (s, dir) => {
      val sh = docs(s, dir)
        .select(col("doc_id"),
          explode(Dedup.wordShingles(col("text"), 3)).as("shingle"))
        .distinct()
      val first = sh.groupBy(col("shingle"))
        .agg(min(col("doc_id")).as("__first"))
      sh.join(first, Seq("shingle"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("__first") === col("doc_id"), 1L).otherwise(0L))
            .as("novel_shingles"))
        .withColumn("novelty",
          col("novel_shingles").cast("double") /
            col("n_shingles").cast("double"))
    },
      // same trigram shingles (short-doc fallback), same first-occurrence
      // rule
      oracle = """WITH sh AS (
        |  SELECT DISTINCT doc_id, unnest(
        |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |         ELSE list_transform(range(0, len(w) - 2),
        |                i -> array_to_string(list_slice(w, i + 1, i + 3), ' ')) END
        |  ) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |f AS (SELECT shingle, CAST(MIN(doc_id) AS BIGINT) AS fd
        |      FROM sh GROUP BY shingle)
        |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS novel_shingles,
        |  CAST(SUM(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS novelty
        |FROM sh JOIN f ON sh.shingle = f.shingle
        |GROUP BY sh.doc_id""".stripMargin),
    // LSH S-curve audit: per Jaccard decile, the analytic candidate
    // probability 1-(1-j^2)^8 for this pipeline's banding (k=16, 8
    // bands x 2 rows) vs the OBSERVED hit rate of the md5 MinHash
    // candidates against exact-Jaccard truth pairs — the knob-tuning
    // report run before changing bands/rows/df caps
    Query("dedup_lsh_scurve", (s, dir) => {
      val corpus = dupCorpus(docs(s, dir))
      val truth = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        shingleN = 3, minJaccard = 0.05, maxShingleDf = 64)
      val cand = Dedup.minHashCandidatePairs(corpus, "doc_id", "text",
        useMd5 = true)
      Dedup.lshSCurve(truth, cand, bands = 8, rows = 2)
    },
      // same truth/cand CTEs, same unrolled left-associated probability
      // products, same 2^40 fixed point
      oracle = {
        val q8 = (1 until 8).foldLeft("q")((acc, _) => s"($acc * q)")
        s"""$shinglePairCtes,
           |${bandsCteSql("corpus", "lsh_")},
           |cand AS (
           |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
           |  FROM lsh_bands x JOIN lsh_bands y
           |    ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id),
           |truth AS (
           |  SELECT id_a, id_b,
           |    CAST(n_common AS DOUBLE) / CAST(a.n + b.n - n_common AS DOUBLE)
           |      AS jaccard
           |  FROM inter JOIN sizes a ON id_a = a.id JOIN sizes b ON id_b = b.id
           |  WHERE CAST(n_common AS DOUBLE) / CAST(a.n + b.n - n_common AS DOUBLE)
           |    >= 0.05),
           |flg AS (
           |  SELECT t.jaccard,
           |    CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS caught,
           |    (1.0 - (t.jaccard * t.jaccard)) AS q
           |  FROM truth t LEFT JOIN cand c
           |    ON t.id_a = c.id_a AND t.id_b = c.id_b),
           |pb AS (
           |  SELECT LEAST(CAST(FLOOR(jaccard * 10) AS BIGINT), 9) AS bin,
           |    caught,
           |    CAST(FLOOR((1.0 - $q8) * 1099511627776.0) AS BIGINT) AS p40
           |  FROM flg)
           |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |  CAST(SUM(caught) AS BIGINT) AS observed_caught,
           |  CAST(SUM(caught) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
           |    AS observed_recall,
           |  CAST(CAST(SUM(p40) AS BIGINT) AS DOUBLE) / 1099511627776.0
           |    / CAST(COUNT(*) AS DOUBLE) AS expected_recall
           |FROM pb GROUP BY bin""".stripMargin
      }),
    // sketch-only similarity: candidate pairs scored by the MinHash
    // Jaccard estimator — 2k longs per pair, shingles never re-touched
    Query("dedup_minhash_jaccard", (s, dir) => {
      val corpus = dupCorpus(docs(s, dir))
      val sig = Dedup.withMinHashSignature(corpus, "doc_id", "text",
        useMd5 = true).select(col("id"), col("sig"))
      val cand = Dedup.minHashCandidatePairs(corpus, "doc_id", "text",
        useMd5 = true)
      cand
        .join(sig.select(col("id").as("id_a"), col("sig").as("__sa")), "id_a")
        .join(sig.select(col("id").as("id_b"), col("sig").as("__sb")), "id_b")
        .select(col("id_a"), col("id_b"),
          Dedup.minHashJaccardEstimate(col("__sa"), col("__sb")).as("est_jaccard"))
    },
      oracle = minHashJaccardOracleSql),
    // SimHash near-dups with hamming verify — md5 mode for the oracle,
    // same banded-join plan as the xxh64 scale path
    Query("dedup_simhash", (s, dir) =>
      Dedup.simHashNearDups(dupCorpus(docs(s, dir)), "doc_id", "text",
        useMd5 = true),
      oracle = simHashOracleSql),
    // sorted-neighborhood near-dups: global SimHash sort order (two-
    // phase bucketed rank — no single-partition window over data rows),
    // each doc compared with its 4 successors, hamming verify. The
    // O(n·w) single-pass alternative to LSH banding
    Query("dedup_sorted_neighbors", (s, dir) =>
      Dedup.sortedNeighborDups(dupCorpus(docs(s, dir)), "doc_id", "text",
        window = 4, maxHamming = 3, useMd5 = true),
      oracle = sortedNeighborOracleSql),
    // EXACT set-similarity self-join (AllPairs prefix filtering,
    // Bayardo et al. 2007): every pair with trigram-shingle Jaccard
    // >= 0.8, zero recall loss — the deterministic complement to
    // MinHash when the dedup decision must be defensible. Candidates
    // come only from rarest-first PREFIX shingles (pigeonhole-complete
    // at the threshold); trigram sets because this corpus's 31-word
    // vocabulary saturates unigram Jaccard; the 1000-df cap guards the
    // blocking join against a degenerate shingle space
    Query("dedup_prefix_jaccard", (s, dir) =>
      Dedup.prefixJaccardDups(dupCorpus(docs(s, dir)), "doc_id", "text",
        threshold = 0.8, maxPrefixDf = 1000, shingleN = 3),
      // same trigram shingles, same rarest-first prefix, same 1000-df cap,
      // same exact verification
      oracle = Dedup.prefixJaccardDupsSql(
        s"SELECT doc_id AS id, text FROM ($dupCorpusSql)",
        threshold = 0.8, maxPrefixDf = 1000, shingleN = 3)),
    // edit-distance verification of near-dup candidates: sorted-
    // neighborhood candidates (hamming <= 8, loose) re-scored with TRUE
    // Levenshtein distance on 256-char prefixes — the precision stage a
    // sketch-based dedup pipeline runs before destructive deletion
    // (SimHash proximity is a proxy; edit distance is the claim).
    // Both engines run their builtin codegen'd levenshtein; the prefix
    // cap bounds the O(len²) cell table per pair
    Query("dedup_edit_verify", (s, dir) => {
      val corpus = dupCorpus(docs(s, dir))
      val cand = Dedup.sortedNeighborDups(corpus, "doc_id", "text",
        window = 4, maxHamming = 8, useMd5 = true)
      val txt = corpus.select(col("doc_id"),
        substring(col("text"), 1, 256).as("__t"))
      cand
        .join(txt.select(col("doc_id").as("id_a"), col("__t").as("__ta")),
          Seq("id_a"))
        .join(txt.select(col("doc_id").as("id_b"), col("__t").as("__tb")),
          Seq("id_b"))
        .withColumn("edit_dist", levenshtein(col("__ta"), col("__tb")))
        .filter(col("edit_dist") <= 40)
        .select(col("id_a"), col("id_b"), col("hamming"),
          col("edit_dist").cast("int").as("edit_dist"),
          (lit(1.0) - col("edit_dist").cast("double") /
            greatest(length(col("__ta")), length(col("__tb"))).cast("double"))
            .as("edit_sim"))
    },
      // same rank candidates, same builtin levenshtein on 256-char prefixes
      oracle = s"""WITH $simHashSigCtesSql,
         |ranked AS (
         |  SELECT id, s, row_number() OVER (ORDER BY s, id) AS rn FROM sig
         |),
         |cand AS (
         |  SELECT LEAST(x.id, y.id) AS id_a, GREATEST(x.id, y.id) AS id_b,
         |    CAST(bit_count(xor(x.s, y.s)) AS INT) AS hamming
         |  FROM ranked x JOIN ranked y
         |    ON y.rn > x.rn AND y.rn <= x.rn + 4
         |  WHERE bit_count(xor(x.s, y.s)) <= 8
         |),
         |txt AS (SELECT doc_id AS id, substr(text, 1, 256) AS t FROM corpus)
         |SELECT id_a, id_b, hamming,
         |  CAST(levenshtein(a.t, b.t) AS INT) AS edit_dist,
         |  1.0 - CAST(levenshtein(a.t, b.t) AS DOUBLE)
         |    / CAST(GREATEST(length(a.t), length(b.t)) AS DOUBLE) AS edit_sim
         |FROM cand JOIN txt a ON cand.id_a = a.id
         |          JOIN txt b ON cand.id_b = b.id
         |WHERE levenshtein(a.t, b.t) <= 40""".stripMargin),
    // CCNet-style span-level dedup: drop every 8-token span already seen
    // earlier in the dup-injected corpus (global (id, pos) first-occurrence
    // order) and reassemble — exact-dup docs collapse to empty clean_text,
    // near-dups keep only their divergent tail span
    Query("dedup_spans", (s, dir) =>
      Dedup.spanDedup(dupCorpus(docs(s, dir)), "doc_id", "text", span = 8),
      oracle = s"""WITH corpus AS ($dupCorpusSql),
         |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
         |spans AS (
         |  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         |    array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ') AS s
         |  FROM t, unnest(range(0, GREATEST((len(w) + 7) // 8, 1))) AS u(i)
         |), k AS (
         |  SELECT doc_id, pos, s,
         |    row_number() OVER (PARTITION BY md5(lower(trim(s)))
         |                       ORDER BY doc_id, pos) AS rn
         |  FROM spans
         |)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_spans,
         |  coalesce(string_agg(CASE WHEN rn = 1 THEN s END, ' ' ORDER BY pos), '')
         |    AS clean_text
         |FROM k GROUP BY doc_id""".stripMargin),
    // ExactSubstr dedup (Lee et al.): REMOVE every duplicated token run
    // >= 8 tokens from all but its first carrier and emit the cleaned
    // text — exact-dup copies collapse to '', the 3-token near-dup
    // tails survive their copies ('graft extra token'), and short docs
    // are never rewritten. L-gram marking is exact for the >=L-run
    // definition; no pair join anywhere (see Dedup.exactSubstrDedup)
    Query("dedup_exact_substr", (s, dir) =>
      Dedup.exactSubstrDedup(dupCorpus(docs(s, dir)), "doc_id", "text",
        minLen = 8),
      // mirrors exactSubstrDedup: same L-gram first-occurrence marking
      // (the 120-bit keyHash60/keyHash60b composite, (doc_id, pos)
      // global order), token-level coverage union, gaps-and-islands span
      // count, gap-text reassembly
      oracle = s"""WITH corpus AS ($dupCorpusSql),
         |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
         |g AS (
         |  SELECT doc_id, CAST(i AS INTEGER) AS p,
         |    ${Sampling.keyHash60Sql("array_to_string(w[i+1:i+8], ' ')")} AS h,
         |    ${Sampling.keyHash60bSql("array_to_string(w[i+1:i+8], ' ')")} AS h2
         |  FROM t, unnest(range(0, len(w) - 7)) AS u(i)
         |  WHERE len(w) >= 8),
         |m AS (
         |  SELECT doc_id, p FROM (
         |    SELECT doc_id, p,
         |      ROW_NUMBER() OVER (PARTITION BY h, h2 ORDER BY doc_id, p) AS rn
         |    FROM g)
         |  WHERE rn > 1),
         |$exactSubstrTailSql""".stripMargin),
    // the dataset-card rollup of ExactSubstr: per-source tokens kept vs
    // removed, fully-duplicated doc counts, and the removed fraction —
    // the "X% of tokens removed" number the Lee et al. pipeline reports
    Query("dedup_substr_savings", (s, dir) => {
      val corpus = dupCorpus(docs(s, dir))
      Dedup.exactSubstrDedup(corpus, "doc_id", "text", minLen = 8)
        .join(corpus.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_removed")).as("n_removed"),
          sum(when(col("n_removed") === col("n_tokens") &&
            col("n_tokens") > 0, 1L).otherwise(0L)).as("n_emptied"))
        .withColumn("removed_frac", col("n_removed").cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double"))
    },
      // per-doc ExactSubstr result rolled up by source (sums over exact
      // longs; one double division)
      oracle = s"""WITH corpus AS ($dupCorpusSql),
         |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
         |g AS (
         |  SELECT doc_id, CAST(i AS INTEGER) AS p,
         |    ${Sampling.keyHash60Sql("array_to_string(w[i+1:i+8], ' ')")} AS h,
         |    ${Sampling.keyHash60bSql("array_to_string(w[i+1:i+8], ' ')")} AS h2
         |  FROM t, unnest(range(0, len(w) - 7)) AS u(i)
         |  WHERE len(w) >= 8),
         |m AS (
         |  SELECT doc_id, p FROM (
         |    SELECT doc_id, p,
         |      ROW_NUMBER() OVER (PARTITION BY h, h2 ORDER BY doc_id, p) AS rn
         |    FROM g)
         |  WHERE rn > 1),
         |$exactSubstrTailCtes,
         |perdoc AS ($exactSubstrPerDocSql)
         |SELECT c.source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(p.n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(SUM(p.n_removed) AS BIGINT) AS n_removed,
         |  CAST(SUM(CASE WHEN p.n_removed = p.n_tokens AND p.n_tokens > 0
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_emptied,
         |  CAST(SUM(p.n_removed) AS DOUBLE) /
         |    CAST(GREATEST(SUM(p.n_tokens), 1) AS DOUBLE) AS removed_frac
         |FROM perdoc p JOIN corpus c ON p.doc_id = c.doc_id
         |GROUP BY c.source""".stripMargin),
    // steady-state ExactSubstr: clean only the new crawl batch against
    // the kept corpus's gram-hash set — exact-copy batch docs collapse
    // to '', near-copies keep their divergent tails, fresh short docs
    // pass through untouched
    Query("dedup_exact_substr_incremental", (s, dir) =>
      Dedup.exactSubstrDedupIncremental(incBatch(docs(s, dir)),
        docs(s, dir), "doc_id", "text", minLen = 8),
      // mirrors exactSubstrDedupIncremental: corpus gram hashes always
      // outrank the batch; batch-internal keep-first on top
      oracle = s"""WITH batch AS ($incBatchSql),
         |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM batch),
         |ct AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |cg AS (
         |  SELECT DISTINCT
         |    ${Sampling.keyHash60Sql("array_to_string(w[i+1:i+8], ' ')")} AS h,
         |    ${Sampling.keyHash60bSql("array_to_string(w[i+1:i+8], ' ')")} AS h2
         |  FROM ct, unnest(range(0, len(w) - 7)) AS u(i)
         |  WHERE len(w) >= 8),
         |g AS (
         |  SELECT doc_id, CAST(i AS INTEGER) AS p,
         |    ${Sampling.keyHash60Sql("array_to_string(w[i+1:i+8], ' ')")} AS h,
         |    ${Sampling.keyHash60bSql("array_to_string(w[i+1:i+8], ' ')")} AS h2
         |  FROM t, unnest(range(0, len(w) - 7)) AS u(i)
         |  WHERE len(w) >= 8),
         |m AS (
         |  SELECT doc_id, p FROM (
         |    SELECT g.doc_id, g.p,
         |      ROW_NUMBER() OVER (PARTITION BY g.h, g.h2 ORDER BY g.doc_id, g.p) AS rn,
         |      (cg.h IS NOT NULL) AS inc
         |    FROM g LEFT JOIN cg ON g.h = cg.h AND g.h2 = cg.h2)
         |  WHERE inc OR rn > 1),
         |$exactSubstrTailSql""".stripMargin),
    // incremental dedup: classify a new crawl batch against the existing
    // snapshot — exact (content hash in snapshot), near (shares an LSH
    // band bucket), or new; the steady-state production flow where only
    // the delta is ever re-processed
    Query("dedup_incremental", (s, dir) =>
      Dedup.incrementalDedupStatus(docs(s, dir), incBatch(docs(s, dir)),
        "doc_id", "text", useMd5 = true),
      oracle = s"""WITH batch AS ($incBatchSql),
         |snapH AS (SELECT DISTINCT md5(lower(trim(text))) AS h FROM documents),
         |batchH AS (SELECT doc_id AS id, md5(lower(trim(text))) AS h FROM batch),
         |${bandsCteSql("documents", "s")},
         |${bandsCteSql("batch", "b")},
         |exact AS (SELECT DISTINCT b.id FROM batchH b JOIN snapH s ON b.h = s.h),
         |near AS (SELECT DISTINCT bb.id FROM bbands bb JOIN sbands sb
         |         ON bb.band = sb.band AND bb.bucket = sb.bucket)
         |SELECT b.id,
         |  CASE WHEN e.id IS NOT NULL THEN 'exact_dup'
         |       WHEN n.id IS NOT NULL THEN 'near_dup'
         |       ELSE 'new' END AS status
         |FROM (SELECT doc_id AS id FROM batch) b
         |LEFT JOIN exact e ON b.id = e.id
         |LEFT JOIN near n ON b.id = n.id""".stripMargin),
    // duplicate clusters: connected components over the near-dup pairs
    // (min-label propagation; A~B + B~C collapse to one cluster)
    Query("dedup_clusters", (s, dir) =>
      Dedup.dupClusters(
        Dedup.ngramJaccardPairs(dupCorpus(docs(s, dir)), "doc_id", "text",
          shingleN = 3, minJaccard = 0.5, maxShingleDf = 64)
          .select("id_a", "id_b")),
      oracle = s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($ngramPairsOracleSql)),
         |e AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM pairs
         |),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.id
         |)
         |SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id""".stripMargin),
    // near-dup cluster canonicalization by QUALITY: within each
    // connected component keep the highest-quality member (ties by id) —
    // the real-world keep rule when duplicates differ in cleanliness.
    // Singleton docs (no near-dup edges) pass through untouched
    Query("dedup_cluster_best", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val corpus = dupCorpus(docs(s, dir))
        .withColumn("quality", TA.qualityScore(col("text")))
        .select("doc_id", "quality")
      val clusters = Dedup.dupClusters(
        Dedup.ngramJaccardPairs(dupCorpus(docs(s, dir)), "doc_id", "text",
          shingleN = 3, minJaccard = 0.5, maxShingleDf = 64)
          .select("id_a", "id_b"))
      // no broadcast hint: cluster membership is one row per doc in any
      // near-dup pair — unbounded on a duplicated corpus. Shuffle join on
      // the doc id scales; AQE still broadcasts when genuinely small.
      val member = corpus
        .join(clusters, corpus("doc_id") === clusters("id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("quality").desc, col("doc_id"))
      member
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("best_id"),
          col("quality"))
    },
      oracle = s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($ngramPairsOracleSql)),
         |e AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM pairs
         |),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.id
         |),
         |clusters AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
         |corpus AS ($dupCorpusSql),
         |member AS (
         |  SELECT COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         |    d.doc_id, ${TA.qualityScoreSql(toks)} AS quality
         |  FROM corpus d LEFT JOIN clusters c ON d.doc_id = c.id)
         |SELECT cluster_id, doc_id AS best_id, quality FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
         |    ORDER BY quality DESC, doc_id) AS rn FROM member)
         |WHERE rn = 1""".stripMargin),
    // deterministic stratified sample (dataset mixing): 50% en, 20% de,
    // 10% of everything else, reproducible per key
    Query("sample_stratified", (s, dir) =>
      Sampling.stratifiedSample(docs(s, dir), "doc_id", "lang",
        Map("en" -> 500, "de" -> 200), defaultNum = 100)
        .select("doc_id", "lang"),
      oracle = s"""SELECT doc_id, lang FROM documents
         |WHERE ${Sampling.keyHash60Sql("doc_id")} % ${Sampling.DefaultDen} <
         |  CASE WHEN lang = 'en' THEN 500 WHEN lang = 'de' THEN 200 ELSE 100 END""".stripMargin),
    // per-language doc-length profile: discrete order-statistic
    // quantiles (value at rank ceil(p*n)) — integer-exact, and
    // PARTITIONED windows only (a global percentile would serialize on
    // one task; per-stratum profiles are how 100 TB corpora get audited)
    Query("text_len_quantiles", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("doc_id"))
      val grp = Window.partitionBy(col("lang"))
      def at(p: Double) =
        min(when(col("rn") === ceil(col("n") * p), col("n_chars")))
      docs(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(grp))
        .groupBy(col("lang"))
        .agg(max(col("n")).as("n_docs"),
          at(0.25).as("p25"), at(0.5).as("p50"), at(0.9).as("p90"))
    },
      oracle = """WITH r AS (
        |  SELECT lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
        |  MIN(CASE WHEN rn = CAST(CEIL(n * 0.25) AS BIGINT) THEN n_chars END) AS p25,
        |  MIN(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT) THEN n_chars END) AS p50,
        |  MIN(CASE WHEN rn = CAST(CEIL(n * 0.9) AS BIGINT) THEN n_chars END) AS p90
        |FROM r GROUP BY lang""".stripMargin),
    // top-3 distinctive terms per doc (tf desc, df asc, term) — integer
    // tf-idf ranking, three narrow id+count shuffles, never text
    Query("text_top_terms", (s, dir) =>
      graft.functions.TermStats.topTerms(docs(s, dir), "doc_id", "text",
        k = 3),
      oracle = """WITH pairs AS (
        |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY doc_id, term
        |), dfreq AS (
        |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM pairs GROUP BY term
        |)
        |SELECT doc_id, term, tf, df, rank FROM (
        |  SELECT p.doc_id, p.term, p.tf, d.df,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY p.doc_id
        |      ORDER BY p.tf DESC, d.df ASC, p.term) AS BIGINT) AS rank
        |  FROM pairs p JOIN dfreq d ON p.term = d.term)
        |WHERE rank <= 3""".stripMargin),
    // BPE-merge statistic: top-50 most frequent adjacent token pairs
    // corpus-wide — pairs form map-side (array zip), counts partial-agg,
    // top-k is a per-partition heap (TakeOrderedAndProject)
    Query("vocab_pair_counts", (s, dir) =>
      graft.functions.TermStats.adjacentPairCounts(docs(s, dir), "text",
        k = 50),
      oracle = """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |p AS (SELECT w[i] AS left_tok, w[i + 1] AS right_tok
        |      FROM t, unnest(range(1, len(w))) AS u(i))
        |SELECT left_tok, right_tok, CAST(COUNT(*) AS BIGINT) AS pair_count
        |FROM p GROUP BY left_tok, right_tok
        |ORDER BY pair_count DESC, left_tok, right_tok LIMIT 50""".stripMargin),
    // overlapping 200-char chunks (50 overlap) with offsets — retrieval
    // / context-window prep; pure generator expressions, no shuffle
    Query("text_chunks", (s, dir) =>
      graft.functions.Chunking.chunk(docs(s, dir), "text",
          chunkLen = 200, overlap = 50)
        .select("doc_id", "chunk_idx", "chunk_start", "chunk_end",
          "chunk_text"),
      oracle = """SELECT doc_id, i AS chunk_idx,
        |  i * 150 AS chunk_start,
        |  LEAST(i * 150 + 200, COALESCE(length(text), 0)) AS chunk_end,
        |  substr(text, CAST(i * 150 + 1 AS INT), 200) AS chunk_text
        |FROM documents, UNNEST(range(0,
        |  1 + CASE WHEN length(text) > 200
        |           THEN (length(text) - 200 + 149) // 150 ELSE 0 END)) AS t(i)""".stripMargin),
    // token-window chunks (50 tokens, 10 overlap): the sequence-budget
    // sibling of text_chunks — boundaries never split a token
    Query("text_chunks_tokens", (s, dir) =>
      graft.functions.Chunking.chunkTokens(docs(s, dir), "text",
          maxTokens = 50, overlap = 10)
        .select("doc_id", "chunk_idx", "tok_start", "tok_end",
          "n_chunk_tokens", "chunk_text"),
      oracle = """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |n AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS lenw,
        |        1 + CASE WHEN len(w) > 50 THEN (len(w) - 50 + 39) // 40
        |                 ELSE 0 END AS nc
        |      FROM d)
        |SELECT doc_id, i AS chunk_idx, i * 40 AS tok_start,
        |  LEAST(i * 40 + 50, lenw) AS tok_end,
        |  LEAST(i * 40 + 50, lenw) - i * 40 AS n_chunk_tokens,
        |  array_to_string(list_slice(w, i * 40 + 1, i * 40 + 50), ' ')
        |    AS chunk_text
        |FROM n, UNNEST(range(0, nc)) AS t(i)""".stripMargin),
    // per-language quota: best 40 docs per lang by quality (ties by id)
    Query("sample_topk_per_lang", (s, dir) =>
      Sampling.topKPerKey(
          docs(s, dir).withColumn("quality", TA.qualityScore(col("text"))),
          "lang", k = 40,
          order = Seq(col("quality").desc, col("doc_id")))
        .select("doc_id", "lang", "quality"),
      oracle = s"""SELECT doc_id, lang, quality FROM (
         |  SELECT doc_id, lang, q AS quality,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |                       ORDER BY q DESC, doc_id) AS rn
         |  FROM (SELECT doc_id, lang,
         |          ${TA.qualityScoreSql(toks)} AS q FROM documents))
         |WHERE rn <= 40""".stripMargin),
    // sketch-quality evaluation: precision/recall of the md5-mode
    // MinHash LSH candidates against the exact 0.5-Jaccard truth set —
    // the in-pipeline measurement for tuning bands/bits/df caps
    Query("dedup_eval", (s, dir) => {
      val corpus = dupCorpus(docs(s, dir))
      Dedup.sketchEval(
        Dedup.minHashCandidatePairs(corpus, "doc_id", "text", useMd5 = true),
        Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
          shingleN = 3, minJaccard = 0.5, maxShingleDf = 64)
          .select("id_a", "id_b"))
    },
      // mirrors sketchEval(minhash cand, 0.5-jaccard truth): full-outer
      // pair join, exact counts, guarded ratios
      oracle = s"""WITH $minHashCtesSql,
         |truth AS (SELECT id_a, id_b FROM ($ngramPairsOracleSql)),
         |j AS (
         |  SELECT c.id_a IS NOT NULL AS is_c, t.id_a IS NOT NULL AS is_t
         |  FROM cand c FULL OUTER JOIN truth t
         |    ON c.id_a = t.id_a AND c.id_b = t.id_b),
         |s AS (
         |  SELECT CAST(SUM(CASE WHEN is_c THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
         |    CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
         |    CAST(SUM(CASE WHEN is_c AND is_t THEN 1 ELSE 0 END) AS BIGINT) AS tp
         |  FROM j)
         |SELECT n_candidates, n_truth, tp,
         |  n_candidates - tp AS fp, n_truth - tp AS fn,
         |  CASE WHEN n_candidates > 0
         |       THEN CAST(tp AS DOUBLE) / CAST(n_candidates AS DOUBLE)
         |       ELSE CAST(0.0 AS DOUBLE) END AS precision,
         |  CASE WHEN n_truth > 0
         |       THEN CAST(tp AS DOUBLE) / CAST(n_truth AS DOUBLE)
         |       ELSE CAST(0.0 AS DOUBLE) END AS recall
         |FROM s""".stripMargin),
    // embedding-distribution drift: per-label centroid cosine between
    // the corpus and a deterministically perturbed snapshot (every 5th
    // vector reversed) — integer grid sums, no float summation
    Query("embed_drift", (s, dir) => {
      val e = graft.engine.Tables.load(s, dir, "embeddings")
      val b = e.withColumn("embedding",
        when(col("vec_id") % 5 === 0, reverse(col("embedding")))
          .otherwise(col("embedding")))
      graft.functions.Embeddings.centroidDrift(e, b, "vec_id",
        "embedding", "label")
    },
      // mirrors centroidDrift over the reversed-every-5th snapshot:
      // per-(label, pos) integer grid sums, mean factors cancel in the
      // cosine — exact longs + three IEEE ops
      oracle = """WITH ga AS (
        |  SELECT label, i AS pos,
        |    CAST(SUM(CAST(LEAST(GREATEST(FLOOR(embedding[i + 1] * 64 + 0.5),
        |      -127), 127) AS BIGINT)) AS BIGINT) AS sa,
        |    CAST(COUNT(*) AS BIGINT) AS na
        |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS i) g
        |  GROUP BY label, i),
        |b0 AS (
        |  SELECT label, vec_id,
        |    CASE WHEN vec_id % 5 = 0 THEN list_reverse(embedding)
        |         ELSE embedding END AS emb
        |  FROM embeddings),
        |gb AS (
        |  SELECT label, i AS pos,
        |    CAST(SUM(CAST(LEAST(GREATEST(FLOOR(emb[i + 1] * 64 + 0.5),
        |      -127), 127) AS BIGINT)) AS BIGINT) AS sb,
        |    CAST(COUNT(*) AS BIGINT) AS nb
        |  FROM b0 CROSS JOIN (SELECT unnest(range(0, 64)) AS i) g
        |  GROUP BY label, i),
        |d AS (
        |  SELECT label, MAX(na) AS n_a, MAX(nb) AS n_b,
        |    CAST(SUM(sa * sb) AS BIGINT) AS dt,
        |    CAST(SUM(sa * sa) AS BIGINT) AS a2,
        |    CAST(SUM(sb * sb) AS BIGINT) AS b2
        |  FROM ga JOIN gb USING (label, pos) GROUP BY label)
        |SELECT label, n_a, n_b,
        |  CAST(dt AS DOUBLE) / (sqrt(CAST(a2 AS DOUBLE)) * sqrt(CAST(b2 AS DOUBLE)))
        |    AS centroid_cos
        |FROM d""".stripMargin),
    // embedding isotropy: exact mean pairwise dot + anisotropy ratio
    // per label via the Gram identity ‖Σv‖² − Σ‖v‖² — no pair join,
    // one (label, pos) agg; the embedding-collapse diagnostic at scan
    // cost
    Query("embed_isotropy", (s, dir) => {
      val e = graft.engine.Tables.load(s, dir, "embeddings")
      graft.functions.Embeddings.isotropyStats(e, "embedding", "label")
    },
      // mirrors Embeddings.isotropyStats: identical grid sums and the
      // same double-op sequence for the two final ratios
      oracle = """WITH gp AS (
        |  SELECT label, i AS pos,
        |    CAST(SUM(CAST(LEAST(GREATEST(FLOOR(embedding[i + 1] * 64 + 0.5),
        |      -127), 127) AS BIGINT)) AS BIGINT) AS s,
        |    CAST(SUM(CAST(LEAST(GREATEST(FLOOR(embedding[i + 1] * 64 + 0.5),
        |      -127), 127) AS BIGINT)
        |      * CAST(LEAST(GREATEST(FLOOR(embedding[i + 1] * 64 + 0.5),
        |      -127), 127) AS BIGINT)) AS BIGINT) AS e,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS i) g
        |  GROUP BY label, i),
        |d AS (
        |  SELECT label, MAX(n) AS n,
        |    CAST(SUM(s * s) AS BIGINT) AS gram,
        |    CAST(SUM(e) AS BIGINT) AS self_energy
        |  FROM gp GROUP BY label)
        |SELECT label, n, gram, self_energy,
        |  CAST(gram - self_energy AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)
        |    AS mean_pair_dot,
        |  (CAST(gram - self_energy AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE))
        |    / (CAST(self_energy AS DOUBLE) / CAST(n AS DOUBLE)) AS anisotropy
        |FROM d""".stripMargin),
    // MERGE/upsert: apply a deterministic changeset (updates on
    // id%10=0, deletes on id%17=0 taking precedence, 50 inserted docs)
    // to the documents snapshot — the Delta-style MERGE INTO semantics
    // as one full-outer key join (the diff engine's O4 shape)
    Query("snapshot_merge", (s, dir) => {
      val d = docs(s, dir)
      val base = d.select("doc_id", "lang", "source", "text")
      val upd = d.filter(col("doc_id") % 10 === 0 && col("doc_id") % 17 =!= 0)
        .select(col("doc_id"), col("lang"), lit("patched").as("source"),
          concat(col("text"), lit(" v2")).as("text"), lit("upsert").as("op"))
      val del = d.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id"), col("lang"), col("source"), col("text"),
          lit("delete").as("op"))
      val ins = d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          lit("patch").as("source"), lit("inserted doc").as("text"),
          lit("upsert").as("op"))
      graft.functions.Merge.applyChangeset(base,
          upd.unionByName(del).unionByName(ins), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_text"))
    },
      // mirrors Merge.applyChangeset over the derived changeset:
      // updates id%10 (unless deleted), deletes id%17, inserts id<50
      // shifted by 1e6; MERGE SET semantics (change values win)
      oracle = """WITH ch AS (
        |  SELECT doc_id, lang, 'patched' AS source, text || ' v2' AS text,
        |         'upsert' AS op
        |  FROM documents WHERE doc_id % 10 = 0 AND doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id, lang, source, text, 'delete' AS op
        |  FROM documents WHERE doc_id % 17 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, lang, 'patch' AS source,
        |         'inserted doc' AS text, 'upsert' AS op
        |  FROM documents WHERE doc_id < 50
        |)
        |SELECT COALESCE(s.doc_id, c.doc_id) AS doc_id,
        |  CASE WHEN c.op = 'upsert' THEN c.lang ELSE s.lang END AS lang,
        |  CASE WHEN c.op = 'upsert' THEN c.source ELSE s.source END AS source,
        |  CAST(length(CASE WHEN c.op = 'upsert' THEN c.text
        |                   ELSE s.text END) AS BIGINT) AS n_text
        |FROM documents s FULL OUTER JOIN ch c ON s.doc_id = c.doc_id
        |WHERE c.op IS NULL OR c.op <> 'delete'""".stripMargin),
    // per-stratum eval HOLDOUT: the N smallest salted key hashes per
    // language — growth-stable (an unchanged doc never enters or leaves
    // the holdout as the corpus grows) and stratified, the standard
    // held-out-set construction; ships as WindowGroupLimit
    Query("sample_holdout", (s, dir) =>
      Sampling.topKPerKey(
          docs(s, dir).withColumn("__h", Sampling.keyHash60(
            concat_ws(":", lit("holdout"), col("doc_id").cast("string")))),
          "lang", k = 20,
          order = Seq(col("__h"), col("doc_id")))
        .select("doc_id", "lang"),
      oracle = s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
         |    ORDER BY ${Sampling.shuffleHashSql("holdout", "doc_id")}, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= 20""".stripMargin),
    // quality-proportional sample: keep probability = quality score,
    // deterministic per doc_id
    Query("sample_weighted", (s, dir) =>
      Sampling.weightedSample(docs(s, dir), "doc_id",
          TA.qualityScore(col("text")))
        .select("doc_id", "lang"),
      oracle = s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, ${TA.qualityScoreSql(toks)} AS q
         |  FROM documents)
         |WHERE CAST(${Sampling.keyHash60Sql("doc_id")} % ${Sampling.DefaultDen} AS DOUBLE)
         |      < q * ${Sampling.DefaultDen}""".stripMargin),
    // deterministic fixed-COUNT sample: the 100 smallest doc_id hashes —
    // reservoir-sample semantics without timing dependence; plans as
    // TakeOrderedAndProject (per-partition heaps, no global sort)
    Query("sample_fixed_n", (s, dir) =>
      Sampling.fixedSizeSample(
        docs(s, dir).select("doc_id", "lang"), "doc_id", n = 100),
      oracle = s"""SELECT doc_id, lang FROM documents
         |ORDER BY ${Sampling.keyHash60Sql("doc_id")}, doc_id
         |LIMIT 100""".stripMargin),
    // deterministic corpus shuffle: shard assignment + within-shard
    // position, a pure function of (salt, doc_id) — the shard-writer
    // step of materializing a training set
    Query("corpus_shuffle", (s, dir) =>
      Sampling.shuffleShards(docs(s, dir), "doc_id", nShards = 8,
          salt = "graft")
        .select("doc_id", "shard", "pos"),
      oracle = s"""WITH h AS (
         |  SELECT doc_id, ${Sampling.shuffleHashSql("graft", "doc_id")} AS hv
         |  FROM documents)
         |SELECT doc_id, CAST(hv % 8 AS INT) AS shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY hv % 8
         |                          ORDER BY hv, doc_id) AS BIGINT) AS pos
         |FROM h""".stripMargin),
    // domain-mixture reweighting: per-source token accounting + the
    // sampling weight toward a target mix (src0 pinned to 20%, the rest
    // sharing the remainder uniformly)
    Query("mix_weights", (s, dir) =>
      Sampling.mixtureWeights(docs(s, dir), "source",
          TA.tokenCount(col("text")), Map("src0" -> 0.2))
        .select("source", "n_docs", "n_tokens", "token_frac",
          "target_frac", "weight", "keep_prob"),
      oracle = {
        // mirrors mixtureWeights(.., Map("src0" -> 0.2)): residual mass
        // interpolated as the exact Scala double repr
        val residual = (1.0 - 0.2).toString
        s"""WITH agg AS (
           |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(CAST(len($toks) AS BIGINT)) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY source
           |), t AS (
           |  SELECT source, n_docs, n_tokens,
           |    CAST(n_tokens AS DOUBLE)
           |      / CAST(CAST(SUM(n_tokens) OVER () AS BIGINT) AS DOUBLE) AS token_frac,
           |    CAST(SUM(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) OVER ()
           |         AS BIGINT) AS n_implicit
           |  FROM agg
           |), w AS (
           |  SELECT source, n_docs, n_tokens, token_frac,
           |    CASE WHEN source = 'src0' THEN CAST(0.2 AS DOUBLE)
           |         ELSE CAST($residual AS DOUBLE)
           |              / CAST(GREATEST(n_implicit, 1) AS DOUBLE) END AS target_frac
           |  FROM t
           |)
           |SELECT source, n_docs, n_tokens, token_frac, target_frac,
           |  CASE WHEN token_frac > 0 THEN target_frac / token_frac
           |       ELSE CAST(0.0 AS DOUBLE) END AS weight,
           |  LEAST(CASE WHEN token_frac > 0 THEN target_frac / token_frac
           |             ELSE CAST(0.0 AS DOUBLE) END,
           |        CAST(1.0 AS DOUBLE)) AS keep_prob
           |FROM w""".stripMargin
      }),
    // temperature-scaled mixture (the multilingual-LM alpha-sampling
    // rule): target fraction ∝ token_frac^0.5 — sqrt keeps every score
    // IEEE-exact cross-engine, the score sum runs over decimal casts
    Query("mix_temperature", (s, dir) =>
      Sampling.temperatureWeights(docs(s, dir), "source",
          TA.tokenCount(col("text")), alpha = 0.5)
        .select("source", "n_docs", "n_tokens", "token_frac",
          "temp_score", "temp_frac", "weight", "keep_prob"),
      // mirrors temperatureWeights(.., alpha = 0.5): sqrt is IEEE
      // correctly-rounded on both engines; the score sum goes through
      // DECIMAL(20,18) casts so addition is exact and order-free
      oracle = s"""WITH agg AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(CAST(len($toks) AS BIGINT)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source
         |), t AS (
         |  SELECT source, n_docs, n_tokens,
         |    CAST(n_tokens AS DOUBLE)
         |      / CAST(CAST(SUM(n_tokens) OVER () AS BIGINT) AS DOUBLE) AS token_frac
         |  FROM agg
         |), s AS (
         |  SELECT *, sqrt(token_frac) AS temp_score FROM t
         |), n AS (
         |  SELECT *, temp_score /
         |    CAST(SUM(CAST(temp_score AS DECIMAL(20,18))) OVER () AS DOUBLE)
         |      AS temp_frac
         |  FROM s
         |)
         |SELECT source, n_docs, n_tokens, token_frac, temp_score, temp_frac,
         |  CASE WHEN token_frac > 0 THEN temp_frac / token_frac
         |       ELSE CAST(0.0 AS DOUBLE) END AS weight,
         |  LEAST(CASE WHEN token_frac > 0 THEN temp_frac / token_frac
         |             ELSE CAST(0.0 AS DOUBLE) END,
         |        CAST(1.0 AS DOUBLE)) AS keep_prob
         |FROM n""".stripMargin),
    // Zipf-law fit over the top-1000 terms: least-squares slope of
    // ilog2(freq) vs ilog2(rank) — the distributional-health check for
    // a corpus (a natural-language corpus fits slope ≈ -1; synthetic or
    // templated text drifts). INTEGER least squares: x/y are floor-log2
    // longs, all five sums are exact, slope and intercept are single
    // divisions of exact longs (the closed-form rational). Top-1000 is
    // a TakeOrderedAndProject heap; the rank window runs on that
    // 1000-row frame
    Query("vocab_zipf_slope", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def ilog2(x: Column) = (length(bin(x)) - 1).cast("long")
      val tf = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(1000)
      val w = Window.orderBy(col("cnt").desc, col("term"))
      tf.withColumn("rnk", row_number().over(w).cast("long"))
        .select(ilog2(col("rnk")).as("x"), ilog2(col("cnt")).as("y"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("zipf_slope"),
          ((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
            .as("intercept"))
    },
      // identical integer least squares
      oracle = s"""WITH tf AS (
         |  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT unnest($toks) AS term FROM documents)
         |  GROUP BY term ORDER BY cnt DESC, term LIMIT 1000),
         |r AS (
         |  SELECT cnt, CAST(row_number() OVER (ORDER BY cnt DESC, term)
         |    AS BIGINT) AS rnk
         |  FROM tf),
         |p AS (
         |  SELECT CAST(length(bin(rnk)) - 1 AS BIGINT) AS x,
         |         CAST(length(bin(cnt)) - 1 AS BIGINT) AS y
         |  FROM r),
         |a AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx
         |  FROM p)
         |SELECT n,
         |  CAST(n * sxy - sx * sy AS DOUBLE)
         |    / CAST(n * sxx - sx * sx AS DOUBLE) AS zipf_slope,
         |  CAST(sy * sxx - sx * sxy AS DOUBLE)
         |    / CAST(n * sxx - sx * sx AS DOUBLE) AS intercept
         |FROM a""".stripMargin),
    // per-source chi-square drift vs the pooled unigram distribution:
    // the distributional-shift gate for new crawl snapshots. All terms
    // are exact-long divisions + a fixed IEEE dag (clamped at 2^23−1),
    // summed in 2^40 fixed-point BIGINT — bit-reproducible
    // cross-engine, no libm
    Query("vocab_chi2_drift", (s, dir) =>
      graft.functions.TermStats.chiSquareDrift(docs(s, dir), "source", "text"),
      // mirrors chiSquareDrift: same exact divisions + decimal sums
      oracle = graft.functions.TermStats.chiSquareDriftSql("source", toks)),
    // water-filling budget allocation: max-min-fair split of a half-
    // corpus character budget across sources — small sources keep all
    // their tokens, large ones clip to a common integer level (the
    // anti-domination rule a mixture planner applies before weighting).
    // Integer-exact satisfied-prefix + level arithmetic, windows only on
    // the per-source frame
    Query("mix_waterfill", (s, dir) =>
      Sampling.waterfillAllocate(docs(s, dir), "source", col("n_chars"),
        budgetNum = 1, budgetDen = 2),
      // same ascending capacity order, same integer satisfied-prefix test
      // and remainder distribution
      oracle = """WITH caps AS (
        |  SELECT source AS stratum, CAST(SUM(n_chars) AS BIGINT) AS cap
        |  FROM documents GROUP BY 1),
        |t AS (
        |  SELECT CAST(SUM(cap) AS BIGINT) AS tot,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(cap) * 1 // 2 AS BIGINT) AS b
        |  FROM caps),
        |f AS (
        |  SELECT stratum, cap, n, b,
        |    CAST(row_number() OVER (ORDER BY cap, stratum) AS BIGINT) AS i,
        |    CAST(SUM(cap) OVER (ORDER BY cap, stratum ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s
        |  FROM caps CROSS JOIN t),
        |f2 AS (
        |  SELECT *, (s - cap + cap * (n - i + 1)) <= b AS is_full FROM f),
        |k AS (
        |  SELECT CAST(SUM(CASE WHEN is_full THEN 1 ELSE 0 END) AS BIGINT) AS k,
        |    CAST(COALESCE(SUM(CASE WHEN is_full THEN cap END), 0) AS BIGINT) AS sk
        |  FROM f2),
        |alloc AS (
        |  SELECT stratum, cap, b, is_full,
        |    CASE WHEN is_full THEN cap
        |         ELSE ((b - sk) // (n - k)) +
        |           CASE WHEN n - i < ((b - sk) % (n - k)) THEN 1 ELSE 0 END
        |    END AS allocated
        |  FROM f2 CROSS JOIN k)
        |SELECT stratum, cap AS capacity, CAST(allocated AS BIGINT) AS allocated,
        |  NOT is_full AS truncated,
        |  CAST(allocated AS DOUBLE) / CAST(b AS DOUBLE) AS share
        |FROM alloc""".stripMargin),
    // length-bucketed batching audit: pow-2 length buckets capped at 512,
    // per-bucket padding tokens + fill fraction — the padding-waste
    // accounting for example-aligned (pad-to-bucket) training
    Query("pack_length_buckets", (s, dir) =>
      Packing.lengthBuckets(docs(s, dir), TA.tokenCount(col("text")),
        seqLen = 512L),
      // mirrors Packing.lengthBuckets(.., seqLen = 512): pow-2 bucket
      // bound via the shared bit-length idiom (length(bin(x)))
      oracle = s"""WITH d AS (
         |  SELECT LEAST(GREATEST(CAST(len($toks) AS BIGINT), 1), 512) AS len0
         |  FROM documents
         |), b AS (
         |  SELECT len0,
         |    LEAST(CASE WHEN len0 <= 1 THEN 1
         |               ELSE (CAST(1 AS BIGINT) << length(bin(len0 - 1))) END,
         |          512) AS bucket_len
         |  FROM d
         |)
         |SELECT bucket_len, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(len0) AS BIGINT) AS n_tokens,
         |  CAST(SUM(bucket_len - len0) AS BIGINT) AS n_padding,
         |  CAST(CAST(SUM(len0) AS BIGINT) AS DOUBLE)
         |    / CAST(CAST(SUM(len0) AS BIGINT)
         |           + CAST(SUM(bucket_len - len0) AS BIGINT) AS DOUBLE)
         |    AS fill_frac
         |FROM b GROUP BY bucket_len""".stripMargin),
    // winnowing fingerprints (MOSS): per-doc window minima over 5-gram
    // hashes — the passage-level detector; injected exact dups share
    // their ENTIRE fingerprint set with their originals
    Query("text_winnow", (s, dir) =>
      Dedup.winnowFingerprints(docs(s, dir), "doc_id", "text",
        k = 5, w = 4),
      // mirrors winnowFingerprints(k=5, w=4): 5-gram shingles (short-doc
      // fallback idiom), 60-bit md5 hashes, window-of-4 minima, per-doc
      // distinct
      oracle = winnowFpSql("documents")),
    // content-defined chunking: Rabin-style cut points (3-gram hash ≡ 0
    // mod 16 → ~16-token chunks) whose positions depend only on local
    // content — chunk texts are stable dedup keys across doc revisions
    Query("text_chunks_cdc", (s, dir) =>
      graft.functions.Chunking.chunkCdc(docs(s, dir), "text", g = 3, m = 16)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("tok_start"), col("tok_end"), col("n_chunk_tokens"),
          col("chunk_text")),
      // mirrors chunkCdc(g=3, m=16): cut after token i+2 where the
      // 3-gram hash at shingle index i is ≡ 0 mod 16; end-of-doc cut
      // folds into the appended final boundary
      oracle = s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id, w,
         |  CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
         |       ELSE list_transform(range(0, len(w) - 2),
         |              i -> array_to_string(list_slice(w, i + 1, i + 3), ' ')) END AS sh
         |  FROM t),
         |e AS (SELECT doc_id, w,
         |  list_append(
         |    list_filter(list_transform(range(1, len(sh) + 1),
         |        i -> CASE WHEN ${Sampling.keyHash60Sql("sh[i]")} % 16 = 0
         |             THEN i + 2 END),
         |      x -> x IS NOT NULL AND x < len(w)),
         |    len(w)) AS ends
         |  FROM s),
         |c AS (SELECT doc_id, w,
         |  unnest(list_transform(range(1, len(ends) + 1),
         |    i -> {'idx': i,
         |          's': CASE WHEN i = 1 THEN 0 ELSE ends[i - 1] END,
         |          'e': ends[i]})) AS u
         |  FROM e)
         |SELECT doc_id, CAST(u.idx - 1 AS BIGINT) AS chunk_idx,
         |  CAST(u.s AS BIGINT) AS tok_start, CAST(u.e AS BIGINT) AS tok_end,
         |  CAST(u.e - u.s AS BIGINT) AS n_chunk_tokens,
         |  array_to_string(list_slice(w, u.s + 1, u.e), ' ') AS chunk_text
         |FROM c""".stripMargin),
    // deterministic 98/1/1 train/val/test manifest: hash-split so an
    // unchanged document never migrates between splits as the corpus
    // grows; per-split doc/token accounting
    Query("corpus_splits", (s, dir) =>
      Sampling.splitAssign(docs(s, dir), "doc_id",
          Seq("train" -> 980, "val" -> 10, "test" -> 10))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TA.tokenCount(col("text")).cast("long")).as("n_tokens")),
      // mirrors splitAssign(980/10/10, salt = "split"): first split
      // whose cumulative per-mille weight covers the salted key hash;
      // the key passes through the same NULL sentinel as the Column
      // side (engine-identical null bucketing)
      oracle = s"""WITH d AS (
         |  SELECT CASE WHEN h < 980 THEN 'train'
         |              WHEN h < 990 THEN 'val' ELSE 'test' END AS split,
         |    CAST(len($toks) AS BIGINT) AS n
         |  FROM (SELECT ${Sampling.shuffleHashSql("split",
                   Sampling.nullSafeKeySql("doc_id"))} % 1000 AS h,
         |               text FROM documents)
         |)
         |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS n_tokens
         |FROM d GROUP BY split""".stripMargin),
    // pairwise source-overlap matrix: distinct 3-gram overlap between
    // every source pair with both containment fractions — the
    // dataset-card "do my sources re-scrape each other" diagnostic
    Query("corpus_source_overlap", (s, dir) =>
      Decontaminate.sourceOverlap(docs(s, dir), "source", "text", n = 3),
      // mirrors sourceOverlap(n=3): distinct (source, 60-bit shingle
      // hash) pairs, source-pair overlap counts, containment fractions
      oracle = s"""WITH d AS (
         |  SELECT source, string_split(text, ' ') AS w0 FROM documents
         |), sh AS (
         |  SELECT DISTINCT source AS src, ${Sampling.keyHash60Sql("s")} AS h
         |  FROM (SELECT source, unnest(
         |    CASE WHEN len(w0) < 3 THEN [array_to_string(w0, ' ')]
         |         ELSE list_transform(range(0, len(w0) - 2),
         |                i -> array_to_string(list_slice(w0, i + 1, i + 3), ' ')) END
         |    ) AS s FROM d)
         |), sizes AS (
         |  SELECT src, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY src
         |), p AS (
         |  SELECT x.src AS src_a, y.src AS src_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_common
         |  FROM sh x JOIN sh y ON x.h = y.h AND x.src < y.src
         |  GROUP BY 1, 2
         |)
         |SELECT src_a, src_b, n_common, sa.n AS n_a, sb.n AS n_b,
         |  CAST(n_common AS DOUBLE) / CAST(sa.n AS DOUBLE) AS contain_a,
         |  CAST(n_common AS DOUBLE) / CAST(sb.n AS DOUBLE) AS contain_b
         |FROM p JOIN sizes sa ON sa.src = p.src_a
         |       JOIN sizes sb ON sb.src = p.src_b""".stripMargin),
    // winnow clone pairs over the dup-injected corpus: documents
    // sharing >= 2 df-capped fingerprints — passage-level candidates
    // that global-Jaccard sketches miss
    Query("dedup_winnow_pairs", (s, dir) =>
      Dedup.winnowPairs(dupCorpus(docs(s, dir)), "doc_id", "text",
        k = 5, w = 4, minShared = 2, maxFpDf = 100),
      // mirrors winnowPairs(minShared=2, maxFpDf=100) over the
      // dup-injected corpus: df-capped fingerprints, pair overlap
      // counts, per-side sizes computed AFTER the df cap (the
      // ngramJaccardPairs convention — full containment scores 1.0)
      oracle = s"""WITH corpus AS ($dupCorpusSql),
         |wfp AS (${winnowFpSql("corpus")}),
         |rare AS (SELECT fingerprint FROM wfp
         |         GROUP BY fingerprint HAVING COUNT(*) <= 100),
         |fpr AS (SELECT wfp.doc_id, wfp.fingerprint
         |        FROM wfp JOIN rare USING (fingerprint)),
         |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
         |          FROM fpr GROUP BY doc_id),
         |p AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
         |        CAST(COUNT(*) AS BIGINT) AS n_shared
         |      FROM fpr x JOIN fpr y
         |        ON x.fingerprint = y.fingerprint AND x.doc_id < y.doc_id
         |      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         |SELECT id_a, id_b, n_shared, sa.n AS n_a, sb.n AS n_b
         |FROM p JOIN sizes sa ON sa.doc_id = p.id_a
         |       JOIN sizes sb ON sb.doc_id = p.id_b""".stripMargin),
    // BPE tokenizer TRAINING: the greedy merge-learning loop itself —
    // 12 rounds of pair-count → argmax → merge over the word-count
    // vocabulary; the oracle re-derives every round (chained CTEs)
    Query("vocab_bpe_merges", (s, dir) =>
      graft.functions.TermStats.bpeLearnMerges(docs(s, dir), "text",
        nMerges = 12),
      // mirrors bpeLearnMerges(nMerges = 12): 12 chained CTE training
      // rounds, no data-dependent interpolation
      oracle = graft.functions.TermStats.bpeLearnMergesSql(toks, nMerges = 12)),
    // BM25 retrieval: top-10 documents for a fixed bag-of-words query
    // under fixed-point integer Okapi BM25 (rational idf; one corpus
    // pass + a 1-row totals broadcast — see TermStats.bm25TopK)
    Query("search_bm25", (s, dir) =>
      graft.functions.TermStats.bm25TopK(docs(s, dir), "doc_id", "text",
        Bm25Query, k = 10),
      // mirrors bm25TopK: identical fixed-point integer scoring
      oracle = graft.functions.TermStats.bm25TopKSql("doc_id", toks, Bm25Query,
        k = 10)),
    // BPE tokenizer APPLICATION: encode the corpus with the vocabulary
    // the 12-merge training run just learned — per-doc subword token
    // counts (the token budget mixture weighting/packing run on); the
    // oracle re-derives training AND encoding
    Query("vocab_bpe_encode", (s, dir) =>
      graft.functions.TermStats.bpeEncodeStats(docs(s, dir), "doc_id",
        "text", nMerges = 12),
      // mirrors bpeEncodeStats(nMerges = 12): training rounds with the
      // word carried through, then the encode join
      oracle = graft.functions.TermStats.bpeEncodeSql("doc_id", toks, nMerges = 12)),
    // vocabulary coverage curve: corpus token share covered by the
    // top-{5,20,50} terms — the tokenizer-sizing profile
    Query("vocab_coverage_curve", (s, dir) =>
      graft.functions.TermStats.vocabCoverageCurve(docs(s, dir), "text",
        ks = Seq(5, 20, 50)),
      // mirrors vocabCoverageCurve(ks = 5, 20, 50): deterministic tie
      // ranking (count desc, term), coverage at each cut point
      oracle = s"""WITH tok AS (SELECT unnest($toks) AS term FROM documents),
         |uni AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY term),
         |r AS (SELECT term, c,
         |        CAST(ROW_NUMBER() OVER (ORDER BY c DESC, term) AS BIGINT) AS rank
         |      FROM uni),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total_tokens FROM uni),
         |ks AS (SELECT CAST(k AS BIGINT) AS k
         |       FROM (VALUES (5), (20), (50)) t(k))
         |SELECT k, CAST(COUNT(*) AS BIGINT) AS n_terms,
         |  CAST(SUM(c) AS BIGINT) AS covered_tokens, total_tokens,
         |  CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE)
         |    / CAST(total_tokens AS DOUBLE) AS coverage
         |FROM r JOIN ks ON r.rank <= ks.k CROSS JOIN tot
         |GROUP BY k, total_tokens""".stripMargin),
    // quality-band pruning profile: docs/tokens per 0.1-wide quality
    // band plus cumulative tokens from the top band down — the "where do
    // I set the quality threshold to hit a token target" table
    Query("text_quality_bins", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = docs(s, dir).select(
        least(floor(TA.qualityScore(col("text")) * 10).cast("long"),
          lit(9L)).as("band"),
        TA.tokenCount(col("text")).cast("long").as("__n"))
      // the cumulative window sees the aggregated frame: at most 10 rows
      val w = Window.orderBy(col("band").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.groupBy(col("band"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("n_tokens"))
        .withColumn("cum_tokens_from_top", sum(col("n_tokens")).over(w))
    },
      // mirrors the text_quality_bins band profile: floor(quality*10)
      // capped at band 9, cumulative tokens from the top band down
      oracle = s"""WITH d AS (
         |  SELECT LEAST(CAST(floor(q * 10) AS BIGINT), 9) AS band,
         |    CAST(len(w) AS BIGINT) AS n
         |  FROM (SELECT ${TA.qualityScoreSql(toks)} AS q, $toks AS w
         |        FROM documents)
         |), g AS (
         |  SELECT band, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n) AS BIGINT) AS n_tokens
         |  FROM d GROUP BY band
         |)
         |SELECT band, n_docs, n_tokens,
         |  CAST(SUM(n_tokens) OVER (ORDER BY band DESC
         |                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |    AS cum_tokens_from_top
         |FROM g""".stripMargin),
    // out-of-vocabulary profile vs the corpus's own top-30 terms — the
    // tokenizer-coverage quality signal
    Query("text_oov", (s, dir) =>
      graft.functions.TermStats.oovStats(docs(s, dir), "doc_id", "text",
        vocabK = 30),
      oracle = s"""WITH tok AS (
         |  SELECT doc_id, unnest($toks) AS term FROM documents
         |), tc AS (
         |  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY term
         |), vocab AS (
         |  SELECT term FROM tc ORDER BY cnt DESC, term LIMIT 30
         |)
         |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS oov_frac
         |FROM tok t LEFT JOIN vocab v ON t.term = v.term
         |GROUP BY t.doc_id""".stripMargin),
    // unigram-LM surprisal (integer-exact perplexity proxy): per-doc
    // mean floor(log2(T / c_t)) under the corpus's own unigram model
    Query("text_surprisal", (s, dir) =>
      graft.functions.TermStats.surprisalStats(docs(s, dir), "doc_id",
        "text"),
      oracle = s"""WITH tok AS (
         |  SELECT doc_id, unnest($toks) AS term FROM documents
         |), d AS (
         |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM tok GROUP BY doc_id, term
         |), tc AS (
         |  SELECT term, CAST(SUM(tf) AS BIGINT) AS c FROM d GROUP BY term
         |), tot AS (
         |  SELECT CAST(SUM(c) AS BIGINT) AS t FROM tc
         |), s AS (
         |  SELECT term, CAST(length(bin(t // c)) - 1 AS BIGINT) AS sup
         |  FROM tc, tot
         |)
         |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |  CAST(SUM(tf * sup) AS BIGINT) AS sum_surprisal,
         |  CAST(SUM(tf * sup) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE)
         |    AS mean_surprisal
         |FROM d JOIN s USING (term) GROUP BY doc_id""".stripMargin),
    // dataset-version drift monitor: per-stratum doc/token accounting
    // deltas between two corpus versions (here: the base corpus vs the
    // dup-injected v2) — the "what changed since the last crawl" gate;
    // full-outer so born and vanished strata both surface
    Query("corpus_drift", (s, dir) => {
      def profile(df: DataFrame, tag: String) = df.groupBy(col("source"))
        .agg(count(lit(1)).as(s"docs_$tag"),
          sum(TA.tokenCount(col("text")).cast("long")).as(s"tokens_$tag"))
      profile(docs(s, dir), "v1")
        .join(profile(dupCorpus(docs(s, dir)), "v2"), Seq("source"),
          "full_outer")
        .select(col("source"),
          coalesce(col("docs_v1"), lit(0L)).as("docs_v1"),
          coalesce(col("docs_v2"), lit(0L)).as("docs_v2"),
          (coalesce(col("docs_v2"), lit(0L)) -
            coalesce(col("docs_v1"), lit(0L))).as("docs_delta"),
          coalesce(col("tokens_v1"), lit(0L)).as("tokens_v1"),
          coalesce(col("tokens_v2"), lit(0L)).as("tokens_v2"),
          (coalesce(col("tokens_v2"), lit(0L)) -
            coalesce(col("tokens_v1"), lit(0L))).as("tokens_delta"))
    },
      oracle = s"""WITH v1 AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_v1,
         |    CAST(SUM(CAST(len($toks) AS BIGINT)) AS BIGINT) AS tokens_v1
         |  FROM documents GROUP BY source),
         |corpus AS ($dupCorpusSql),
         |v2 AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_v2,
         |    CAST(SUM(CAST(len($toks) AS BIGINT)) AS BIGINT) AS tokens_v2
         |  FROM corpus GROUP BY source)
         |SELECT COALESCE(v1.source, v2.source) AS source,
         |  COALESCE(docs_v1, 0) AS docs_v1,
         |  COALESCE(docs_v2, 0) AS docs_v2,
         |  COALESCE(docs_v2, 0) - COALESCE(docs_v1, 0) AS docs_delta,
         |  COALESCE(tokens_v1, 0) AS tokens_v1,
         |  COALESCE(tokens_v2, 0) AS tokens_v2,
         |  COALESCE(tokens_v2, 0) - COALESCE(tokens_v1, 0) AS tokens_delta
         |FROM v1 FULL OUTER JOIN v2 ON v1.source = v2.source""".stripMargin),
    // Count-Min sketch probe: the top-20 exact term counts estimated
    // through a 4×1024 CM table — deterministic md5 buckets make the
    // collision overcounts oracle-exact; est >= true by construction
    Query("vocab_count_min", (s, dir) => {
      import graft.functions.TermStats
      val tok = docs(s, dir).select(explode(TA.tokens(col("text"))).as("term"))
      val sketch = TermStats.countMinSketch(tok, "term")
      val top = tok.groupBy(col("term")).agg(count(lit(1)).as("true_count"))
        .orderBy(col("true_count").desc, col("term")).limit(20)
      TermStats.countMinEstimate(top, "term", sketch)
        .withColumn("no_underestimate", col("est_count") >= col("true_count"))
    },
      oracle = {
        import graft.functions.TermStats.{cmBucketSql, CmRows}
        val bucketRows = (0 until CmRows).map(r =>
          s"SELECT $r AS r, ${cmBucketSql(r, "term")} AS bucket FROM tok")
          .mkString("\n    UNION ALL ")
        val probeRows = (0 until CmRows).map(r =>
          s"SELECT term, true_count, $r AS r, ${cmBucketSql(r, "term")} AS bucket FROM top")
          .mkString("\n    UNION ALL ")
        s"""WITH tok AS (
           |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
           |buckets AS (
           |  SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
           |    $bucketRows)
           |  GROUP BY r, bucket),
           |top AS (
           |  SELECT term, CAST(COUNT(*) AS BIGINT) AS true_count FROM tok
           |  GROUP BY term ORDER BY true_count DESC, term LIMIT 20),
           |probe AS (
           |    $probeRows)
           |SELECT term, true_count, CAST(MIN(cnt) AS BIGINT) AS est_count,
           |  CAST(MIN(cnt) AS BIGINT) >= true_count AS no_underestimate
           |FROM probe JOIN buckets USING (r, bucket)
           |GROUP BY term, true_count""".stripMargin
      }),
    // Misra-Gries heavy hitters with exact recount: every term at
    // >= 1/150 of the token total, found without shuffling the
    // vocabulary (each map task ships <= k=200 counters) — the sketch
    // only prunes, the counts are exact
    Query("vocab_heavy_hitters", (s, dir) =>
      graft.functions.HeavyHitters.heavyTerms(docs(s, dir), "text",
        suppNum = 1L, suppDen = 150L, k = 200),
      // mirrors heavyTerms(1/150, k=200): the MG sketch is recall-exact
      // above the support threshold, so the recounted output equals the
      // plain exact HAVING query
      oracle = """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM tok)
        |SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt, n_tokens,
        |  CAST(COUNT(*) AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS frac
        |FROM tok, tot
        |GROUP BY term, n_tokens
        |HAVING COUNT(*) * 150 >= n_tokens""".stripMargin),
    // bigram conditional surprisal (integer-exact KenLM-style quality
    // proxy): per-doc mean floor(log2(c(a)/c(a,b))) over adjacent pairs
    // — distinguishes shuffled word salad from natural order where the
    // unigram model cannot
    Query("text_bigram_surprisal", (s, dir) =>
      graft.functions.TermStats.bigramSurprisalStats(docs(s, dir),
        "doc_id", "text"),
      oracle = s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |bg AS (
         |  SELECT doc_id, w[i] AS l, w[i + 1] AS r,
         |    CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM t, unnest(range(1, len(w))) AS u(i)
         |  GROUP BY doc_id, l, r
         |),
         |c2 AS (SELECT l, r, CAST(SUM(tf) AS BIGINT) AS c2 FROM bg GROUP BY l, r),
         |c1 AS (SELECT term AS l, CAST(COUNT(*) AS BIGINT) AS c1
         |       FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
         |       GROUP BY term),
         |sup AS (
         |  SELECT c2.l, c2.r,
         |    CAST(length(bin(c1 // c2)) - 1 AS BIGINT) AS sup
         |  FROM c2 JOIN c1 ON c2.l = c1.l
         |)
         |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(tf * sup) AS BIGINT) AS sum_surprisal,
         |  CAST(SUM(tf * sup) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE)
         |    AS mean_surprisal
         |FROM bg JOIN sup ON bg.l = sup.l AND bg.r = sup.r
         |GROUP BY doc_id""".stripMargin),
    // CROSS-VALIDATED trigram surprisal with stupid backoff: counts
    // from a 90% hash-split train side score the held-out 10% — the
    // honest LM-quality gate where backoff actually fires (the
    // self-scored uni/bigram variants never miss an n-gram)
    Query("text_surprisal_cv", (s, dir) =>
      graft.functions.TermStats.trigramSurprisalCv(docs(s, dir),
        "doc_id", "text", evalPerMille = 100),
      // mirrors trigramSurprisalCv(evalPerMille = 100): identical hash
      // split, prefix-derived conditionals, backoff cascade
      oracle = graft.functions.TermStats.trigramSurprisalCvSql("doc_id", toks,
        evalPerMille = 100)),
    // epoch-repetition materialization: quality-proportional weights in
    // [0,3] — docs repeat floor(w) times plus a deterministic fractional
    // copy, exercising up-sampling, down-sampling, and dropping
    Query("mix_epochs", (s, dir) =>
      Sampling.materializeMixture(
          docs(s, dir).withColumn("w", TA.qualityScore(col("text")) * 3.0),
          "doc_id", col("w"))
        .select("doc_id", "copy"),
      oracle = s"""WITH d AS (
         |  SELECT doc_id, (${TA.qualityScoreSql(toks)}) * 3.0 AS w
         |  FROM documents
         |), n AS (
         |  SELECT doc_id,
         |    CAST(floor(w) AS BIGINT) +
         |    CASE WHEN CAST(${Sampling.keyHash60Sql("doc_id")} % ${Sampling.DefaultDen} AS DOUBLE)
         |              < (w - floor(w)) * ${Sampling.DefaultDen}
         |         THEN 1 ELSE 0 END AS n
         |  FROM d
         |)
         |SELECT doc_id, t.copy FROM n,
         |  UNNEST(range(1, n + 1)) AS t(copy)
         |WHERE n >= 1""".stripMargin),
    // one-row dataset card: corpus-level integer accounting (doc/token/
    // stratum counts, char bounds, short-doc share)
    Query("corpus_profile", (s, dir) =>
      docs(s, dir)
        .agg(
          count(lit(1)).as("n_docs"),
          sum(TA.tokenCount(col("text")).cast("long")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(when(TA.tokenCount(col("text")) < 20, 1L).otherwise(0L))
            .as("n_short"))
        .withColumn("short_frac",
          col("n_short").cast("double") / col("n_docs").cast("double")),
      oracle = s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CAST(len($toks) AS BIGINT)) AS BIGINT) AS n_tokens,
         |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
         |  CAST(SUM(CASE WHEN len($toks) < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
         |  CAST(SUM(CASE WHEN len($toks) < 20 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS short_frac
         |FROM documents""".stripMargin),
    // source-concentration profile: per-source size, descending rank,
    // cumulative top-p coverage, and the corpus Gini coefficient — the
    // "is this corpus dominated by a few domains" report every mixture
    // decision starts from. All windows run on the AGGREGATED per-source
    // frame (one row per source — sources are a bounded dimension), the
    // corpus itself sees one partial-aggregating groupBy; every ratio is
    // a single division of exact longs
    Query("corpus_concentration", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val per = docs(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      val wRank = Window.orderBy(col("n_chars").desc, col("source"))
      val ranked = per
        .withColumn("rnk", row_number().over(wRank).cast("long"))
        .withColumn("cum_chars", sum(col("n_chars")).over(
          wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // Gini from the descending rank: G = (n+1)/n - 2·Σ(rnk·x)/(n·Σx)
      val tot = ranked.agg(sum(col("n_chars")).as("__s"),
        count(lit(1)).as("__n"),
        sum(col("rnk") * col("n_chars")).as("__t"))
      ranked.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_chars"), col("rnk"),
          (col("n_chars").cast("double") / col("__s").cast("double"))
            .as("share"),
          (col("cum_chars").cast("double") / col("__s").cast("double"))
            .as("cum_share"),
          ((col("__n") + 1).cast("double") / col("__n").cast("double") -
            (col("__t") * 2).cast("double") /
              (col("__n") * col("__s")).cast("double")).as("gini"))
    },
      // same rank order, same exact-long Gini arithmetic
      oracle = """WITH per AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY source),
        |ranked AS (
        |  SELECT source, n_docs, n_chars,
        |    CAST(row_number() OVER (ORDER BY n_chars DESC, source)
        |      AS BIGINT) AS rnk,
        |    CAST(SUM(n_chars) OVER (ORDER BY n_chars DESC, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_chars
        |  FROM per),
        |tot AS (
        |  SELECT CAST(SUM(n_chars) AS BIGINT) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(rnk * n_chars) AS BIGINT) AS t
        |  FROM ranked)
        |SELECT source, n_docs, n_chars, rnk,
        |  CAST(n_chars AS DOUBLE) / CAST(s AS DOUBLE) AS share,
        |  CAST(cum_chars AS DOUBLE) / CAST(s AS DOUBLE) AS cum_share,
        |  CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE)
        |    - CAST(t * 2 AS DOUBLE) / CAST(n * s AS DOUBLE) AS gini
        |FROM ranked CROSS JOIN tot""".stripMargin),
    // URL canonicalization (C4/RefinedWeb pre-text step): lowercase
    // scheme+host, strip default ports / fragments / tracking params
    // (keep real params in order), plus registered-domain (eTLD+1)
    // extraction — all parse_url-based Column expressions riding the
    // scan's project, zero shuffles, zero UDFs. The oracle derives the
    // expected strings from the webCorpus generation arithmetic — an
    // independent path to the same answer
    Query("web_url_canonical", (s, dir) =>
      webCorpus(docs(s, dir)).select(col("doc_id"), col("url"),
        Web.hostOf(col("url")).as("host"),
        Web.registeredDomain(Web.hostOf(col("url"))).as("domain"),
        Web.canonicalUrl(col("url")).as("canon_url")),
      // the Spark side PARSES the generated URLs (parse_url expressions);
      // this side derives every expected output from the webCorpus doc_id
      // arithmetic — two independent derivations that must agree
      // byte-for-byte
      oracle = s"""WITH web AS ($webCorpusSql)
         |SELECT doc_id, url,
         |  $webHostSql AS host,
         |  $webDomainSql AS domain,
         |  $webCanonSql AS canon_url
         |FROM web""".stripMargin),
    // URL-level dedup — C4's literal first dedup step (before any text
    // loads): group by CANONICAL url, keep the smallest doc_id, report
    // multiplicity. The corpus is webCorpus + injected RAW-VARIANT
    // re-crawls (uppercased host, explicit default port, tracking-param
    // noise, fragment — see webDupCorpus) that must collapse onto their
    // base's canonical key; one partial-aggregating exchange on the
    // canonical string
    Query("web_url_dedup", (s, dir) =>
      webDupCorpus(docs(s, dir))
        .groupBy(Web.canonicalUrl(col("url")).as("canon_url"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("kept_id"))
        .filter(col("n_copies") > 1),
      // base + variant rows both reduce to the arithmetic canonical (the
      // variant filters guarantee base/variant canonical equality), then
      // the same group/keep-first/multiplicity
      oracle = s"""WITH b AS (
         |  SELECT doc_id, $webCanonSql AS canon_url FROM documents),
         |v AS (
         |  SELECT doc_id + 5000000 AS doc_id, $webCanonSql AS canon_url
         |  FROM documents
         |  WHERE doc_id % 4 = 1 AND doc_id % 6 <> 3 AND doc_id % 11 <> 0),
         |u AS (SELECT * FROM b UNION ALL SELECT * FROM v)
         |SELECT canon_url, CAST(COUNT(*) AS BIGINT) AS n_copies,
         |  MIN(doc_id) AS kept_id
         |FROM u GROUP BY canon_url HAVING COUNT(*) > 1""".stripMargin),
    // per-registered-domain concentration + quota capping — the
    // C4/RefinedWeb pre-text dedup step: doc/token shares, descending
    // token rank, cumulative coverage, corpus Gini (the
    // corpus_concentration machinery keyed on domain), and a ≤16-docs-
    // per-domain quality quota (the sample_topk_per_lang WindowGroupLimit
    // shape: per-partition top-k heaps, the exchange ships at most k rows
    // per (domain, input partition)). All ranking windows run on the
    // AGGREGATED per-domain frame — domains are a bounded dimension
    // (registered domains, not URLs), so the frame stays rank-window-safe
    // at any corpus size
    Query("web_domain_concentration", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val web = webCorpus(docs(s, dir)).select(col("doc_id"),
        Web.registeredDomain(Web.hostOf(col("url"))).as("domain"),
        TA.tokenCount(col("text")).cast("long").as("__tok"),
        TA.qualityScore(col("text")).as("__q"))
      val per = web.groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("n_tokens"))
      val wRank = Window.orderBy(col("n_tokens").desc, col("domain"))
      val ranked = per
        .withColumn("rnk", row_number().over(wRank).cast("long"))
        .withColumn("cum_tokens", sum(col("n_tokens")).over(
          wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = ranked.agg(sum(col("n_tokens")).as("__s"),
        count(lit(1)).as("__n"),
        sum(col("rnk") * col("n_tokens")).as("__t"),
        sum(col("n_docs")).as("__d"))
      val kept = Sampling.topKPerKey(web, "domain", k = 16,
          order = Seq(col("__q").desc, col("doc_id")))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_kept"), sum(col("__tok")).as("kept_tokens"))
      ranked.join(kept, Seq("domain"))
        .crossJoin(broadcast(tot))
        .select(col("domain"), col("n_docs"), col("n_tokens"), col("rnk"),
          (col("n_docs").cast("double") / col("__d").cast("double"))
            .as("doc_share"),
          (col("n_tokens").cast("double") / col("__s").cast("double"))
            .as("token_share"),
          (col("cum_tokens").cast("double") / col("__s").cast("double"))
            .as("cum_token_share"),
          ((col("__n") + 1).cast("double") / col("__n").cast("double") -
            (col("__t") * 2).cast("double") /
              (col("__n") * col("__s")).cast("double")).as("gini"),
          col("n_kept"), col("kept_tokens"))
    },
      // same domain arithmetic, same rank order, same exact-long shares /
      // Gini, same quality-quota row_number
      oracle = s"""WITH web AS ($webCorpusSql),
         |d AS (
         |  SELECT doc_id, $webDomainSql AS domain,
         |    CAST(len($toks) AS BIGINT) AS tok,
         |    ${TA.qualityScoreSql(toks)} AS q
         |  FROM web),
         |per AS (
         |  SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(tok) AS BIGINT) AS n_tokens
         |  FROM d GROUP BY domain),
         |r AS (
         |  SELECT domain, n_docs, n_tokens,
         |    CAST(ROW_NUMBER() OVER (ORDER BY n_tokens DESC, domain)
         |      AS BIGINT) AS rnk,
         |    CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, domain
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM per),
         |tot AS (
         |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS s,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(rnk * n_tokens) AS BIGINT) AS t,
         |    CAST(SUM(n_docs) AS BIGINT) AS dd
         |  FROM r),
         |k AS (
         |  SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |    CAST(SUM(tok) AS BIGINT) AS kept_tokens
         |  FROM (SELECT domain, tok,
         |          ROW_NUMBER() OVER (PARTITION BY domain
         |            ORDER BY q DESC, doc_id) AS rn
         |        FROM d)
         |  WHERE rn <= 16 GROUP BY domain)
         |SELECT r.domain, r.n_docs, r.n_tokens, r.rnk,
         |  CAST(r.n_docs AS DOUBLE) / CAST(tot.dd AS DOUBLE) AS doc_share,
         |  CAST(r.n_tokens AS DOUBLE) / CAST(tot.s AS DOUBLE) AS token_share,
         |  CAST(r.cum_tokens AS DOUBLE) / CAST(tot.s AS DOUBLE)
         |    AS cum_token_share,
         |  CAST(tot.n + 1 AS DOUBLE) / CAST(tot.n AS DOUBLE) -
         |    CAST(tot.t * 2 AS DOUBLE) / CAST(tot.n * tot.s AS DOUBLE)
         |    AS gini,
         |  k.n_kept, k.kept_tokens
         |FROM r CROSS JOIN tot JOIN k ON r.domain = k.domain""".stripMargin),
    // per-language tokenizer fertility: subword tokens per word — the
    // standard multilingual-tokenizer equity metric (high fertility =
    // the tokenizer fragments that language). One partial-aggregating
    // groupBy over scan-local expressions; the ratio is one division
    Query("text_fertility", (s, dir) =>
      docs(s, dir).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TA.tokenCount(col("text")).cast("long")).as("n_words"),
          sum(TA.bpeTokenEstimate(col("text"))).as("n_bpe"))
        .withColumn("fertility",
          col("n_bpe").cast("double") / col("n_words").cast("double")),
      oracle = s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CAST(len($toks) AS BIGINT)) AS BIGINT) AS n_words,
         |  CAST(SUM(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT)
         |    AS n_bpe,
         |  CAST(SUM(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS DOUBLE)
         |    / CAST(SUM(CAST(len($toks) AS BIGINT)) AS DOUBLE) AS fertility
         |FROM documents GROUP BY lang""".stripMargin),
    // windowed co-occurrence + integer-exact PMI: top-40 collocations
    // (window 2, pair count >= 5) — the SGNS/collocation statistic;
    // pairs form map-side, the unigram table joins back broadcast
    Query("text_pmi_pairs", (s, dir) =>
      graft.functions.TermStats.cooccurPmi(docs(s, dir), "text",
        window = 2, minCount = 5, k = 40),
      oracle = """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |p0 AS (
        |  SELECT w[i] AS left_tok, w[i + d] AS right_tok
        |  FROM t, unnest(range(1, len(w))) AS u(i),
        |       unnest(range(1, 3)) AS v(d)
        |  WHERE i + d <= len(w)
        |),
        |pc AS (SELECT left_tok, right_tok, CAST(COUNT(*) AS BIGINT) AS pair_count
        |       FROM p0 GROUP BY left_tok, right_tok),
        |uni AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c
        |        FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |        GROUP BY term),
        |tt AS (SELECT CAST(SUM(c) AS BIGINT) AS t_tok FROM uni),
        |tp AS (SELECT CAST(SUM(pair_count) AS BIGINT) AS t_pair FROM pc)
        |SELECT left_tok, right_tok, pair_count, ul.c AS c_left, ur.c AS c_right,
        |  CAST(length(bin(pair_count * t_tok * t_tok)) - 1 AS BIGINT)
        |    - CAST(length(bin(ul.c * ur.c * t_pair)) - 1 AS BIGINT) AS pmi_bits
        |FROM pc JOIN uni ul ON pc.left_tok = ul.term
        |        JOIN uni ur ON pc.right_tok = ur.term, tt, tp
        |WHERE pair_count >= 5
        |ORDER BY pmi_bits DESC, pair_count DESC, left_tok, right_tok
        |LIMIT 40""".stripMargin),
    // feature-hashed linear classifier (fastText-shaped): per-doc
    // integer score over 1024 hashed buckets with md5-derived weights —
    // pure scan-side scalar expressions, zero shuffles
    Query("text_classifier", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
          TA.tokenCount(col("text")).cast("long").as("n_tokens"),
          TA.hashedClassifierScore(col("text")).as("score"))
        .withColumn("mean_score", col("score").cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double"))
        .withColumn("target_like", col("mean_score") >= 0),
      oracle = s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |        ${TA.hashedClassifierScoreSql("w")} AS score FROM d)
         |SELECT doc_id, n_tokens, score,
         |  CAST(score AS DOUBLE) / CAST(GREATEST(n_tokens, 1) AS DOUBLE) AS mean_score,
         |  (CAST(score AS DOUBLE) / CAST(GREATEST(n_tokens, 1) AS DOUBLE)) >= 0
         |    AS target_like
         |FROM s""".stripMargin),
    // DSIR-style importance weights toward the lang='en' slice: per-term
    // floor-log2 surprisal difference (raw minus smoothed target),
    // summed per document — the importance-resampling selection signal
    Query("text_dsir", (s, dir) =>
      graft.functions.TermStats.dsirWeights(docs(s, dir), "doc_id",
        "text", col("lang") === "en"),
      oracle = s"""WITH tok AS (
         |  SELECT doc_id, lang = 'en' AS tgt, unnest($toks) AS term
         |  FROM documents
         |), d AS (
         |  SELECT doc_id, tgt, term, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM tok GROUP BY doc_id, tgt, term
         |), tc AS (
         |  SELECT term, CAST(SUM(tf) AS BIGINT) AS c_raw,
         |    CAST(SUM(CASE WHEN tgt THEN tf ELSE 0 END) AS BIGINT) AS c_tgt
         |  FROM d GROUP BY term
         |), tot AS (
         |  SELECT CAST(SUM(c_raw) AS BIGINT) AS t_raw,
         |    CAST(SUM(c_tgt) AS BIGINT) AS t_tgt FROM tc
         |), w AS (
         |  SELECT term,
         |    CAST(length(bin(t_raw // c_raw)) - 1 AS BIGINT)
         |      - CAST(length(bin((t_tgt + 1) // (c_tgt + 1))) - 1 AS BIGINT) AS wt
         |  FROM tc, tot
         |)
         |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |  CAST(SUM(tf * wt) AS BIGINT) AS sum_weight,
         |  CAST(SUM(tf * wt) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE) AS mean_weight
         |FROM d JOIN w USING (term) GROUP BY doc_id""".stripMargin),
    // substring-level duplication profile: fraction of each document's
    // 8-token shingle positions whose shingle recurs in another document
    Query("dedup_kgram_coverage", (s, dir) =>
      Dedup.kgramDupCoverage(docs(s, dir), "doc_id", "text", k = 8),
      oracle = s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(
         |    CASE WHEN len(w) < 8 THEN [array_to_string(w, ' ')]
         |         ELSE list_transform(range(0, len(w) - 7),
         |                i -> array_to_string(list_slice(w, i + 1, i + 8), ' ')) END
         |  ) AS gram FROM d
         |), h AS (
         |  SELECT doc_id, ${Sampling.keyHash60Sql("gram")} AS hv FROM g
         |), pd AS (
         |  SELECT doc_id, hv, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM h GROUP BY doc_id, hv
         |), dg AS (
         |  SELECT hv, CAST(COUNT(*) AS BIGINT) AS ndocs FROM pd GROUP BY hv
         |), agg AS (
         |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_kgrams,
         |    CAST(SUM(CASE WHEN ndocs >= 2 THEN tf ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM pd JOIN dg USING (hv) GROUP BY doc_id
         |)
         |SELECT d.doc_id, COALESCE(n_kgrams, 0) AS n_kgrams,
         |  COALESCE(n_dup, 0) AS n_dup,
         |  CAST(COALESCE(n_dup, 0) AS DOUBLE)
         |    / CAST(GREATEST(COALESCE(n_kgrams, 0), 1) AS DOUBLE) AS dup_frac
         |FROM d LEFT JOIN agg USING (doc_id)""".stripMargin),
    // the end-to-end curation pipeline a training-data run performs:
    // score → language-filter → exact-dedup (keep canonical) →
    // stratified mix — every stage one of this engine's operators, the
    // whole composition one declarative plan
    Query("curate_corpus", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // quality/langId evaluated ONCE per row: the previous
      // compute-columns-then-filter shape let Catalyst push the filter
      // below the projection, duplicating both interpreted-HOF lambda
      // expressions into the scan's Filter (plan-verified, r15). The
      // gate folds into the canonical window instead — canonical =
      // min(doc_id) among QUALIFYING members of the identical-text
      // group (filter-then-canonical, the oracle's exact semantics;
      // lower/trim-normalized hash groups can mix verdicts, so the
      // when() must stay inside the min) — and a predicate on
      // non-partition columns cannot be pushed below a window. Text is
      // still projected away before the window shuffle; the trade is
      // shuffling rejected rows' narrow columns too.
      val w = Window.partitionBy(col("__h"))
      val base = dupCorpus(docs(s, dir))
        .select(col("doc_id"),
          TA.langId(col("text")).as("lang_pred"),
          TA.qualityScore(col("text")).as("quality"),
          Dedup.contentHash(col("text")).as("__h"))
        .withColumn("__q",
          col("quality") >= 0.3 && col("lang_pred") =!= "unknown")
        .withColumn("__canon",
          min(when(col("__q"), col("doc_id"))).over(w))
        .filter(col("__q") && col("doc_id") === col("__canon"))
        .select("doc_id", "lang_pred", "quality")
      Sampling.stratifiedSample(base,
          "doc_id", "lang_pred", Map("en" -> 500), defaultNum = 300)
        .select("doc_id", "lang_pred", "quality")
    },
      oracle = {
        val toks = "string_split(text, ' ')"
        val quality =
          s"""LEAST(CAST(len($toks) AS DOUBLE) / 100.0, 1.0) * 0.5 +
             |    (CAST(${TA.stopwordCountSql(toks)} AS DOUBLE)
             |     / CAST(GREATEST(len($toks), 1) AS DOUBLE)) * 0.5""".stripMargin
        s"""WITH corpus AS ($dupCorpusSql),
           |scored AS (
           |  SELECT doc_id, text, ${TA.langIdSql(toks)} AS lang_pred,
           |         $quality AS quality
           |  FROM corpus
           |),
           |filtered AS (
           |  SELECT * FROM scored WHERE quality >= 0.3 AND lang_pred <> 'unknown'
           |),
           |canon AS (
           |  SELECT doc_id, lang_pred, quality FROM (
           |    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS c
           |    FROM filtered
           |  ) WHERE doc_id = c
           |)
           |SELECT doc_id, lang_pred, quality FROM canon
           |WHERE ${Sampling.keyHash60Sql("doc_id")} % ${Sampling.DefaultDen} <
           |  CASE WHEN lang_pred = 'en' THEN 500 ELSE 300 END""".stripMargin
      }),
    // the FULL curation pipeline: repetition + quality + language gates
    // → decontamination anti-join → exact-dedup canonical → PII audit +
    // redacted fingerprint → quality-weighted sample. One declarative
    // plan; text is projected away before any shuffle (hash/fingerprint/
    // counts all computed in the scan)
    Query("curate_corpus_full", (s, dir) => {
      val corpus = dupCorpus(docs(s, dir))
      val bench = docs(s, dir).filter(col("doc_id") % 25 === 0)
      val contaminated = Decontaminate
        .ngramHits(corpus, bench, "doc_id", "text", n = 5)
        .filter(col("hit_frac") >= 0.5).select("doc_id")
      // every per-document expression evaluated ONCE per row: the
      // previous compute-then-filter shape let Catalyst push the gate
      // below the projection, duplicating the interpreted-HOF
      // quality/langId lambdas into the scan's Filter (plan-verified,
      // r15). The gate folds into the canonical window — canonical =
      // min(doc_id) among QUALIFYING members of the identical-text
      // group, the oracle's exact filter-then-canonical semantics
      // (lower/trim-normalized hash groups can mix verdicts, so the
      // when() must stay inside the min) — and a predicate on
      // non-partition columns cannot be pushed below a window. Text is
      // still projected away before the window shuffle.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("__h"))
      val base = corpus
        .select(col("doc_id"),
          TA.langId(col("text")).as("lang_pred"),
          TA.qualityScore(col("text")).as("quality"),
          (TA.dupFrac(TA.tokenNgrams(col("text"), 2)) <= 0.08).as("__dupok"),
          TA.piiCount(col("text")).as("n_pii"),
          md5(TA.redactPii(col("text"))).as("clean_fp"),
          Dedup.contentHash(col("text")).as("__h"))
        .withColumn("__q", col("quality") >= 0.3 &&
          col("lang_pred") =!= "unknown" && col("__dupok"))
        .withColumn("__canon",
          min(when(col("__q"), col("doc_id"))).over(w))
        .filter(col("__q") && col("doc_id") === col("__canon"))
      // the anti-join sits ABOVE the canonical window, not below it:
      // below, Catalyst pushes the join into each union leg of the
      // dup-injected corpus and evaluates the whole contamination branch
      // once per leg (no exchange reuse across legs). Equivalent result
      // either way — the verdict is a pure function of the text, so an
      // identical-text group is contaminated all-or-nothing
      // no broadcast() hint on the contaminated side: it is "docs with
      // ≥50% bench n-gram overlap" — data-dependent and unbounded, and a
      // forced hint overrides AQE's size check (a contamination-heavy
      // corpus would OOM the driver). AQE picks BHJ when the set measures
      // small at runtime and falls back to a shuffled join when not; the
      // join stays an equi anti-join either way (plan-asserted in
      // CurationPlanSpec), never a nested loop
      Sampling.weightedSample(
          base.join(contaminated, Seq("doc_id"), "left_anti"),
          "doc_id", col("quality"))
        .select("doc_id", "lang_pred", "quality", "n_pii", "clean_fp")
    },
      oracle = s"""WITH corpus AS ($dupCorpusSql),
         |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
         |bsh AS (SELECT DISTINCT shingle FROM (${sh5("bench")})),
         |csh AS (${sh5("corpus")}),
         |tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM csh GROUP BY doc_id),
         |hits AS (SELECT c.doc_id, COUNT(*) AS n_hits
         |         FROM csh c JOIN bsh b ON c.shingle = b.shingle GROUP BY c.doc_id),
         |contaminated AS (
         |  SELECT h.doc_id FROM hits h JOIN tot t ON h.doc_id = t.doc_id
         |  WHERE CAST(h.n_hits AS DOUBLE) / CAST(t.n_sh AS DOUBLE) >= 0.5),
         |scored AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS w FROM corpus),
         |flt AS (
         |  SELECT doc_id, text,
         |    ${TA.qualityScoreSql("w")} AS quality,
         |    ${TA.langIdSql("w")} AS lang_pred
         |  FROM scored
         |  WHERE ${TA.qualityScoreSql("w")} >= 0.3
         |    AND ${TA.langIdSql("w")} <> 'unknown'
         |    AND ${TA.dupFracSql(TA.tokenNgramsSql("w", 2))} <= 0.08
         |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |canon AS (
         |  SELECT doc_id, lang_pred, quality, text FROM (
         |    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS c
         |    FROM flt
         |  ) WHERE doc_id = c)
         |SELECT doc_id, lang_pred, quality,
         |  ${TA.piiCountSql("text")} AS n_pii,
         |  md5(${TA.redactPiiSql("text")}) AS clean_fp
         |FROM canon
         |WHERE CAST(${Sampling.keyHash60Sql("doc_id")} % ${Sampling.DefaultDen} AS DOUBLE)
         |      < quality * ${Sampling.DefaultDen}""".stripMargin),
    // the FULL training-manifest pipeline — the other half of
    // curate_corpus_full's story: dedup canonical → per-source
    // temperature reweighting → deterministic epoch copies → global
    // packed token offsets (two-phase cumsum) → shuffle-shard
    // assignment. One declarative plan from raw corpus to the packed
    // manifest a trainer consumes; every stage reuses an
    // individually-gated operator
    Query("train_manifest_full", (s, dir) => {
      val base = dupCorpus(docs(s, dir)).select(col("doc_id"), col("source"),
        TA.tokenCount(col("text")).cast("long").as("n_tokens"),
        Dedup.contentHash(col("text")).as("__h"))
      // referenced twice (weights + join back) — materialize once
      val canon = Dedup.keepCanonicalByKey(base, "doc_id", "__h")
        .select("doc_id", "source", "n_tokens").localCheckpoint()
      val wts = Sampling.temperatureWeights(canon, "source", col("n_tokens"))
        .select(col("source"), col("weight"))
      // strata table is per-source — data-dependent, so no forced
      // broadcast; AQE promotes it at runtime
      val mixed = Sampling.materializeMixture(
          canon.join(wts, Seq("source")), "doc_id", col("weight"))
        .withColumn("mid", col("doc_id") * 1000L + col("copy"))
      graft.functions.Packing.concatOffsetsGlobal(mixed, "mid",
          col("n_tokens"), chunkSize = 64000L, seqLen = 2048L)
        .withColumn("shard", pmod(Sampling.keyHash60(concat_ws(":",
          lit("shuffle"), col("mid").cast("string"))), lit(8)).cast("int"))
        .select("doc_id", "copy", "source", "n_tokens",
          "start_offset", "end_offset", "first_seq", "last_seq", "shard")
    },
      // canonical dedup → temperature weights (the mix_temperature
      // arithmetic) → epoch copies (the mix_epochs arithmetic) → global
      // offsets → shard hash
      oracle = s"""WITH corpus AS ($dupCorpusSql),
         |base AS (
         |  SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tokens,
         |         md5(lower(trim(text))) AS h
         |  FROM corpus),
         |canon AS (
         |  SELECT doc_id, source, n_tokens FROM (
         |    SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS c FROM base)
         |  WHERE doc_id = c),
         |agg AS (
         |  SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS s_tok
         |  FROM canon GROUP BY source),
         |tf AS (
         |  SELECT source, CAST(s_tok AS DOUBLE) /
         |    CAST(CAST(SUM(s_tok) OVER () AS BIGINT) AS DOUBLE) AS token_frac
         |  FROM agg),
         |ts AS (SELECT *, sqrt(token_frac) AS temp_score FROM tf),
         |wts AS (
         |  SELECT source,
         |    CASE WHEN token_frac > 0
         |         THEN (temp_score /
         |           CAST(SUM(CAST(temp_score AS DECIMAL(20,18))) OVER ()
         |                AS DOUBLE)) / token_frac
         |         ELSE 0.0 END AS w
         |  FROM ts),
         |wd AS (SELECT c.doc_id, c.source, c.n_tokens, w
         |       FROM canon c JOIN wts USING (source)),
         |cnt AS (
         |  SELECT *, CAST(floor(w) AS BIGINT) +
         |    CASE WHEN CAST(${Sampling.keyHash60Sql("doc_id")}
         |                   % ${Sampling.DefaultDen} AS DOUBLE)
         |              < (w - floor(w)) * ${Sampling.DefaultDen}
         |         THEN 1 ELSE 0 END AS n
         |  FROM wd),
         |mx AS (
         |  SELECT doc_id, source, n_tokens, t.copy,
         |         doc_id * 1000 + t.copy AS mid
         |  FROM cnt, UNNEST(range(1, n + 1)) AS t(copy)
         |  WHERE n >= 1),
         |offs AS (
         |  SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY mid
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_offset
         |  FROM mx)
         |SELECT doc_id, copy, source, n_tokens,
         |  end_offset - n_tokens AS start_offset, end_offset,
         |  (end_offset - n_tokens) // 2048 AS first_seq,
         |  CASE WHEN end_offset > end_offset - n_tokens
         |       THEN (end_offset - 1) // 2048
         |       ELSE (end_offset - n_tokens) // 2048 END AS last_seq,
         |  CAST(${Sampling.shuffleHashSql("shuffle", "CAST(mid AS VARCHAR)")}
         |       % 8 AS INT) AS shard
         |FROM offs""".stripMargin),
    // multimodal plumbing: binary blobs → batched stub decode
    Query("multimodal_decode", (s, dir) =>
      Multimodal.decodeFeatures(
        Multimodal.toBlobs(docs(s, dir), "doc_id", "text"))
        .select("doc_id", "media_type", "n_bytes", "width", "height"),
      oracle = """SELECT doc_id, 'application/octet-stream' AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(16 + octet_length(encode(text)) % 64 AS INT) AS width,
        |  CAST(16 + (octet_length(encode(text)) // 64) % 64 AS INT) AS height
        |FROM documents""".stripMargin),
    // multimodal frame sampling: blob → frame rows (per-partition fan-out)
    Query("multimodal_frames", (s, dir) =>
      Multimodal.frameSample(
        Multimodal.toBlobs(docs(s, dir), "doc_id", "text"))
        .select(col("doc_id"), col("frame_idx"), col("ts_ms"),
          length(col("data")).cast("bigint").as("frame_bytes")),
      // 256-byte frames at 40 ms/frame; LATERAL fan-out mirrors the
      // per-partition flatMap
      oracle = """SELECT doc_id, g.gs AS frame_idx, CAST(g.gs * 40 AS BIGINT) AS ts_ms,
        |  CAST(LEAST(256, octet_length(encode(text)) - g.gs * 256) AS BIGINT) AS frame_bytes
        |FROM documents, LATERAL (
        |  SELECT UNNEST(range(0,
        |    CAST(CEIL(octet_length(encode(text)) / 256.0) AS BIGINT))) AS gs) g""".stripMargin),
    // multimodal resize: payload downsampled to a fixed geometry
    Query("multimodal_resize", (s, dir) =>
      Multimodal.resizeStub(
        Multimodal.toBlobs(docs(s, dir), "doc_id", "text"), 16, 16)
        .select(col("doc_id"), col("width"), col("height"),
          length(col("data")).cast("bigint").as("n_bytes")),
      oracle = """SELECT doc_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
        |  CAST(256 AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin),
    // REAL image decode: deterministic gray PNGs are synthesized per
    // doc (dimensions + pixels are integer formulas of the id), pushed
    // through actual javax.imageio PNG bytes, and decoded back — the
    // oracle recomputes dimensions and the exact luma sum analytically,
    // so any codec/colorspace deviation hash-mismatches
    Query("multimodal_decode_real", (s, dir) =>
      Multimodal.imageStats(
        Multimodal.synthGrayPng(docs(s, dir), "doc_id"))
        .select(col("doc_id"), col("width"), col("height"),
          col("n_pixels"), col("luma_sum")),
      // mirrors synthGrayPng → ImageIO decode: w = 8 + id%16,
      // h = 8 + (id/16)%16, pixel(x,y) = (31·id + 7x + 13y) % 256 —
      // the engine must reproduce these through REAL PNG bytes
      oracle = """WITH d AS (
        |  SELECT doc_id, 8 + doc_id % 16 AS w, 8 + (doc_id // 16) % 16 AS h
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, w, h,
        |    SUM((31 * doc_id + 7 * x.x + 13 * y.y) % 256) AS ls
        |  FROM d,
        |    LATERAL (SELECT UNNEST(range(0, w)) AS x) x,
        |    LATERAL (SELECT UNNEST(range(0, h)) AS y) y
        |  GROUP BY doc_id, w, h
        |)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(w * h AS BIGINT) AS n_pixels, CAST(ls AS BIGINT) AS luma_sum
        |FROM px""".stripMargin),
    // REAL audio: formula-generated 16-bit PCM clips through a true
    // javax.sound WAV encode -> decode, then integer sample statistics
    // (energy = sum of squares, peak, silent-frame detection over
    // 256-sample frames incl. ragged tails) — the oracle re-derives
    // every number analytically from the sample formula, so the real
    // codec round-trip is what is being graded
    Query("multimodal_audio_real", (s, dir) =>
      Multimodal.audioStats(
        Multimodal.synthPcmWav(docs(s, dir), "doc_id")),
      // analytic recompute of the formula-generated PCM statistics
      oracle = Multimodal.audioStatsSql(
        "SELECT doc_id AS id FROM documents")),
    // REAL audio transform: decode -> drop all-zero frames -> true
    // re-encode -> decode again for stats (the resize_real shape for
    // audio); the oracle re-derives the trimmed clip analytically
    Query("multimodal_audio_trim", (s, dir) =>
      Multimodal.audioStats(
        Multimodal.trimSilence(
          Multimodal.synthPcmWav(docs(s, dir), "doc_id"))),
      // analytic recompute of the trimmed clip (non-silent frames,
      // re-indexed)
      oracle = Multimodal.audioTrimStatsSql(
        "SELECT doc_id AS id FROM documents")),
    // REAL image resize: decode → 8×8 nearest-neighbor gray resample →
    // PNG re-encode → decode again for stats; the oracle evaluates the
    // nearest-neighbor index formula on the generator directly
    Query("multimodal_resize_real", (s, dir) =>
      Multimodal.imageStats(
        Multimodal.resizeImage(
          Multimodal.synthGrayPng(docs(s, dir), "doc_id"), 8, 8))
        .select(col("doc_id"), col("width"), col("height"),
          col("n_pixels"), col("luma_sum")),
      // mirrors resizeImage(8, 8) over synthGrayPng: nearest-neighbor
      // sample at (⌊x·w/8⌋, ⌊y·h/8⌋) of the generator formula
      oracle = """WITH d AS (
        |  SELECT doc_id, 8 + doc_id % 16 AS w, 8 + (doc_id // 16) % 16 AS h
        |  FROM documents
        |), px AS (
        |  SELECT doc_id,
        |    SUM((31 * doc_id + 7 * ((x.x * w) // 8)
        |         + 13 * ((y.y * h) // 8)) % 256) AS ls
        |  FROM d,
        |    LATERAL (SELECT UNNEST(range(0, 8)) AS x) x,
        |    LATERAL (SELECT UNNEST(range(0, 8)) AS y) y
        |  GROUP BY doc_id
        |)
        |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CAST(64 AS BIGINT) AS n_pixels, CAST(ls AS BIGINT) AS luma_sum
        |FROM px""".stripMargin),
    // REAL image perceptual hash: synth PNG → decode → 8×8 nearest
    // grid sample → 64-bit average hash (two uint32 halves; strict
    // integer 64·v > Σv threshold) — the oracle re-derives every bit
    // analytically from the pixel formula
    Query("multimodal_phash", (s, dir) =>
      Multimodal.aHash64(
        Multimodal.synthGrayPng(docs(s, dir), "doc_id"))
        .select(col("doc_id"), col("hash_hi"), col("hash_lo")),
      // mirrors aHash64 over synthGrayPng: every bit analytic
      oracle = s"""WITH ${Multimodal.aHashCtesSql("SELECT doc_id AS id FROM documents")}
         |SELECT doc_id, hash_hi, hash_lo FROM ah""".stripMargin),
    // image near-dup pairs over the perceptual hashes via 16-bit band
    // blocking — pigeonhole-EXACT for hamming <= 3 (a pair differing in
    // <= 3 bits shares at least one of 4 bands), so the banded result
    // is the full answer, not an approximation. Restricted to a 512-id
    // prefix: the synthetic generator repeats images at id mod 256, so
    // the unrestricted pair set grows quadratically in corpus size
    Query("multimodal_phash_neardup", (s, dir) =>
      Multimodal.aHashNearDup(
        Multimodal.aHash64(
          Multimodal.synthGrayPng(
            docs(s, dir).filter(col("doc_id") < 512), "doc_id")),
        maxDist = 3)
        .orderBy(col("id_a"), col("id_b")),
      // mirrors aHashNearDup: same 4×16-bit band blocking + bit_count.
      // The mirror does NOT model the maxBandDf hot-band cap: the query's
      // doc_id < 512 prefix (256 distinct synthetic images, max band df
      // 512) keeps the default cap of 4096 a provable no-op — if the
      // prefix or the default ever changes, mirror the cap here too
      oracle = s"""WITH ${Multimodal.aHashCtesSql(
            "SELECT doc_id AS id FROM documents WHERE doc_id < 512")},
         |bands AS (
         |  SELECT doc_id, hash_hi, hash_lo, 0 AS band_idx,
         |         hash_lo % 65536 AS band_val FROM ah
         |  UNION ALL
         |  SELECT doc_id, hash_hi, hash_lo, 1, hash_lo // 65536 FROM ah
         |  UNION ALL
         |  SELECT doc_id, hash_hi, hash_lo, 2, hash_hi % 65536 FROM ah
         |  UNION ALL
         |  SELECT doc_id, hash_hi, hash_lo, 3, hash_hi // 65536 FROM ah)
         |SELECT id_a, id_b, hamming FROM (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         |    CAST(bit_count(xor(x.hash_hi, y.hash_hi)) +
         |         bit_count(xor(x.hash_lo, y.hash_lo)) AS INT) AS hamming
         |  FROM bands x JOIN bands y
         |    ON x.band_idx = y.band_idx AND x.band_val = y.band_val
         |   AND x.doc_id < y.doc_id)
         |WHERE hamming <= 3
         |ORDER BY id_a, id_b""".stripMargin),
    // script/char-class profile per language: ASCII letters, digits,
    // spaces, punctuation vs OTHER (where non-Latin scripts and
    // encoding damage land) — translate-based, regex-dialect-free
    Query("text_scripts", (s, dir) =>
      TA.scriptProfile(docs(s, dir), "lang", "text"),
      // mirrors scriptProfile(lang): translate-based char-class counts
      // (identical char-for-char semantics on both engines), summed per
      // language
      oracle = {
        val cc = (name: String, chars: String) =>
          s"${TA.classCountSql("text", chars)} AS $name"
        s"""WITH d AS (
           |  SELECT lang, CAST(length(text) AS BIGINT) AS n_chars,
           |    ${cc("n_alpha", TA.AsciiAlpha)},
           |    ${cc("n_digit", TA.AsciiDigit)},
           |    ${cc("n_space", " ")},
           |    ${cc("n_punct", TA.AsciiPunct)}
           |  FROM documents
           |)
           |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           |  CAST(SUM(n_alpha) AS BIGINT) AS n_alpha,
           |  CAST(SUM(n_digit) AS BIGINT) AS n_digit,
           |  CAST(SUM(n_space) AS BIGINT) AS n_space,
           |  CAST(SUM(n_punct) AS BIGINT) AS n_punct,
           |  CAST(SUM(n_chars - n_alpha - n_digit - n_space - n_punct)
           |       AS BIGINT) AS n_other,
           |  CAST(CAST(SUM(n_chars - n_alpha - n_digit - n_space - n_punct)
           |            AS BIGINT) AS DOUBLE)
           |    / CAST(GREATEST(CAST(SUM(n_chars) AS BIGINT), 1) AS DOUBLE)
           |    AS other_frac
           |FROM d GROUP BY lang""".stripMargin
      }),
    // vocabulary growth (Heaps' law) at corpus-prefix cutoffs: distinct
    // terms + tokens + type-token ratio after the first N doc ids
    Query("vocab_growth", (s, dir) =>
      graft.functions.TermStats.vocabGrowth(docs(s, dir), "doc_id", "text",
        cutoffs = Seq(100L, 250L, 500L, 2000L)),
      // mirrors vocabGrowth(cutoffs = 100, 250, 500, 2000): first-seen
      // doc id per term, prefix joins against the literal cutoffs
      oracle = s"""WITH cut AS (SELECT CAST(c AS BIGINT) AS cutoff
         |             FROM (VALUES (100), (250), (500), (2000)) t(c)),
         |tok AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         |fst AS (SELECT term, MIN(doc_id) AS first_id FROM tok GROUP BY term),
         |trm AS (SELECT cutoff, CAST(COUNT(*) AS BIGINT) AS n_terms
         |        FROM fst JOIN cut ON first_id < cutoff GROUP BY cutoff),
         |dt AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n FROM documents),
         |tk AS (SELECT cutoff, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(n) AS BIGINT) AS n_tokens
         |       FROM dt JOIN cut ON doc_id < cutoff GROUP BY cutoff)
         |SELECT cutoff, n_docs, n_tokens, n_terms,
         |  CAST(n_terms AS DOUBLE)
         |    / CAST(GREATEST(n_tokens, 1) AS DOUBLE) AS ttr
         |FROM tk JOIN trm USING (cutoff)""".stripMargin),
    // TF-weighted sparse cosine pairs over the dup-injected corpus:
    // inverted-index join on df-capped terms, integer dot/norms, exact
    // IEEE cosine — catches same-vocabulary/different-order near-dups
    // that shingle Jaccard misses
    Query("dedup_tf_cosine", (s, dir) =>
      Dedup.tfCosinePairs(dupCorpus(docs(s, dir)), "doc_id", "text",
        minSim = 0.8, maxTermDf = 100),
      // mirrors tfCosinePairs(minSim=0.8, maxTermDf=100): inverted-index
      // join on df-capped terms; integer dot and norms, the same three
      // IEEE ops for sim
      oracle = s"""WITH corpus AS ($dupCorpusSql),
         |tf AS (
         |  SELECT doc_id AS id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($toks) AS term FROM corpus)
         |  GROUP BY doc_id, term),
         |rare AS (
         |  SELECT tf.* FROM tf JOIN (
         |    SELECT term FROM tf GROUP BY term HAVING COUNT(*) <= 100
         |  ) r USING (term)),
         |norms AS (
         |  SELECT id, CAST(SUM(tf * tf) AS BIGINT) AS n2
         |  FROM rare GROUP BY id),
         |p AS (
         |  SELECT x.id AS id_a, y.id AS id_b,
         |    CAST(SUM(x.tf * y.tf) AS BIGINT) AS dot
         |  FROM rare x JOIN rare y ON x.term = y.term AND x.id < y.id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, dot, na.n2 AS n2_a, nb.n2 AS n2_b,
         |  CAST(dot AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         |    AS sim
         |FROM p JOIN norms na ON na.id = p.id_a
         |       JOIN norms nb ON nb.id = p.id_b
         |WHERE CAST(dot AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         |    >= 0.8""".stripMargin),
    // dedup impact report: near-dup components over the dup-injected
    // corpus rolled up by cluster size, with the docs and tokens a
    // keep-smallest-id policy removes — the dataset-card savings table
    Query("dedup_savings", (s, dir) =>
      Dedup.dedupSavings(dupCorpus(docs(s, dir)), "doc_id",
        TA.tokenCount(col("text")),
        Dedup.ngramJaccardPairs(dupCorpus(docs(s, dir)), "doc_id", "text",
          shingleN = 3, minJaccard = 0.5, maxShingleDf = 64)
          .select("id_a", "id_b")),
      // mirrors dedupSavings over the same ngram pairs as dedup_clusters:
      // recursive-CTE components, singleton fill-in, per-cluster-size
      // rollup of removed docs/tokens under keep-smallest-id
      oracle = s"""WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ($ngramPairsOracleSql)),
         |e AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM pairs
         |),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.id
         |),
         |clusters AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
         |corpus AS ($dupCorpusSql),
         |member AS (
         |  SELECT COALESCE(c.cluster_id, d.doc_id) AS cluster_id, d.doc_id,
         |    CAST(len($toks) AS BIGINT) AS n_tokens
         |  FROM corpus d LEFT JOIN clusters c ON d.doc_id = c.id),
         |per AS (
         |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz,
         |    CAST(SUM(n_tokens) AS BIGINT) AS tok, MIN(doc_id) AS canon
         |  FROM member GROUP BY cluster_id),
         |j AS (
         |  SELECT p.sz, p.tok, m.n_tokens AS canon_tok
         |  FROM per p JOIN member m ON m.doc_id = p.canon)
         |SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  CAST(SUM(sz - 1) AS BIGINT) AS docs_removed,
         |  CAST(SUM(tok - canon_tok) AS BIGINT) AS tokens_saved
         |FROM j GROUP BY sz""".stripMargin),
  )

  /** Shared oracle fragment: distinct word 5-gram shingles per doc from
    * `src` (mirrors `array_distinct(Dedup.wordShingles(text, 5))`) —
    * used by the decontamination oracles.
    */
  private def sh5(src: String): String =
    s"""SELECT DISTINCT doc_id, unnest(
       |    CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
       |         ELSE list_transform(range(0, len(w) - 4),
       |                i -> array_to_string(list_slice(w, i + 1, i + 5), ' ')) END
       |  ) AS shingle
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $src)""".stripMargin

  /** Shared oracle fragment: distinct winnowing fingerprints per doc of
    * `src` — 5-gram shingles (short-doc fallback idiom), 60-bit md5
    * hashes, window-of-4 minima (mirrors
    * `Dedup.winnowFingerprints(k = 5, w = 4)` exactly).
    */
  private def winnowFpSql(src: String): String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    CASE WHEN len(w0) < 5 THEN [array_to_string(w0, ' ')]
       |         ELSE list_transform(range(0, len(w0) - 4),
       |                i -> array_to_string(list_slice(w0, i + 1, i + 5), ' ')) END
       |      AS sh
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w0 FROM $src)
       |), h AS (
       |  SELECT doc_id, list_transform(sh, s -> ${Sampling.keyHash60Sql("s")}) AS hs
       |  FROM d
       |), f AS (
       |  SELECT doc_id,
       |    list_transform(range(1, GREATEST(len(hs) - 3, 1) + 1),
       |      i -> list_min(list_slice(hs, i, i + 3))) AS fps
       |  FROM h
       |)
       |SELECT DISTINCT doc_id, unnest(fps) AS fingerprint FROM f""".stripMargin

  /** Shared oracle fragment: distinct word 3-gram shingles per doc over
    * the dup-injected corpus (mirrors Dedup.wordShingles exactly).
    */
  private val shinglesSql: String =
    """SELECT DISTINCT doc_id AS id, unnest(
      |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
      |         ELSE list_transform(range(0, len(w) - 2),
      |                i -> array_to_string(list_slice(w, i + 1, i + 3), ' ')) END
      |  ) AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)""".stripMargin

  /** DuckDB mirror of [[graft.functions.SketchKernels.md5Hash64]]: the
    * md5 hex digest's first 16 chars ARE its first 8 bytes big-endian.
    */
  private def md5Hash64Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 16) AS UBIGINT)"

  /** MinHash oracle: k=16 permutations (a_i = 2i+1, b_i = 104729(i+1))
    * over md5-derived shingle hashes mod the Mersenne prime, banded 8×2
    * with value-string bucket keys — generated from the same
    * [[Dedup.perm]] constants the Spark expression uses.
    */
  /** The sh/h/mh/bands CTE chain for one corpus source, CTE names
    * prefixed with `pfx` so two corpora coexist in a single statement
    * (the incremental-dedup oracle runs it for snapshot AND batch).
    * Shingles/permutations/banding mirror [[Dedup.bandBuckets]] in md5
    * mode exactly.
    */
  private def bandsCteSql(src: String, pfx: String): String = {
    val p = Dedup.MinHashPrime
    val bandRows = (0 until 8).map { b =>
      s"SELECT id, $b AS band, CAST(mh${2 * b} AS VARCHAR) || ':' || CAST(mh${2 * b + 1} AS VARCHAR) AS bucket FROM ${pfx}mh"
    }.mkString("\n  UNION ALL ")
    s"""${pfx}sh AS (
       |  SELECT DISTINCT doc_id AS id, unnest(
       |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
       |         ELSE list_transform(range(0, len(w) - 2),
       |                i -> array_to_string(list_slice(w, i + 1, i + 3), ' ')) END
       |  ) AS shingle
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $src)
       |),
       |${pfx}h AS (SELECT id, ${md5Hash64Sql("shingle")} % $p AS hv FROM ${pfx}sh),
       |${pfx}mh AS (SELECT id,
       |   ${(0 until 16).map { i =>
            val (a, b) = Dedup.perm(i)
            s"MIN((hv * $a + $b) % $p) AS mh$i"
          }.mkString(",\n       |   ")}
       | FROM ${pfx}h GROUP BY id),
       |${pfx}bands AS (
       |  $bandRows
       |)""".stripMargin
  }

  private def minHashCtesSql: String = {
    s"""corpus AS ($dupCorpusSql),
       |${bandsCteSql("corpus", "")},
       |cand AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id
       |)""".stripMargin
  }

  private def minHashOracleSql: String =
    s"""WITH $minHashCtesSql
       |SELECT id_a, id_b FROM cand""".stripMargin

  /** Sketch-only Jaccard estimate oracle: fraction of equal signature
    * components across the same 16 permutations.
    */
  private def minHashJaccardOracleSql: String = {
    val eq = (0 until 16)
      .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END")
      .mkString(" +\n       |   ")
    s"""WITH $minHashCtesSql
       |SELECT c.id_a, c.id_b,
       |  ($eq) / 16 AS est_jaccard
       |FROM cand c JOIN mh a ON c.id_a = a.id JOIN mh b ON c.id_b = b.id""".stripMargin
  }

  /** Shared SimHash signature CTEs: per-token md5-derived 64-bit
    * hashes, ±1 bit counters → per-doc UBIGINT signature `sig(id, s)`.
    */
  private def simHashSigCtesSql: String =
    s"""corpus AS ($dupCorpusSql),
       |tok AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS t FROM corpus),
       |th AS (SELECT id, ${md5Hash64Sql("t")} AS h FROM tok),
       |bits AS (
       |  SELECT id, i, SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS c
       |  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS i) g
       |  GROUP BY id, i
       |),
       |sig AS (
       |  SELECT id, COALESCE(bit_or(CASE WHEN c > 0 THEN CAST(1 AS UBIGINT) << i END),
       |                      CAST(0 AS UBIGINT)) AS s
       |  FROM bits GROUP BY id
       |)""".stripMargin

  /** SimHash oracle: signature CTEs + 4×16-bit chunk LSH join,
    * hamming ≤ 3 verify — all plain SQL over UBIGINT bit ops.
    */
  private def simHashOracleSql: String =
    s"""WITH $simHashSigCtesSql,
       |chunks AS (
       |  SELECT id, s, b AS chunk, (s >> (b * 16)) & 65535 AS key
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) g
       |),
       |pairs AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b, x.s AS sa, y.s AS sb
       |  FROM chunks x JOIN chunks y
       |    ON x.chunk = y.chunk AND x.key = y.key AND x.id < y.id
       |)
       |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
       |FROM pairs WHERE bit_count(xor(sa, sb)) <= 3""".stripMargin

  /** Sorted-neighborhood oracle: global unsigned-order rank over the
    * SimHash signatures, pairs at rank distance 1..w, hamming verify —
    * mirrors [[graft.functions.Dedup.sortedNeighborDups]]'s two-phase
    * rank exactly (UBIGINT ORDER BY = the Spark side's bucketed
    * unsigned order).
    */
  private def sortedNeighborOracleSql: String =
    s"""WITH $simHashSigCtesSql,
       |ranked AS (
       |  SELECT id, s, row_number() OVER (ORDER BY s, id) AS rn FROM sig
       |)
       |SELECT LEAST(x.id, y.id) AS id_a, GREATEST(x.id, y.id) AS id_b,
       |  CAST(y.rn - x.rn AS INT) AS rank_dist,
       |  CAST(bit_count(xor(x.s, y.s)) AS INT) AS hamming
       |FROM ranked x JOIN ranked y
       |  ON y.rn > x.rn AND y.rn <= x.rn + 4
       |WHERE bit_count(xor(x.s, y.s)) <= 3""".stripMargin

  /** Thresholds for the oracle-checked quality-rule query: the published
    * Gopher defaults tightened (word count 30–90, mean word length
    * 3.8–4.5, ≥1 stopword) so the synthetic corpus — 10–99 words, mean
    * word length 3.7–5.1 — splits on every data-dependent rule.
    */
  val TestQualityRules: TA.QualityRules = TA.QualityRules(
    minWords = 30, maxWords = 90,
    minMeanWordLen = 3.8, maxMeanWordLen = 4.5,
    minStopwords = 1)

  /** n-gram Jaccard pairs oracle, shared by dedup_ngram_pairs and (as the
    * edge source) dedup_clusters.
    */
  /** Shared CTE chain of the shingle-set pair oracles (mirrors
    * `Dedup.shinglePairStats` over the dup-injected corpus: distinct
    * df-capped 3-gram shingles, sizes, intersections).
    */
  private def shinglePairCtes: String =
        s"""WITH corpus AS ($dupCorpusSql),
           |sh0 AS (
           |  SELECT DISTINCT doc_id AS id, unnest(
           |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
           |         ELSE list_transform(range(0, len(w) - 2),
           |                i -> array_to_string(list_slice(w, i + 1, i + 3), ' ')) END
           |  ) AS shingle
           |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)
           |),
           |sh AS (
           |  SELECT id, shingle FROM (
           |    SELECT id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh0
           |  ) WHERE df <= 64
           |),
           |sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
           |inter AS (
           |  SELECT x.id AS id_a, y.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
           |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.id < y.id
           |  GROUP BY 1, 2
           |)""".stripMargin

  private def ngramPairsOracleSql: String =
        s"""$shinglePairCtes
           |SELECT id_a, id_b, n_common,
           |       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           |       CAST(n_common AS DOUBLE) / CAST(a.n + b.n - n_common AS DOUBLE) AS jaccard
           |FROM inter JOIN sizes a ON id_a = a.id JOIN sizes b ON id_b = b.id
           |WHERE CAST(n_common AS DOUBLE) / CAST(a.n + b.n - n_common AS DOUBLE) >= 0.5""".stripMargin

  private def containmentOracleSql: String =
        s"""$shinglePairCtes
           |SELECT id_a, id_b, n_common,
           |       CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           |       CAST(n_common AS DOUBLE) / CAST(a.n AS DOUBLE) AS containment_a,
           |       CAST(n_common AS DOUBLE) / CAST(b.n AS DOUBLE) AS containment_b
           |FROM inter JOIN sizes a ON id_a = a.id JOIN sizes b ON id_b = b.id
           |WHERE GREATEST(CAST(n_common AS DOUBLE) / CAST(a.n AS DOUBLE),
           |               CAST(n_common AS DOUBLE) / CAST(b.n AS DOUBLE)) >= 0.9""".stripMargin
}
