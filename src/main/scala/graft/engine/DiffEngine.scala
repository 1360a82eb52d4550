package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Classification => C, DiffOptions, RangeStats, TableSpec}

/** The diff dataflow, Spark-first.
  *
  * The reference hand-schedules this entire pipeline inside one Spark
  * `map()` lambda: a token-range key scan (DiffCluster.java:110-148), a
  * sorted-merge full-outer walk of the two key streams
  * (RangeComparator.java:73-199), a per-partition row zip-join
  * (PartitionComparator.java:51-84), null-safe cell comparison
  * (PartitionComparator.java:116-134) and a hand-rolled partial/final
  * counter reduce (RangeStats.java:157-178, DiffJob.java:172-184).
  *
  * Here the same semantics are one declarative plan:
  *
  * {{{
  *   src ─┐
  *        ├─ full_outer join on (pk ++ clustering)   // O4 + O5
  *   tgt ─┘        │
  *            per-row null-safe cell flags            // O6  (<=> per column)
  *                 │
  *        groupBy(pk): partition stats + class        // O7  (partial agg map-side)
  *                 │
  *        groupBy(bucket): counter rows               // O13 (≤ buckets rows)
  *                 │
  *        RangeStats.sum on the driver                // O8  (accumulate)
  * }}}
  *
  * Catalyst picks sort-merge for the big join, does map-side partial
  * aggregation before both shuffles, prunes columns to (keys ++ compared)
  * at the parquet scan, and AQE handles skewed partitions — all of which
  * the reference implements by hand or not at all.
  *
  * Scale notes (100 TB): the only wide shuffle is the join on the full
  * primary key; the `groupBy(pk)` that follows ships only pre-aggregated
  * per-partition counter rows (map-side combine), and the per-bucket
  * counter agg ships ≤ `buckets` rows, which the driver sums. No
  * driver-side iteration over data rows, no per-key point reads; the
  * digest ops collect only their ≤ `buckets` digest rows, which
  * [[BucketPlan]] decides from.
  */
object DiffEngine {

  /** Internal column names (prefixed to never collide with user columns).
    * Engine-private contract, shared with [[Repair]].
    */
  private[engine] val InSrc = "__in_src"
  private[engine] val InTgt = "__in_tgt"
  private[engine] def srcCol(c: String) = s"__src_$c"
  private[engine] def tgtCol(c: String) = s"__tgt_$c"
  private[engine] def matchCol(c: String) = s"__match_$c"

  /** Token of a partition key — the engine's unit of sharding/filtering.
    * The reference computes the Cassandra partitioner token server-side
    * (TokenHelper.java:24-68); over files we derive one. `xxhash64` is the
    * codegen'd default; tests / oracle queries can use an identity token on
    * a numeric pk for cross-engine reproducibility.
    */
  def defaultToken(pkCols: Seq[Column]): Column = xxhash64(pkCols: _*)

  def identityToken(pkCols: Seq[Column]): Column = pkCols.head.cast("long")

  /** Token function by configured partitioner name — the engine-side
    * mirror of the reference's TokenHelper.forPartitioner
    * (TokenHelper.java:24-40): both Cassandra partitioners plus the
    * engine's cheap file-source default and the oracle identity token.
    */
  def tokenFunction(name: String): Seq[Column] => Column = name match {
    case "xxhash64" => defaultToken
    case "murmur3" => graft.functions.CassandraMurmur3.tokenColumn
    case "random" => graft.functions.CassandraRandomPartitioner.tokenColumn
    case "identity" => identityToken
    case other => throw new IllegalArgumentException(
      s"unknown partitioner '$other' (expected xxhash64|murmur3|random|identity)")
  }

  /** O1: the "key scan" — distinct partition keys (+ token) of one side.
    * Catalyst pushes the projection to the parquet reader; `distinct` is a
    * partial-aggregated shuffle on pk.
    */
  def keyScan(df: DataFrame, spec: TableSpec,
      token: Seq[Column] => Column = defaultToken): DataFrame =
    df.select(spec.pk.map(col): _*).distinct()
      .withColumn("token", token(spec.pk.map(col)))

  /** O9 + O10: token accept/reject lists and deterministic sampling,
    * applied to a side *before* the join. Returns the filtered frame.
    * The skipped-partition count is produced by [[skippedPartitions]] so
    * it can be folded into the stats row exactly as the reference counts
    * skips inside its merge loop (RangeComparator.java:125-143).
    */
  def applyTokenFilters(df: DataFrame, spec: TableSpec, opts: DiffOptions,
      token: Seq[Column] => Column): DataFrame = {
    val tok = token(spec.pk.map(col))
    require(!isStringToken(df, tok) ||
      (opts.specificTokens.isEmpty && opts.disallowedTokens.isEmpty),
      "specific/disallowed token lists are numeric; a string-token " +
        "partitioner (random) cannot match them — filter by key instead")
    var out = df
    if (opts.specificTokens.nonEmpty)
      out = out.filter(tok.isin(opts.specificTokens: _*))
    if (opts.disallowedTokens.nonEmpty)
      out = out.filter(!tok.isin(opts.disallowedTokens: _*))
    if (opts.samplingEnabled)
      out = out.filter(sampledIn(df, tok, opts))
    out
  }

  /** Distinct partitions (across BOTH sides) rejected by the disallowed
    * list or the sampler — the reference's `skippedPartitions` counter
    * (RangeComparator.java:125-143: a key seen in either stream that fails
    * `SpecificTokens.test` or the sampler increments `skipped`).
    */
  def skippedPartitions(src: DataFrame, tgt: DataFrame, spec: TableSpec,
      opts: DiffOptions, token: Seq[Column] => Column): DataFrame = {
    val keys = keyScan(src, spec, token)
      .unionByName(keyScan(tgt, spec, token)).distinct()
    val tok = col("token")
    var rejected: Column = lit(false)
    if (opts.disallowedTokens.nonEmpty)
      rejected = rejected || tok.isin(opts.disallowedTokens: _*)
    if (opts.samplingEnabled)
      rejected = rejected || !sampledIn(keys, tok, opts)
    if (opts.specificTokens.nonEmpty)
      rejected = rejected && tok.isin(opts.specificTokens: _*)
    keys.filter(rejected)
  }

  /** [[skippedPartitions]] counted, or 0 without its dual key scan when
    * nothing filters tokens.
    */
  def skippedCount(src: DataFrame, tgt: DataFrame, spec: TableSpec,
      opts: DiffOptions, token: Seq[Column] => Column): Long =
    if (!opts.filtersTokens) 0L
    else skippedPartitions(src, tgt, spec, opts, token).count()

  /** Whether a token expression over `df` yields strings
    * (RandomPartitioner's 127-bit decimals) rather than numbers.
    */
  private def isStringToken(df: DataFrame, tok: Column): Boolean =
    df.select(tok.as("__t")).schema("__t").dataType ==
      org.apache.spark.sql.types.StringType

  /** A token as a number for modulus: numeric tokens as they are
    * (oracle-stable), string tokens hashed first — still deterministic
    * per key.
    */
  private def numericToken(df: DataFrame, tok: Column): Column =
    if (isStringToken(df, tok)) xxhash64(tok) else tok

  /** The deterministic sampler's keep predicate. */
  private def sampledIn(df: DataFrame, tok: Column, opts: DiffOptions): Column =
    pmod(numericToken(df, tok), lit(opts.samplingDen)) < lit(opts.samplingNum)

  /** O4 (partition-key level): full-outer join of the two key scans with
    * null-side classification — the reference's lock-step iterator merge
    * (RangeComparator.java:106-158) as a real join. Row-level detail is
    * [[rowLevel]]; this is the partition-presence view.
    *
    * Output: pk columns, token, classification ∈ {ONLY_IN_SOURCE,
    * ONLY_IN_TARGET, MATCHED} (MATCHED = present on both sides; value
    * equality is judged by [[partitionStats]]).
    */
  def keyDiff(src: DataFrame, tgt: DataFrame, spec: TableSpec,
      token: Seq[Column] => Column = defaultToken): DataFrame = {
    val s = keyScan(src, spec, token).withColumn(InSrc, lit(true))
    val t = keyScan(tgt, spec, token).drop("token").withColumn(InTgt, lit(true))
    s.join(t, spec.pk, "full_outer")
      .withColumn("token", token(spec.pk.map(col)))
      .withColumn("classification",
        when(col(InTgt).isNull, C.OnlyInSource)
          .when(col(InSrc).isNull, C.OnlyInTarget)
          .otherwise(C.Matched))
      .drop(InSrc, InTgt)
  }

  /** O5 + O6: the row-level diff. Full-outer join on the FULL primary key
    * (pk ++ clustering) — the reference's per-partition row zip-join
    * (PartitionComparator.java:51-84) generalized to all partitions at
    * once — plus one null-safe equality flag per regular column
    * (`<=>`, exactly the reference's null==null rule,
    * PartitionComparator.java:120-123).
    *
    * Output columns: primaryKey..., `__in_src`, `__in_tgt`,
    * `__src_c`/`__tgt_c`/`__match_c` per regular column c.
    */
  def rowLevel(src: DataFrame, tgt: DataFrame, spec0: TableSpec,
      reverseOccurrence: Boolean = false,
      tolerances: Map[String, Double] = Map.empty): DataFrame = {
    val spec = spec0.bind(src)
    spec.validateSides(src, tgt)
    val keys = spec.primaryKey :+ Occ
    val s = withOccurrence(src, spec, reverseOccurrence)
      .select(keys.map(col) ++ spec.regular.map(c => col(c).as(srcCol(c))): _*)
      .withColumn(InSrc, lit(true))
    val t = withOccurrence(tgt, spec, reverseOccurrence)
      .select(keys.map(col) ++ spec.regular.map(c => col(c).as(tgtCol(c))): _*)
      .withColumn(InTgt, lit(true))
    val joined = s.join(t, keys, "full_outer")
      .withColumn(InSrc, coalesce(col(InSrc), lit(false)))
      .withColumn(InTgt, coalesce(col(InTgt), lit(false)))
    spec.regular.foldLeft(joined) { (df, c) =>
      // tolerance match: |src − tgt| <= eps counts as matched (the
      // replica-drift mode the exact reference lacks — TTL'd floats,
      // lossy codecs). NULL semantics unchanged: null<=>null matched,
      // one-sided null mismatched. No tolerance → exact null-safe eq.
      val m = tolerances.get(c) match {
        case Some(eps) =>
          (col(srcCol(c)).isNull && col(tgtCol(c)).isNull) ||
            (col(srcCol(c)).isNotNull && col(tgtCol(c)).isNotNull &&
              abs(col(srcCol(c)).cast("double") -
                col(tgtCol(c)).cast("double")) <= lit(eps))
        case None => col(srcCol(c)) <=> col(tgtCol(c))
      }
      df.withColumn(matchCol(c), m)
    }
  }

  /** Duplicate-full-PK disambiguation. The reference zips a partition's
    * rows positionally in clustering order, so duplicate clustering keys
    * pair 1st-with-1st (storage order); a set-based join would instead
    * cross-product them (SURVEY §7.4 "must not dedupe"). We assign each
    * duplicate a deterministic occurrence index — row_number over the
    * full PK ordered by the regular columns (nulls first, same collation
    * rules as the SQL oracle) — and make it part of the row identity.
    * Identical sides therefore pair perfectly regardless of storage
    * order. Tables declaring `uniqueKey` skip the window (and its
    * shuffle) entirely.
    */
  private[engine] val Occ = "__occ"
  private[engine] def withOccurrence(df: DataFrame, spec: TableSpec,
      reverse: Boolean = false): DataFrame =
    if (spec.uniqueKey) df.withColumn(Occ, lit(1))
    else {
      import org.apache.spark.sql.expressions.Window
      val cols =
        if (spec.regular.nonEmpty) spec.regular else spec.primaryKey
      // reverse = the exact inverse collation (desc, nulls last) — the
      // reverse-read validation pass pairs duplicates from the other end
      val order =
        if (reverse) cols.map(c => col(c).desc_nulls_last)
        else cols.map(c => col(c).asc_nulls_first)
      df.withColumn(Occ, row_number().over(
        Window.partitionBy(spec.primaryKey.map(col): _*).orderBy(order: _*)))
    }

  /** O7: per-partition stats — the reference's `PartitionStats`
    * (PartitionStats.java:22-28) for every partition in one aggregation.
    *
    * Set-semantics note: the reference bails out of a partition at the
    * first clustering mismatch and stops accumulating counters
    * (PartitionComparator.java:67-69). A set-based engine reproduces the
    * final classification exactly; the partial counters of a mismatched
    * partition here reflect the WHOLE partition (documented difference,
    * SURVEY §7.4 — self-consistent with the SQL oracle).
    *
    * Output: pk..., in_src, in_tgt, matched_rows, rows_only_in_source,
    * rows_only_in_target, matched_values, mismatched_values,
    * classification, token.
    */
  def partitionStats(src: DataFrame, tgt: DataFrame, spec0: TableSpec,
      token: Seq[Column] => Column = defaultToken,
      reverseOccurrence: Boolean = false,
      tolerances: Map[String, Double] = Map.empty): DataFrame = {
    val spec = spec0.bind(src)
    val rl = rowLevel(src, tgt, spec, reverseOccurrence, tolerances)
    val bothHere = col(InSrc) && col(InTgt)
    val one = (c: Column) => sum(when(c, 1L).otherwise(0L))
    val valueMatches =
      if (spec.regular.isEmpty) lit(0L)
      else spec.regular.map(c => when(bothHere && col(matchCol(c)), 1L).otherwise(0L)).reduce(_ + _)
    val valueMismatches =
      if (spec.regular.isEmpty) lit(0L)
      else spec.regular.map(c => when(bothHere && !col(matchCol(c)), 1L).otherwise(0L)).reduce(_ + _)
    rl.groupBy(spec.pk.map(col): _*)
      .agg(
        max(col(InSrc)).as("in_src"),
        max(col(InTgt)).as("in_tgt"),
        one(bothHere).as("matched_rows"),
        one(col(InSrc) && !col(InTgt)).as("rows_only_in_source"),
        one(col(InTgt) && !col(InSrc)).as("rows_only_in_target"),
        sum(valueMatches).as("matched_values"),
        sum(valueMismatches).as("mismatched_values"))
      .withColumn("classification",
        when(!col("in_tgt"), C.OnlyInSource)
          .when(!col("in_src"), C.OnlyInTarget)
          .when(col("rows_only_in_source") + col("rows_only_in_target") > 0 ||
            col("mismatched_values") > 0, C.PartitionMismatch)
          .otherwise(C.Matched))
      .withColumn("token", token(spec.pk.map(col)))
  }

  /** O7, bit-exact fail-fast variant. The reference's PartitionComparator
    * walks a partition's two row streams POSITIONALLY in clustering order
    * and STOPS at the first position where the clustering keys differ or
    * one stream runs out: the partial counters cover only the prefix
    * before the divergence, and `allClusteringsMatch` records whether the
    * walk completed (PartitionComparator.java:60-83). [[partitionStats]]
    * keeps the documented set semantics (SURVEY §7.4) — same final
    * classification, whole-partition counters; this variant reproduces
    * the reference's prefix counters bit-for-bit for users who diff the
    * journals of both engines.
    *
    * Plan shape: one row_number window per side (shuffle on pk), a
    * full-outer positional zip join on (pk, pos) — its keys are a
    * superset of the windows' pk partitioning, so with
    * `spark.sql.requireAllClusterKeysForCoPartition=false` the exchange
    * is reused — then a window-min cutoff + groupBy(pk) on that same
    * partitioning. No driver iteration; the fail-fast "stop" is the
    * `pos < cutoff` predicate inside the aggregation.
    *
    * One-sided partitions report zero counters and
    * `all_clusterings_match=false` — the reference never runs a
    * comparator for them (their record comes from the key-level merge,
    * RangeComparator.java:115-123); filter on [[keyDiff]] classification
    * when exact parity for those rows matters.
    *
    * Output: pk..., in_src, in_tgt, all_clusterings_match, matched_rows,
    * matched_values, mismatched_values, token.
    */
  def orderedPartitionStats(src: DataFrame, tgt: DataFrame, spec0: TableSpec,
      token: Seq[Column] => Column = defaultToken): DataFrame = {
    val spec = spec0.bind(src)
    spec.validateSides(src, tgt)
    import org.apache.spark.sql.expressions.Window
    val pos = "__pos"
    // deterministic walk order: clustering columns, then regular columns
    // as a tie-break for duplicate clusterings (the reference walks
    // storage order, which files do not preserve — same collation choice
    // as withOccurrence, mirrored in the SQL oracle); a pk-only table has
    // nothing to order by — its rows are indistinguishable — but
    // row_number still needs SOME ordering, so fall back to the pk
    val ord0 = spec.clustering ++ spec.regular
    val orderCols = (if (ord0.nonEmpty) ord0 else spec.pk).map(c => col(c).asc_nulls_first)
    def ranked(df: DataFrame, pfx: String => String): DataFrame =
      df.withColumn(pos, row_number().over(
          Window.partitionBy(spec.pk.map(col): _*).orderBy(orderCols: _*)))
        .select(spec.pk.map(col) ++ (col(pos) +:
          (spec.clustering ++ spec.regular).map(c => col(c).as(pfx(c)))): _*)
    val s = ranked(src, srcCol).withColumn(InSrc, lit(true))
    val t = ranked(tgt, tgtCol).withColumn(InTgt, lit(true))
    val j = s.join(t, spec.pk :+ pos, "full_outer")
      .withColumn(InSrc, coalesce(col(InSrc), lit(false)))
      .withColumn(InTgt, coalesce(col(InTgt), lit(false)))
    // a position survives the walk iff both rows exist and every
    // clustering key agrees (null==null agrees: PartitionComparator
    // clusteringsEqual, :102-114)
    val clOk = spec.clustering.map(c => col(srcCol(c)) <=> col(tgtCol(c)))
      .foldLeft(col(InSrc) && col(InTgt))(_ && _)
    val valueMatches =
      if (spec.regular.isEmpty) lit(0L)
      else spec.regular.map(c =>
        when(col(srcCol(c)) <=> col(tgtCol(c)), 1L).otherwise(0L)).reduce(_ + _)
    val valueMismatches =
      if (spec.regular.isEmpty) lit(0L)
      else spec.regular.map(c =>
        when(col(srcCol(c)) <=> col(tgtCol(c)), 0L).otherwise(1L)).reduce(_ + _)
    // reduce every per-position flag/counter BEFORE the post-join
    // exchange: a full-outer join has unknown output partitioning, so
    // the cutoff window must re-shuffle on pk — projecting first means
    // that exchange ships 7 scalar columns instead of both sides' full
    // payloads
    val flagged = j.select(spec.pk.map(col) ++ Seq(
      col(pos), col(InSrc), col(InTgt), clOk.as("__cl_ok"),
      valueMatches.as("__mv"), valueMismatches.as("__mm")): _*)
    val wPk = Window.partitionBy(spec.pk.map(col): _*)
    val cut = flagged
      .withColumn("__cutoff", min(when(!col("__cl_ok"), col(pos))).over(wPk))
    val inPrefix = col("__cutoff").isNull || col(pos) < col("__cutoff")
    val one = (c: Column) => sum(when(c, 1L).otherwise(0L))
    cut.groupBy(spec.pk.map(col): _*)
      .agg(
        max(col(InSrc)).as("in_src"),
        max(col(InTgt)).as("in_tgt"),
        min(col("__cutoff")).as("__c"),
        one(inPrefix).as("matched_rows"),
        sum(when(inPrefix, col("__mv")).otherwise(0L)).as("matched_values"),
        sum(when(inPrefix, col("__mm")).otherwise(0L)).as("mismatched_values"))
      .withColumn("all_clusterings_match", col("__c").isNull)
      .drop("__c")
      .select(spec.pk.map(col) ++ Seq(col("in_src"), col("in_tgt"),
        col("all_clusterings_match"), col("matched_rows"),
        col("matched_values"), col("mismatched_values")): _*)
      .withColumn("token", token(spec.pk.map(col)))
  }

  /** O8: the table's RangeStats (RangeStats.java:29-198) as one row of
    * [[RangeStats.RowSchema]]: its per-bucket counter rows
    * ([[bucketStats]]), collected and summed by [[RangeStats.sum]] as the
    * runner sums its journal, plus the skipped count.
    *
    * Rows/values of one-sided partitions are not counted — the reference
    * never runs a PartitionComparator for them (RangeComparator.java:115-123).
    */
  def rangeStats(src: DataFrame, tgt: DataFrame, spec: TableSpec,
      opts: DiffOptions = DiffOptions(),
      token: Seq[Column] => Column = defaultToken,
      tolerances: Map[String, Double] = Map.empty): DataFrame = {
    val (_, counters) = bucketStats(applyTokenFilters(src, spec, opts, token),
      applyTokenFilters(tgt, spec, opts, token), spec, BucketPlan.All,
      opts.buckets, token, tolerances)
    statsRow(counters, spec, skippedCount(src, tgt, spec, opts, token))
  }

  /** One table's diff under `plan`: the partitionStats of both sides
    * restricted by the plan, and the table's per-bucket counter rows —
    * [[bucketProgressFromPartitions]] of those stats plus the rows the
    * plan journals without a join ([[BucketPlan.counterRows]]). The
    * runner journals the counter rows; the stats queries sum them.
    */
  def bucketStats(src: DataFrame, tgt: DataFrame, spec: TableSpec,
      plan: BucketPlan, buckets: Int, token: Seq[Column] => Column,
      tolerances: Map[String, Double] = Map.empty): (DataFrame, DataFrame) = {
    def restrict(df: DataFrame) = plan.restrict(df, spec, buckets, token)
    val ps = partitionStats(restrict(src), restrict(tgt), spec, token,
      tolerances = tolerances)
    val progress = bucketProgressFromPartitions(ps, spec, buckets)
    (ps, progress.unionByName(src.sparkSession.createDataFrame(
      plan.counterRows(spec.table).asJava, progress.schema)))
  }

  /** [[RangeStats.sum]] of `counters`, at most `buckets` rows, and
    * `skipped`, as `spec`'s one stats row.
    */
  private def statsRow(counters: DataFrame, spec: TableSpec,
      skipped: Long): DataFrame =
    counters.sparkSession.createDataFrame(Seq(RangeStats.sum(
      counters.collect(), skipped).toRow(spec.table)).asJava, RangeStats.RowSchema)

  /** Aggregate sums of [[RangeStats.Counters]] over counter rows; 0 over
    * no rows.
    */
  val counterSums: Seq[Column] =
    RangeStats.Counters.map(c => coalesce(sum(col(c)), lit(0L)).as(c))

  /** One partitionStats row as its [[RangeStats.Counters]] contribution. */
  private def partitionCounters: Seq[Column] = {
    val both = col("in_src") && col("in_tgt")
    def is(cls: String) = when(col("classification") === cls, 1L).otherwise(0L)
    def ifBoth(c: String) = when(both, col(c)).otherwise(0L)
    Seq(is(C.Matched), is(C.PartitionMismatch), is(C.OnlyInSource),
      is(C.OnlyInTarget), ifBoth("matched_rows"), ifBoth("matched_values"),
      ifBoth("mismatched_values")).zip(RangeStats.Counters).map { case (e, n) => e.as(n) }
  }

  /** [[mismatches]] over a precomputed partitionStats frame. */
  def mismatchesFromPartitions(ps: DataFrame, spec: TableSpec, buckets: Int): DataFrame =
    ps.filter(col("classification") =!= C.Matched)
      .withColumn("table_name", lit(spec.table))
      .withColumn("bucket", bucketOf(ps, col("token"), buckets))
      .select(Seq(col("table_name"), col("bucket"), col("token"),
        col("classification").as("mismatch_type")) ++ spec.pk.map(col): _*)

  /** [[bucketProgress]] over a precomputed partitionStats frame. */
  def bucketProgressFromPartitions(ps: DataFrame, spec: TableSpec, buckets: Int): DataFrame =
    ps.select(bucketOf(ps, col("token"), buckets).as("bucket") +: col("token") +:
        partitionCounters: _*)
      .groupBy(col("bucket"))
      .agg(counterSums.head, counterSums.tail :+ max(col("token")).as("last_token"): _*)
      .withColumn("table_name", lit(spec.table))

  /** O14: the mismatch sink — every non-MATCHED partition as a journal row
    * `(table, token, pk..., mismatch_type)` (MismatchType.java:22-28;
    * recorded at RangeComparator.java:201-209, 224-226). The reference
    * writes these to Cassandra one CQL insert at a time; here the
    * classified frame IS the sink — write it wherever wanted.
    */
  def mismatches(src: DataFrame, tgt: DataFrame, spec: TableSpec,
      opts: DiffOptions = DiffOptions(),
      token: Seq[Column] => Column = defaultToken): DataFrame = {
    val fs = applyTokenFilters(src, spec, opts, token)
    val ft = applyTokenFilters(tgt, spec, opts, token)
    mismatchesFromPartitions(partitionStats(fs, ft, spec, token), spec, opts.buckets)
  }

  /** O11/O13: journal-sharding bucket of a token — the reference's
    * `bucket = splitNumber % numBuckets` (DiffJob.java:245-267) re-keyed
    * to the partition token so it is stable across any partitioning.
    * The engine's one bucket rule: `token` is an expression over `df`;
    * numeric tokens keep the reference's plain modulus (oracle-stable),
    * string tokens (RandomPartitioner's 127-bit decimals) hash first.
    * Journal buckets, digest buckets and bucket restrictions all use it,
    * so they always agree.
    */
  def bucketOf(df: DataFrame, token: Column, buckets: Int): Column =
    pmod(numericToken(df, token), lit(buckets))

  /** O13: per-bucket progress — running stats + highest completed token
    * per (table, bucket), the reference's checkpoint row
    * (RangeComparator.java:231-241, JobMetadataDb.java:292-315).
    */
  def bucketProgress(src: DataFrame, tgt: DataFrame, spec: TableSpec,
      opts: DiffOptions = DiffOptions(),
      token: Seq[Column] => Column = defaultToken): DataFrame =
    bucketProgressFromPartitions(partitionStats(src, tgt, spec, token), spec, opts.buckets)

  /** O3: reverse-order read validation. The reference re-reads a sampled
    * partition with all clustering orders flipped and re-compares
    * (DiffCluster.java:253-274); the observable result is the partition's
    * rows in reverse clustering order. Expressed as a window rank over
    * descending clustering — used by the validation-mode query and tests.
    */
  def reverseRead(df: DataFrame, spec: TableSpec): DataFrame = {
    require(spec.clustering.nonEmpty, "reverse read needs clustering columns (DiffCluster.java:253-257)")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(spec.pk.map(col): _*)
      .orderBy(spec.clustering.map(c => col(c).desc): _*)
    df.withColumn("rev_rank", row_number().over(w))
  }

  /** O3 wired end-to-end: the sampled reverse-read validation pass the
    * reference runs per partition (DiffContext.java:54-57 gates it with
    * `reverse_read_probability`; DiffCluster.java:253-274 re-reads the
    * partition with clustering order flipped and re-compares). Here the
    * per-partition outcome that is genuinely order-sensitive is the
    * duplicate-full-PK occurrence pairing, so the reverse pass re-runs the
    * diff pairing duplicates from the other end and requires every
    * per-partition counter AND the classification to agree with the
    * forward pass.
    *
    * Sampling is deterministic (`pmod(xxhash64(pk), 1000) < p*1000`) so a
    * re-run validates the same partitions — the reference's coin flip is
    * not reproducible across runs, a journaling defect we do not copy.
    *
    * Output: one row per sampled partition — pk..., token, the six
    * forward/reverse stat columns prefixed fwd_/rev_, and `agree`.
    */
  def reverseValidation(src: DataFrame, tgt: DataFrame, spec0: TableSpec,
      probability: Double,
      token: Seq[Column] => Column = defaultToken): DataFrame = {
    require(probability >= 0.0 && probability <= 1.0,
      "reverse_read_probability must be in [0, 1]")
    val spec = spec0.bind(src)
    val thresh = math.round(probability * 1000).toInt
    def sampled(df: DataFrame): DataFrame =
      df.filter(pmod(xxhash64(spec.pk.map(col): _*), lit(1000)) < lit(thresh))
    val fs = sampled(src)
    val ft = sampled(tgt)
    val statCols = Seq("matched_rows", "rows_only_in_source",
      "rows_only_in_target", "matched_values", "mismatched_values",
      "classification")
    val fwd = partitionStats(fs, ft, spec, token)
      .select(spec.pk.map(col) ++ (col("token") +:
        statCols.map(c => col(c).as(s"fwd_$c"))): _*)
    val rev = partitionStats(fs, ft, spec, token, reverseOccurrence = true)
      .select(spec.pk.map(col) ++ statCols.map(c => col(c).as(s"rev_$c")): _*)
    fwd.join(rev, spec.pk)
      .withColumn("agree",
        statCols.map(c => col(s"fwd_$c") <=> col(s"rev_$c")).reduce(_ && _))
  }

  // ─── Merkle-style digest prefilter ────────────────────────────────────
  //
  // The reference compares every row of every partition on every run; its
  // ecosystem's own repair path (Cassandra validation compaction) knows
  // better: exchange compact per-range digests first and stream data only
  // for ranges whose digests disagree. The same idea drops straight into
  // the diff engine as two aggregations and a semi join, and it is THE
  // 100 TB lever: on a mostly-matching corpus the full-PK sort-merge join
  // — the engine's only wide shuffle — runs over the few dirty buckets
  // instead of everything. Phase 1 is a pure scan + map-side partial
  // aggregate whose shuffle is `buckets` rows per side, regardless of
  // data size.
  //
  // Every digest op below is a composition of four pieces: [[sideDigest]]
  // (one side's per-bucket aggregate), [[digestMatch]] (the verdict),
  // [[BucketPlan]] (the driver-side decision over the collected digest
  // rows) and [[restrictBuckets]] (the broadcast bucket filter).

  /** Order-independent full-row content hash. Each column is hashed
    * separately with its ordinal as a leading seed and the per-column
    * hashes are hashed together: unlike a single flat
    * `xxhash64(c0, c1, …)` — which skips NULL inputs entirely, so
    * (NULL, x) and (x, NULL) collide for same-typed neighbors — a NULL
    * column here still contributes its position-distinct H(i), keeping
    * shifted-value rows distinct. Everything stays codegen'd.
    */
  def rowContentHash(spec: TableSpec): Column = {
    val cols = spec.primaryKey ++ spec.regular
    xxhash64(cols.zipWithIndex.map { case (c, i) =>
      xxhash64(lit(i), col(c)) }: _*)
  }

  /** The digest of a bucket: row count, wrap-free decimal sum and xor of
    * the row content hash.
    */
  private val DigestFields = Seq("rows", "sum", "xor")

  /** Phase 1: per-bucket digest of one side — `(bucket, rows, sum, xor,
    * extra…)`. Sum (multiset-faithful) + xor + count together make an
    * accidental digest collision on differing buckets a ~2⁻¹²⁸ event; the
    * `diff_digest_buckets` oracle cross-checks the verdict against a
    * DuckDB multiset comparison on every run. The groupBy partial-
    * aggregates map-side, so the shuffle ships at most `buckets` rows.
    * `extra` aggregates may read the pk columns and the row's token as
    * `__tok`.
    */
  private def sideDigest(df: DataFrame, spec0: TableSpec, buckets: Int,
      token: Seq[Column] => Column, extra: Seq[Column] = Nil): DataFrame = {
    require(buckets > 0, s"digest buckets must be positive, got $buckets")
    val spec = spec0.bind(df)
    val tok = token(spec.pk.map(col))
    df.select(bucketOf(df, tok, buckets).as("bucket") +: tok.as("__tok") +:
        spec.pk.map(col) :+ rowContentHash(spec).as("__h"): _*)
      .groupBy("bucket")
      .agg(count(lit(1)).as("rows"),
        sum(col("__h").cast("decimal(38,0)")).as("sum") +:
          bit_xor(col("__h")).as("xor") +: extra: _*)
  }

  /** Side-by-side per-bucket digests of BOTH sides — the journalable
    * unit of [[incrementalDiff]]: `(bucket, src_rows, src_sum, src_xor,
    * tgt_rows, tgt_sum, tgt_xor)`, one row per bucket seen on either
    * side (absent side reads null), plus the `srcExtra` aggregates of the
    * source side, prefixed `src_`. Persist this frame with a run's
    * journal and the next run can prove per-bucket that NOTHING changed
    * on either side since — something the reference's per-token resume
    * watermark (JobMetadataDb.java:292-315) cannot express.
    */
  def sideDigests(src: DataFrame, tgt: DataFrame, spec: TableSpec,
      buckets: Int, token: Seq[Column] => Column = defaultToken,
      srcExtra: Seq[Column] = Nil): DataFrame = {
    def side(df: DataFrame, name: String, extra: Seq[Column]) = {
      val d = sideDigest(df, spec, buckets, token, extra)
      d.select(col("bucket") +: d.columns.tail.map(c => col(c).as(s"${name}_$c")): _*)
    }
    side(src, "src", srcExtra).join(side(tgt, "tgt", Nil), Seq("bucket"), "full_outer")
  }

  /** The digest verdict over a `src_`/`tgt_` digest row: every field
    * null-safe equal, so a bucket present on one side only is a mismatch
    * by construction.
    */
  private def digestMatch: Column =
    DigestFields.map(f => col(s"src_$f") <=> col(s"tgt_$f")).reduce(_ && _)

  /** `df` restricted by a broadcast join of each row's bucket against
    * `bucketIds`: `left_semi` keeps the listed buckets, `left_anti` drops
    * them. The ids are driver-side, at most `buckets` of them, so the
    * build side is a local relation that broadcasts without a job, and
    * the rows of every other bucket are shed before any shuffle.
    */
  def restrictBuckets(df: DataFrame, spec: TableSpec, buckets: Int,
      token: Seq[Column] => Column, bucketIds: Iterable[Long],
      how: String): DataFrame = {
    require(how == "left_semi" || how == "left_anti",
      s"bucket restriction is left_semi or left_anti, got $how")
    import df.sparkSession.implicits._
    val ids = bucketIds.toSeq.toDF("__bucket_id")
    df.join(broadcast(ids),
      bucketOf(df, token(spec.pk.map(col)), buckets) === col("__bucket_id"), how)
  }

  /** Per-bucket digest comparison: `(bucket, src_rows, tgt_rows,
    * digest_match)`.
    */
  def digestCompare(src: DataFrame, tgt: DataFrame, spec: TableSpec,
      buckets: Int, token: Seq[Column] => Column = defaultToken): DataFrame =
    sideDigests(src, tgt, spec, buckets, token).select(col("bucket"),
      coalesce(col("src_rows"), lit(0L)).as("src_rows"),
      coalesce(col("tgt_rows"), lit(0L)).as("tgt_rows"),
      digestMatch.as("digest_match"))

  /** Phase 2: the full mismatch diff restricted to dirty buckets. The
    * dirty-bucket set (≤ `digestBuckets` rows of one long) broadcasts as
    * a semi-join filter on each side, so the second scan sheds every row
    * of every clean bucket BEFORE the full-PK shuffle. Size
    * `digestBuckets` so a bucket is a unit of re-work: ~10⁵-10⁶ at
    * 100 TB keeps buckets at tens-of-MB granularity while the phase-1
    * shuffle stays a few MB. Output and semantics are identical to
    * [[mismatches]] — every mismatched partition lives in a bucket whose
    * digest necessarily disagrees — which is exactly what the
    * `diff_digest_mismatches` oracle asserts. The phase-1 verdicts are
    * collected once, and [[BucketPlan]] picks the dirty set.
    */
  def digestDiff(src: DataFrame, tgt: DataFrame, spec0: TableSpec,
      opts: DiffOptions = DiffOptions(), digestBuckets: Int = 4096,
      token: Seq[Column] => Column = defaultToken): DataFrame = {
    val spec = spec0.bind(src)
    val plan = BucketPlan.decide(BucketPlan.byBucket(
      digestCompare(src, tgt, spec, digestBuckets, token)), digestFirst = true)
    def restrict(df: DataFrame) = plan.restrict(df, spec, digestBuckets, token)
    mismatches(restrict(src), restrict(tgt), spec, opts, token)
  }

  /** Two-level Merkle digest tree: roll the per-bucket digests up into
    * `buckets / fanout` super-nodes (counts and decimal sums ADD, xors
    * XOR — the digest algebra is associative, so a super digest equals
    * the digest of its rows), compare at the super level first, and
    * descend to bucket-level verdicts ONLY under mismatching supers —
    * the anti-entropy narrowing a Cassandra repair runs over its Merkle
    * trees (reference: the per-range digest idea of
    * cassandra-diff's planned prefilter, generalized one level up).
    * A clean super prunes `fanout` bucket comparisons in one verdict;
    * at 100 TB the tree levels are pure aggregations over the ≤
    * `buckets`-row digest frames, so narrowing costs nothing compared
    * to the data scans that produced the leaves.
    *
    * Same collision contract as the flat digests (a cross-side
    * difference invisible to count+sum+xor at super scope is a ~2⁻¹²⁸
    * event); the oracle recomputes every verdict from first-principles
    * multiset comparison, so a collision would trip the gate.
    *
    * Output: `(level, node, src_rows, tgt_rows, digest_match)` —
    * level 0 = all supers, level 1 = buckets under dirty supers only.
    */
  def digestTree(src: DataFrame, tgt: DataFrame, spec0: TableSpec,
      buckets: Int = 64, fanout: Int = 8,
      token: Seq[Column] => Column = defaultToken): DataFrame = {
    require(fanout >= 2 && buckets % fanout == 0,
      "buckets must be a positive multiple of fanout")
    val spec = spec0.bind(src)
    // ≤ buckets rows, collected once and read by both levels. A side's
    // absent bucket reads null, which sum and bit_xor skip — so rolling
    // the joined leaves equals joining the rolled sides.
    val d = sideDigests(src, tgt, spec, buckets, token)
    val leaves = src.sparkSession.createDataFrame(d.collect().toSeq.asJava, d.schema)
    def verdicts(df: DataFrame, level: Int) = df.select(lit(level).as("level"),
      col("bucket").as("node"), coalesce(col("src_rows"), lit(0L)).as("src_rows"),
      coalesce(col("tgt_rows"), lit(0L)).as("tgt_rows"),
      digestMatch.as("digest_match"))
    val roll = DigestCols.map { c =>
      (if (c.endsWith("_xor")) bit_xor(col(c)) else sum(col(c))).as(c) }
    val supers = leaves.groupBy(expr(s"bucket DIV $fanout").as("bucket"))
      .agg(roll.head, roll.tail: _*)
    // the descent: the leaves under the supers whose digests disagree
    val dirty = BucketPlan.decide(BucketPlan.byBucket(
      supers.withColumn("digest_match", digestMatch)), digestFirst = true).dirty
    verdicts(supers, 0).unionByName(verdicts(leaves, 1)
      .filter(expr(s"bucket DIV $fanout").isin(dirty: _*)))
  }

  /** The [[sideDigests]] payload columns, which [[digestProgress]] rows
    * carry too — the full set a bucket must match null-safely to count
    * as unchanged across runs ([[BucketPlan.decide]]).
    */
  val DigestCols: Seq[String] =
    for (side <- Seq("src", "tgt"); f <- DigestFields) yield s"${side}_$f"

  /** Cross-RUN incremental diff. Given the previous run's
    * [[sideDigests]] frame and its mismatch journal, re-diffs ONLY the
    * buckets whose digest rows changed on either side since that run —
    * for unchanged buckets the previous mismatch rows are replayed
    * verbatim (same inputs ⇒ same diff). At 100 TB with a slowly-
    * mutating corpus this turns re-verification cost from
    * O(total data) into O(changed data) + two digest scans.
    *
    * A bucket counts as unchanged only when present in BOTH frames with
    * every digest field null-safe equal; buckets new, gone, or touched
    * on either side all take the fresh path (a gone bucket has no
    * current rows, so its fresh diff is correctly empty). Both digest
    * frames are collected once and [[BucketPlan]] takes the unchanged
    * set as its skip set: its broadcast anti join restricts the fresh
    * diff, a semi join (on the mismatch row's token) selects the replay.
    */
  def incrementalDiff(src: DataFrame, tgt: DataFrame, spec0: TableSpec,
      priorDigests: DataFrame, priorMismatches: DataFrame,
      opts: DiffOptions = DiffOptions(), digestBuckets: Int = 4096,
      token: Seq[Column] => Column = defaultToken): DataFrame = {
    val spec = spec0.bind(src)
    val plan = BucketPlan.decide(BucketPlan.byBucket(
        sideDigests(src, tgt, spec, digestBuckets, token)),
      priorDigests = Some(BucketPlan.byBucket(priorDigests)))
    def fresh(df: DataFrame) = plan.restrict(df, spec, digestBuckets, token)
    val replay = restrictBuckets(priorMismatches, spec, digestBuckets,
      _ => col("token"), plan.skip, "left_semi")
    mismatches(fresh(src), fresh(tgt), spec, opts, token).unionByName(replay)
  }

  /** Single-run digest prefilter at the JOURNAL bucket granularity — the
    * runner-facing cut of [[digestRangeStats]]. One row per bucket seen on
    * either side: `(bucket, digest_match, <Counters>, last_token,
    * <DigestCols>, table_name)`. The counters and `last_token` are the
    * phase-1 arithmetic progress a CLEAN bucket journals directly (every
    * partition matched, so matched_partitions = distinct-pk count,
    * matched_rows = rows, matched_values = rows × |regular|, last_token
    * from the digest aggregate) — [[BucketPlan.counterRows]] journals a
    * clean bucket's row as its task_status credit, and the wide diff is
    * restricted to the dirty set; the [[DigestCols]] are both sides'
    * digests, so the same rows serve an incremental run as
    * [[sideDigests]] would. Counters are only meaningful where
    * `digest_match`; dirty buckets re-run the full join. The shuffle here is ≤ 2 × `buckets` narrow rows (map-side
    * partial aggregation) — on a mostly-matching 100 TB corpus this is
    * what turns the journaling entry point's wide join into O(dirty
    * fraction).
    */
  def digestProgress(src: DataFrame, tgt: DataFrame, spec0: TableSpec,
      buckets: Int, token: Seq[Column] => Column = defaultToken): DataFrame = {
    val spec = spec0.bind(src)
    val rows = coalesce(col("src_rows"), lit(0L))
    val credit = Map(
      "matched_partitions" -> coalesce(col("src_parts"), lit(0L)),
      "matched_rows" -> rows,
      "matched_values" -> rows * lit(spec.regular.size.toLong))
    sideDigests(src, tgt, spec, buckets, token, Seq(
        countDistinct(spec.pk.head, spec.pk.tail: _*).as("parts"),
        max(col("__tok")).as("last_token")))
      .select(Seq(col("bucket"), digestMatch.as("digest_match")) ++
        RangeStats.Counters.map(c => credit.getOrElse(c, lit(0L)).as(c)) ++
        (col("src_last_token").as("last_token") +: DigestCols.map(col)): _*)
      .withColumn("table_name", lit(spec.table))
  }

  /** [[rangeStats]] through the digest prefilter — the headline query's
    * 100 TB shape, and the runner's with `digestFirst`. Clean buckets
    * never reach the join: their counter rows are the [[digestProgress]]
    * credit (every partition matched, every row matched, every value
    * matched — `rows × |regular|`), with the per-bucket distinct-pk count
    * carried by phase 1. Only dirty buckets run [[partitionStats]]. The
    * result is bit-identical to [[rangeStats]] (same oracle), but on a
    * mostly-matching corpus the wide shuffle shrinks to the dirty
    * fraction; the extra cost is the phase-1 distinct-pk partial
    * aggregate, which ships one narrow row per partition instead of
    * every data row with payloads. The phase-1 rows are collected once:
    * [[BucketPlan]] splits them into the clean credit and the dirty set,
    * and [[bucketStats]] joins only the dirty buckets.
    */
  def digestRangeStats(src: DataFrame, tgt: DataFrame, spec0: TableSpec,
      opts: DiffOptions = DiffOptions(), digestBuckets: Int = 4096,
      token: Seq[Column] => Column = defaultToken): DataFrame = {
    val spec = spec0.bind(src)
    spec.validateSides(src, tgt)
    val fs = applyTokenFilters(src, spec, opts, token)
    val ft = applyTokenFilters(tgt, spec, opts, token)
    val plan = BucketPlan.decide(BucketPlan.byBucket(
      digestProgress(fs, ft, spec, digestBuckets, token)), digestFirst = true)
    val (_, counters) = bucketStats(fs, ft, spec, plan, digestBuckets, token)
    statsRow(counters, spec, skippedCount(src, tgt, spec, opts, token))
  }

  /** THREE-replica reconciliation — the N-way extension of the 2-way
    * diff the reference runs (reference semantics: cassandra-diff
    * compares exactly two clusters; operators with 3+ replicas run it
    * pairwise and reconcile by hand). One pass classifies every key
    * across source A and replicas B, C into the repair-decision
    * categories: `consistent`, `b_divergent` / `c_divergent` (one
    * replica drifted — repair that replica from the agreeing pair),
    * `replicas_agree_source_differs` (B=C≠A — the SOURCE is the odd
    * one out, the "stale snapshot" signal a pairwise diff cannot
    * express), `conflict` (three distinct row versions), and the six
    * presence categories (missing/only per side).
    *
    * Comparison is null-safe column equality (`<=>`), never hashes —
    * bit-identical verdicts in the DuckDB oracle via IS NOT DISTINCT
    * FROM. Scale shape: two full-outer joins on the primary key (the
    * same exchange reused — all three sides shuffle on the key once),
    * then one partial-aggregating count on the ≤10-row category key.
    */
  def threeWayDiff(a: DataFrame, b: DataFrame, c: DataFrame,
      spec0: TableSpec): DataFrame = {
    val spec = spec0.bind(a)
    val key = spec.primaryKey
    def tag(df: DataFrame, p: String) =
      df.select(key.map(col) ++
        spec.regular.map(cn => col(cn).as(p + cn)) :+
        lit(true).as(p + "present"): _*)
    val j = tag(a, "a_").join(tag(b, "b_"), key, "full_outer")
      .join(tag(c, "c_"), key, "full_outer")
    val pa = coalesce(col("a_present"), lit(false))
    val pb = coalesce(col("b_present"), lit(false))
    val pc = coalesce(col("c_present"), lit(false))
    def eq(p1: String, p2: String) =
      spec.regular.map(cn => col(p1 + cn) <=> col(p2 + cn)).reduce(_ && _)
    val ab = eq("a_", "b_"); val ac = eq("a_", "c_"); val bc = eq("b_", "c_")
    val cat = when(pa && pb && pc,
        when(ab && ac, "consistent")
          .when(ab && !ac, "c_divergent")
          .when(!ab && ac, "b_divergent")
          .when(bc, "replicas_agree_source_differs")
          .otherwise("conflict"))
      .when(pa && pb, "missing_in_c")
      .when(pa && pc, "missing_in_b")
      .when(pb && pc, "missing_in_source")
      .when(pa, "only_in_source")
      .when(pb, "only_in_b")
      .otherwise("only_in_c")
    j.groupBy(cat.as("category")).agg(count(lit(1)).as("n_keys"))
  }

  /** DuckDB mirror of [[threeWayDiff]]: same tagged full joins, same
    * IS NOT DISTINCT FROM verdicts, same category ladder. Each side is
    * a full SELECT over the table's columns.
    */
  def threeWayDiffSql(aSql: String, bSql: String, cSql: String,
      spec: TableSpec): String = {
    val key = spec.primaryKey.mkString(", ")
    def tag(p: String) = spec.regular
      .map(cn => s"$cn AS $p$cn").mkString(", ")
    def eq(p1: String, p2: String) = spec.regular
      .map(cn => s"($p1$cn IS NOT DISTINCT FROM $p2$cn)")
      .mkString("(", " AND ", ")")
    val (ab, ac, bc) = (eq("a_", "b_"), eq("a_", "c_"), eq("b_", "c_"))
    s"""WITH ta AS (SELECT ${spec.primaryKey.mkString(", ")}, ${tag("a_")},
       |            TRUE AS a_present FROM ($aSql)),
       |tb AS (SELECT ${spec.primaryKey.mkString(", ")}, ${tag("b_")},
       |       TRUE AS b_present FROM ($bSql)),
       |tc AS (SELECT ${spec.primaryKey.mkString(", ")}, ${tag("c_")},
       |       TRUE AS c_present FROM ($cSql)),
       |j AS (SELECT * FROM ta
       |      FULL JOIN tb USING ($key)
       |      FULL JOIN tc USING ($key)),
       |cls AS (
       |  SELECT CASE
       |    WHEN COALESCE(a_present, FALSE) AND COALESCE(b_present, FALSE)
       |         AND COALESCE(c_present, FALSE) THEN
       |      CASE WHEN $ab AND $ac THEN 'consistent'
       |           WHEN $ab AND NOT $ac THEN 'c_divergent'
       |           WHEN NOT $ab AND $ac THEN 'b_divergent'
       |           WHEN $bc THEN 'replicas_agree_source_differs'
       |           ELSE 'conflict' END
       |    WHEN COALESCE(a_present, FALSE) AND COALESCE(b_present, FALSE)
       |      THEN 'missing_in_c'
       |    WHEN COALESCE(a_present, FALSE) AND COALESCE(c_present, FALSE)
       |      THEN 'missing_in_b'
       |    WHEN COALESCE(b_present, FALSE) AND COALESCE(c_present, FALSE)
       |      THEN 'missing_in_source'
       |    WHEN COALESCE(a_present, FALSE) THEN 'only_in_source'
       |    WHEN COALESCE(b_present, FALSE) THEN 'only_in_b'
       |    ELSE 'only_in_c' END AS category
       |  FROM j)
       |SELECT category, CAST(COUNT(*) AS BIGINT) AS n_keys
       |FROM cls GROUP BY category""".stripMargin
  }
}
