package graft.api

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.{DiffOptions, RangeStats, TableSpec}
import graft.engine.DiffEngine
import graft.journal.{MetadataStore, Resume}
import graft.sources.SourceProvider

/** One diff job over a set of tables — the reference's programmatic entry
  * (`new DiffJob().run(config, sc)`, DiffJob.java:73-196) with the same
  * two hook points (`addPreJobHook` / `addPostJobHook`,
  * DiffJob.java:73-84).
  *
  * Lifecycle (mirrors SURVEY §3.1 steps 2-9, minus what Catalyst now owns):
  *  1. acquire the run lock (O21); restore stored params; journal
  *     job_summary + table_params
  *  2. tables run concurrently, at most `defaultParallelism` at once (the
  *     reference compares every table of a split in one executor task,
  *     Differ.java:150-236): per table, every bucket decided on the
  *     driver from collected rows, partition stats as ONE persisted
  *     query; its journal writes keep their order — mismatches, then
  *     task_status (bucket progress), then bucket digests, then reverse
  *     checks and job_results
  *  3. once EVERY table has ended: metrics, post-hooks (final per-table
  *     stats), lock release — a failed table rethrows only then
  */
final case class DiffJobConfig(
    jobId: String,
    tables: Seq[TableSpec],
    options: DiffOptions = DiffOptions(),
    metadataRoot: String = "/tmp/graft-metadata",
    rerun: Boolean = false,
    partitioner: String = "xxhash64",
    retry: graft.journal.RetryPolicy = graft.journal.RetryPolicy.NoRetry,
    // cross-RUN incremental mode: journal per-bucket side digests each
    // run; a later run of the same job_id re-diffs ONLY buckets whose
    // digests changed on either side, compared on the driver — unchanged
    // buckets keep their journal rows (task_status latest-per-bucket
    // totals and persisted mismatch rows ARE the replay). Subsumes the
    // resume filter; with digestFirst both share one digest pass.
    incremental: Boolean = false,
    // single-RUN digest prefilter: digest both sides per bucket first (a
    // narrow ≤ buckets-row shuffle, collected) and feed ONLY the
    // disagreeing buckets to the wide full-PK join; digest-equal buckets
    // journal their phase-1 arithmetic rows directly. On a
    // mostly-matching corpus the wide join shrinks to the dirty
    // fraction — the digestRangeStats shape, available from the
    // journaling entry point. Results are bit-identical either way.
    digestFirst: Boolean = false,
    // reconciliation output: journal a CQL repair script per table
    // (INSERT/UPDATE/DELETE treating the source as truth) alongside the
    // mismatch rows, served by ResultsApi.jobRepair. Costs one extra
    // row-level join per table when enabled.
    repair: Boolean = false,
    // per-table per-column ε tolerance: |src − tgt| <= ε counts matched
    // (float replica drift). Incompatible with digestFirst — digests
    // hash exact values, so a within-tolerance bucket would still read
    // dirty AND its diff rows would disagree with the digest verdict.
    tolerances: Map[String, Map[String, Double]] = Map.empty) {
  require(tolerances.isEmpty || !digestFirst,
    "tolerances are incompatible with digestFirst (digests hash exact values)")
}

final class DiffRunner(
    source: SourceProvider,
    target: SourceProvider,
    config: DiffJobConfig)(implicit spark: SparkSession) {

  private var preJobHooks: List[() => Unit] = Nil
  private var postJobHooks: List[Map[String, RangeStats] => Unit] = Nil

  def addPreJobHook(f: () => Unit): DiffRunner = { preJobHooks ::= f; this }
  def addPostJobHook(f: Map[String, RangeStats] => Unit): DiffRunner = { postJobHooks ::= f; this }

  /** Run the whole job; returns final stats per table. */
  def run(): Map[String, RangeStats] = {
    val store = new MetadataStore(config.metadataRoot, config.retry)
    require(store.acquireRunLock(config.jobId), // O21 LWT semantics
      s"job ${config.jobId} already running (running_jobs lock held by " +
        s"${store.runLockOwner(config.jobId).getOrElse("an owner that just released it")})")
    try {
      preJobHooks.foreach(_())
      import spark.implicits._
      // O21 params immutability: a re-run of an existing job_id keeps ALL
      // stored job params — tables, token filters, sampling, reverse-read
      // probability, buckets — regardless of the new config, matching the
      // reference's getJobParams reuse (JobMetadataDb.java:432-490;
      // DiffJob.java:136-143, 213-229). A re-run with conflicting options
      // must not silently diverge from the journal's semantics.
      // per-column fallback: a journal written by an older engine version
      // (fewer columns) must restore the params it HAS and fall back to
      // the submitted config for the rest, not throw on fieldIndex of an
      // absent column
      val priorSummary =
        if (store.exists("job_summary"))
          store.read("job_summary")
            .filter(col("job_id") === config.jobId)
            .collect().headOption
        else None
      def restore[T](row: org.apache.spark.sql.Row, name: String, dflt: T): T =
        if (row.schema.fieldNames.contains(name) && !row.isNullAt(row.fieldIndex(name)))
          row.getAs[T](name)
        else dflt
      def restoreSeq[T](row: org.apache.spark.sql.Row, name: String,
          dflt: Seq[T]): Seq[T] =
        if (row.schema.fieldNames.contains(name) && !row.isNullAt(row.fieldIndex(name)))
          row.getSeq[T](row.fieldIndex(name)).toSeq
        else dflt
      val options = priorSummary match {
        case Some(row) => graft.core.DiffOptions(
          buckets = restore(row, "buckets", config.options.buckets),
          disallowedTokens = restoreSeq(row, "disallowed_tokens",
            config.options.disallowedTokens),
          specificTokens = restoreSeq(row, "specific_tokens",
            config.options.specificTokens),
          samplingNum = restore(row, "sampling_num", config.options.samplingNum),
          samplingDen = restore(row, "sampling_den", config.options.samplingDen),
          reverseReadProbability = restore(row, "reverse_read_probability",
            config.options.reverseReadProbability))
        case None => config.options
      }
      val tables = priorSummary match {
        case Some(row) =>
          // Params immutability covers the TABLE SET too: the reference
          // re-runs the full stored set regardless of what the new
          // submission lists (JobMetadataDb.java:432-490; DiffJob.java:
          // 136-143). Column roles are persisted per table in
          // `table_params`, so stored specs are reconstructed outright and
          // the stored set wins — a table omitted from the re-run config
          // is still diffed. Journals written before `table_params`
          // existed fall back to intersecting stored names with the
          // submitted specs (the only roles available).
          val storedSpecs =
            if (store.exists("table_params"))
              store.read("table_params")
                .filter(col("job_id") === config.jobId)
                .collect().toSeq
            else Seq.empty
          if (storedSpecs.nonEmpty)
            storedSpecs.map(r => graft.core.TableSpec(
              table = r.getAs[String]("table_name"),
              pk = restoreSeq(r, "pk", Nil),
              clustering = restoreSeq(r, "clustering", Nil),
              regular = restoreSeq(r, "regular", Nil),
              uniqueKey = restore(r, "unique_key", false)))
              .sortBy(_.table)
          else {
            val stored = restoreSeq(row, "keyspaces",
              config.tables.map(_.table)).toSet
            config.tables.filter(t => stored(t.table))
          }
        case None => config.tables
      }
      val partitioner = priorSummary match {
        case Some(row) => restore(row, "partitioner", config.partitioner)
        case None => config.partitioner
      }
      val token = DiffEngine.tokenFunction(partitioner)
      if (priorSummary.isEmpty)
        // job_summary row: params + start metadata (JobMetadataDb.java:496-544;
        // the reference's by-date/by-cluster index tables become pushed-down
        // filters over these columns)
        store.write("job_summary", Seq((
          config.jobId,
          source.getClass.getSimpleName,
          target.getClass.getSimpleName,
          config.tables.map(_.table),
          options.buckets,
          options.disallowedTokens,
          options.specificTokens,
          options.samplingNum,
          options.samplingDen,
          options.reverseReadProbability,
          partitioner,
          // fixed-width render: lexicographic order == chronological
          // (Instant.toString varies fractional digits and breaks sorts)
          java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
            .withZone(java.time.ZoneOffset.UTC)
            .format(java.time.Instant.now()))).toDF(
          "job_id", "source_cluster", "target_cluster", "keyspaces",
          "buckets", "disallowed_tokens", "specific_tokens",
          "sampling_num", "sampling_den", "reverse_read_probability",
          "partitioner", "start_time"))
      if (priorSummary.isEmpty)
        // per-table column roles, so a re-run can reconstruct the stored
        // TableSpecs without trusting the resubmitted config (the
        // reference stores qualified table names and refetches roles from
        // cluster metadata, TableSpec.java:71-89; file sources have no
        // metadata service, so roles live in the journal)
        store.write("table_params", config.tables.map(t =>
            (config.jobId, t.table, t.pk, t.clustering, t.regular,
              t.uniqueKey))
          .toDF("job_id", "table_name", "pk", "clustering", "regular",
            "unique_key"))
      // every row this run journals carries the run's one stamp, so a
      // job directory one run wrote holds a single run_ts
      val runTs = System.currentTimeMillis()
      // tables run concurrently: one table's driver-side planning, file
      // publishing and small-job scheduling overlap the other's tasks
      val results = DiffRunner.concurrently(tables,
        spark.sparkContext.defaultParallelism)(
        diffTable(store, options, token, runTs, _)).toMap
      // metrics parity: the reference's per-table counter series
      // (Differ.updateMetrics) as named Spark accumulators
      results.foreach { case (table, stats) =>
        DiffMetrics.update(spark, "graft", table, stats)
      }
      postJobHooks.foreach(_(results))
      results
    } finally store.releaseRunLock(config.jobId)
  }

  /** One table's pipeline: quarantine → bucket decisions, on the driver
    * from rows collected once → persisted partitionStats → journal sinks
    * → totals. Its journal writes keep the reference's order: mismatches
    * (and the repair script), then task_status, then bucket digests last.
    */
  private def diffTable(store: MetadataStore, options: DiffOptions,
      token: Seq[Column] => Column, runTs: Long,
      spec0: TableSpec): (String, RangeStats) = {
    import spark.implicits._
    require(spec0.pk.nonEmpty,
      s"table ${spec0.table}: partition key columns must be declared")
    // each side is opened once: one file listing and schema read
    val srcTable = source.table(spark, spec0.table)
    val spec = spec0.bind(srcTable)
    // every row this run journals carries the table, the job id and the
    // run's stamp; datasets are partitioned by job_id so per-job endpoint
    // filters prune at the directory level
    def journal(dataset: String, df: DataFrame,
        partitionBy: Seq[String] = Seq("job_id")): Unit =
      store.write(dataset, df
          .withColumn("table_name", lit(spec.table))
          .withColumn("job_id", lit(config.jobId))
          .withColumn("run_ts", lit(runTs)),
        partitionBy)
    // O15: quarantine structurally invalid rows per side (origin tagged),
    // journal them, diff the clean remainder. `errors` stays unpartitioned
    // so roots journaled before its rows were stamped still read
    val sq = graft.engine.Quarantine.split(srcTable, spec, "source")
    val tq = graft.engine.Quarantine.split(target.table(spark, spec.table), spec, "target")
    journal("errors", sq.errors.unionByName(tq.errors), partitionBy = Nil)
    def bucket(r: Row): Long = r.getAs[Number]("bucket").longValue
    def byBucket(df: DataFrame): SortedMap[Long, Row] =
      SortedMap.from(df.collect().map(r => bucket(r) -> r))
    def local(rows: Iterable[Row], schema: StructType): DataFrame =
      spark.createDataFrame(rows.toSeq.asJava, schema)
    // this table's newest row per bucket of a journal dataset, from the
    // earlier runs of this job: ≤ options.buckets rows
    def prior(dataset: String): SortedMap[Long, Row] =
      if (!store.exists(dataset)) SortedMap.empty
      else byBucket(store.latest(dataset, config.jobId, Seq("table_name", "bucket"))
        .filter(col("table_name") === spec.table))
    // the resume skip set, and the totals of the buckets this run does
    // not journal
    val priorStatus = prior("task_status")
    val fsrc = DiffEngine.applyTokenFilters(sq.valid, spec, options, token)
    val ftgt = DiffEngine.applyTokenFilters(tq.valid, spec, options, token)
    // ONE digest pass, at the journal-bucket granularity (digest bucket
    // rule == task_status bucket rule): digest-first's verdicts, which
    // carry both sides' digests too, else incremental mode's side
    // digests. Its ≤ options.buckets rows are collected once
    val digestPass =
      if (config.digestFirst)
        Some(DiffEngine.digestProgress(fsrc, ftgt, spec, options.buckets, token))
      else if (config.incremental)
        Some(DiffEngine.sideDigests(fsrc, ftgt, spec, options.buckets, token))
      else None
    val digests = digestPass.fold(SortedMap.empty[Long, Row])(byBucket)
    val priorDigests =
      if (config.incremental) prior("bucket_digests") else SortedMap.empty[Long, Row]
    def digestOf(r: Row): Seq[Any] = DiffEngine.DigestCols.map(r.getAs[Any])
    // The buckets this run does not re-compare; their journal rows stand.
    // Incremental mode skips the buckets whose digests are unchanged on
    // both sides. Otherwise this is O12 resume: the buckets a previous
    // run of this job finished are skipped (rerun=true re-compares them —
    // Differ.java:166-171). The runner journals only `done` rows, so
    // there is no in-progress watermark to honour.
    val skip: Set[Long] =
      if (config.incremental)
        digests.keySet.filter(b => priorDigests.get(b).map(digestOf)
          .contains(digestOf(digests(b))))
      else if (config.rerun) Set.empty
      else priorStatus.keySet.filter(
        priorStatus(_).getAs[String]("status") == Resume.StatusDone)
    // RETIRED buckets: live in the prior digests, gone from both sides
    // now. With no partitionStats rows they would never get a new journal
    // row and the latest-per-bucket totals would replay their stale
    // counters forever, so they get zero task_status rows and a tombstone
    // digest (every digest field null). The tombstone never equals a
    // current digest: a bucket whose rows come back is re-diffed, not
    // replayed as zeros. Tombstoned buckets are not live, so they retire
    // once.
    val retired = priorDigests.keySet.filter(b => !digests.contains(b) &&
      digestOf(priorDigests(b)).exists(_ != null)).toSeq
    // digest-first: the pending buckets whose digests agree journal their
    // digest credit; only the disagreeing ones reach the diff
    val (clean, dirty) =
      if (!config.digestFirst) (Nil, Nil)
      else digests.collect { case (b, r) if !skip(b) => r }.toSeq
        .partition(_.getAs[Boolean]("digest_match"))
    def restrict(df: DataFrame, ids: Seq[Long], how: String): DataFrame =
      DiffEngine.restrictBuckets(df, spec, options.buckets, token,
        ids.toDF("bucket"), how)
    def diffed(df: DataFrame): DataFrame =
      if (config.digestFirst) restrict(df, dirty.map(bucket), "left_semi")
      else if (skip.isEmpty) df
      else restrict(df, skip.toSeq, "left_anti")
    val src = diffed(fsrc)
    val tgt = diffed(ftgt)
    // ONE diff computation per table: persist the per-partition stats and
    // derive progress, mismatches and totals from it (without the
    // persist, each journal sink would re-run the join+agg)
    val ps = DiffEngine.partitionStats(src, tgt, spec, token,
      tolerances = config.tolerances.getOrElse(spec.table, Map.empty)).persist()
    try {
      // checkpoint ordering mirrors the reference (mismatches recorded
      // BEFORE a range is marked complete, RangeComparator.java:201-241):
      // a crash between the writes must re-compare, never lose records.
      journal("mismatches",
        DiffEngine.mismatchesFromPartitions(ps, spec, options.buckets)
          .select("table_name", "bucket", "token", "mismatch_type"))
      // repair script: recorded with the mismatches (same crash-safety
      // rule — never after the range is marked done). Normalized to
      // (token, action, statement) so the journal dataset has ONE schema
      // across tables with different keys; token is the same
      // per-partition address the mismatch rows carry, so an operator can
      // join script rows to mismatch rows.
      if (config.repair)
        journal("repair_scripts",
          graft.engine.Repair.repairStatements(src, tgt, spec)
            .select(token(spec.pk.map(col)).as("token"), col("action"),
              col("statement")))
      // with digestFirst, ps covers only dirty buckets — clean buckets
      // journal their digest credit; retired buckets journal zeros (their
      // last_token reads null). The ≤ options.buckets rows are collected
      // once: journaled from the driver, and summed into the totals below.
      val credit = digestPass.filter(_ => clean.nonEmpty).map(d =>
        local(clean, d.schema).drop("digest_match" +: DiffEngine.DigestCols: _*))
      val zeroes = retired.toDF("bucket")
        .select(col("bucket") +: DiffEngine.Counters.map(lit(0L).as(_)): _*)
      val status = (DiffEngine.bucketProgressFromPartitions(ps, spec,
          options.buckets) +: credit.toSeq :+ zeroes)
        .reduce(_.unionByName(_, allowMissingColumns = true))
        .withColumn("status", lit(Resume.StatusDone))
      val statusRows = status.collect().toSeq
      journal("task_status", local(statusRows, status.schema))
      // digests are journaled LAST, from the driver: a crash before this
      // point leaves the OLD digests in place, so the next incremental
      // run still sees the affected buckets as changed and re-compares
      // them — writing digests first would instead mask a half-journaled
      // run as fully unchanged and lose its records permanently
      if (config.incremental) {
        val fields = "bucket" +: DiffEngine.DigestCols
        journal("bucket_digests", local(
          digests.values.map(r => Row.fromSeq(fields.map(r.getAs[Any]))) ++
            retired.map(b => Row.fromSeq(b +: DiffEngine.DigestCols.map(_ => null))),
          StructType(fields.map(digestPass.get.schema(_)))))
      }
      // O3: the sampled reverse-read validation pass
      // (DiffContext.java:54-57) — re-compare sampled partitions with
      // reversed duplicate pairing; journal any verdict disagreement
      if (options.reverseReadProbability > 0.0)
        journal("reverse_checks",
          DiffEngine.reverseValidation(src, tgt, spec,
              options.reverseReadProbability, token)
            .filter(!col("agree"))
            .select(col("token"), col("fwd_classification"),
              col("rev_classification")))
      // whole-job totals: the newest journal row per bucket across ALL
      // runs of this job_id — this run's rows, plus the earlier rows of
      // the buckets it did not journal (a resumed run covers only the
      // pending remainder). The run lock excludes every other writer of
      // this job, so no newer row can exist. Null counters count 0.
      val counted = (priorStatus ++ statusRows.map(r => bucket(r) -> r)).values
      val sums = DiffEngine.Counters.map(c =>
        counted.map(r => Option(r.getAs[Number](c)).fold(0L)(_.longValue)).sum)
      val skipped =
        if (!options.filtersTokens) 0L
        else DiffEngine.skippedPartitions(sq.valid, tq.valid, spec, options,
          token).count()
      val totals = new GenericRowWithSchema((sums :+ skipped).toArray,
        DiffRunner.TotalsSchema)
      journal("job_results", local(Seq(totals), totals.schema))
      spec.table -> MetadataStore.toRangeStats(totals)
    } finally ps.unpersist()
  }
}

object DiffRunner {

  /** A job_results row: the summed counters, then skipped partitions. */
  private val TotalsSchema = StructType(
    DiffEngine.Counters.map(StructField(_, LongType, nullable = false)))
    .add("skipped_partitions", LongType)

  /** `body` over every table on a pool this call creates and shuts down,
    * `min(tables, parallelism)` threads. The calling thread submits every
    * task and so creates every worker, which inherits its Spark local
    * properties (job group, scheduler pool) — cancelling the caller's job
    * group cancels the tables too. Returns only once every table has
    * ended; the first failure in table order is rethrown with the others
    * attached as suppressed.
    */
  private def concurrently[T](tables: Seq[TableSpec], parallelism: Int)(
      body: TableSpec => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(tables.size, parallelism)))
    try {
      val outcomes = tables
        .map(t => pool.submit(new Callable[T] { def call(): T = body(t) }))
        .map { f =>
          try Right(f.get())
          catch { case e: ExecutionException => Left(e.getCause) }
        }
      outcomes.collect { case Left(e) => e } match {
        case first +: rest => rest.foreach(first.addSuppressed); throw first
        case _ => outcomes.collect { case Right(v) => v }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
