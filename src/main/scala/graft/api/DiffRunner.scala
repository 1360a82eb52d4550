package graft.api

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.{DiffOptions, RangeStats, TableSpec}
import graft.engine.{BucketPlan, DiffEngine}
import graft.journal.MetadataStore
import graft.sources.SourceProvider

/** One diff job over a set of tables — the reference's programmatic entry
  * (`new DiffJob().run(config, sc)`, DiffJob.java:73-196) with the same
  * two hook points (`addPreJobHook` / `addPostJobHook`,
  * DiffJob.java:73-84).
  *
  * Lifecycle (mirrors SURVEY §3.1 steps 2-9, minus what Catalyst now owns):
  *  1. acquire the run lock (O21); restore the stored params from the
  *     job's job_summary row, or journal that row on a first run
  *  2. tables run concurrently, at most `defaultParallelism` at once (the
  *     reference compares every table of a split in one executor task,
  *     Differ.java:150-236): per table, every bucket decided on the
  *     driver from collected rows ([[BucketPlan]]), partition stats and
  *     per-bucket counter rows from `DiffEngine.bucketStats`, the stats
  *     persisted as ONE query; its journal writes keep their order —
  *     mismatches, then task_status (the counter rows, collected once),
  *     then bucket digests, then reverse checks and job_results, the
  *     newest counter row per bucket summed by `RangeStats.sum`
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
      // every row this run journals carries the job id and the run's one
      // stamp, so a job directory one run wrote holds a single run_ts
      val runTs = System.currentTimeMillis()
      def journal(dataset: String, df: DataFrame): Unit = store.write(dataset,
        df.withColumn("job_id", lit(config.jobId)).withColumn("run_ts", lit(runTs)))
      // O21 params immutability: a re-run of an existing job_id keeps ALL
      // stored job params — tables, token filters, sampling, reverse-read
      // probability, buckets, partitioner — regardless of the new config,
      // matching the reference's getJobParams reuse
      // (JobMetadataDb.java:432-490; DiffJob.java:136-143, 213-229). A
      // re-run with conflicting options must not silently diverge from the
      // journal's semantics. The params are the job's one job_summary row,
      // published by its first run in one append
      val stored =
        if (!store.exists("job_summary")) None
        else store.latest("job_summary", config.jobId, Nil).collect().headOption
      val (options, tables, partitioner) = stored.fold(
        (config.options, config.tables, config.partitioner))(DiffRunner.params)
      if (stored.isEmpty)
        journal("job_summary", spark.createDataFrame(
          java.util.List.of(DiffRunner.summary(config, source, target)),
          DiffRunner.SummarySchema))
      val token = DiffEngine.tokenFunction(partitioner)
      // tables run concurrently: one table's driver-side planning, file
      // publishing and small-job scheduling overlap the other's tasks
      val results = DiffRunner.concurrently(tables,
        spark.sparkContext.defaultParallelism)(
        diffTable(store, options, token, journal, _)).toMap
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
      token: Seq[Column] => Column, journalJob: (String, DataFrame) => Unit,
      spec0: TableSpec): (String, RangeStats) = {
    require(spec0.pk.nonEmpty,
      s"table ${spec0.table}: partition key columns must be declared")
    // each side is opened once: one file listing and schema read
    val srcTable = source.table(spark, spec0.table)
    val spec = spec0.bind(srcTable)
    // every row this table journals carries its name too
    def journal(dataset: String, df: DataFrame): Unit =
      journalJob(dataset, df.withColumn("table_name", lit(spec.table)))
    val tolerances = config.tolerances.getOrElse(spec.table, Map.empty[String, Double])
    // O15: quarantine structurally invalid rows per side (origin tagged),
    // journal them, diff the clean remainder
    val sq = graft.engine.Quarantine.split(srcTable, spec, "source")
    val tq = graft.engine.Quarantine.split(target.table(spark, spec.table), spec, "target")
    journal("errors", sq.errors.unionByName(tq.errors))
    def bucket(r: Row): Long = r.getAs[Number]("bucket").longValue
    def local(rows: Iterable[Row], schema: StructType): DataFrame =
      spark.createDataFrame(rows.toSeq.asJava, schema)
    // this table's newest row per bucket of a journal dataset, from the
    // earlier runs of this job: ≤ options.buckets rows
    def prior(dataset: String): SortedMap[Long, Row] =
      if (!store.exists(dataset)) SortedMap.empty
      else BucketPlan.byBucket(store.latest(dataset, config.jobId, Seq("table_name", "bucket"))
        .filter(col("table_name") === spec.table))
    // the resume skip set, and the counter rows of the buckets this run
    // does not journal
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
    val digests = digestPass.fold(SortedMap.empty[Long, Row])(BucketPlan.byBucket)
    val plan = BucketPlan.decide(digests,
      priorDigests = Option.when(config.incremental)(prior("bucket_digests")),
      priorStatus = priorStatus, rerun = config.rerun,
      digestFirst = config.digestFirst)
    def restricted(df: DataFrame) = plan.restrict(df, spec, options.buckets, token)
    // ONE diff computation per table: persist the per-partition stats and
    // derive mismatches and counter rows from it (without the persist,
    // each journal sink would re-run the join+agg). With digestFirst, ps
    // covers only dirty buckets; the counter rows add the clean buckets'
    // digest credit and zeros for the retired buckets
    val (partitions, counters) = DiffEngine.bucketStats(fsrc, ftgt, spec, plan,
      options.buckets, token, tolerances)
    val ps = partitions.persist()
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
      // join script rows to mismatch rows. A cell within its column's
      // tolerance is matched here as in the counters: it gets no UPDATE.
      if (config.repair)
        journal("repair_scripts",
          graft.engine.Repair.repairStatements(restricted(fsrc), restricted(ftgt), spec,
              tolerances)
            .select(token(spec.pk.map(col)).as("token"), col("action"),
              col("statement")))
      // the ≤ options.buckets counter rows are collected once: journaled
      // from the driver, and summed into the totals below
      val status = counters.withColumn("status", lit(BucketPlan.StatusDone))
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
            plan.tombstones,
          StructType(fields.map(digestPass.get.schema(_)))))
      }
      // O3: the sampled reverse-read validation pass
      // (DiffContext.java:54-57) — re-compare sampled partitions with
      // reversed duplicate pairing; journal any verdict disagreement
      if (options.reverseReadProbability > 0.0)
        journal("reverse_checks",
          DiffEngine.reverseValidation(restricted(fsrc), restricted(ftgt), spec,
              options.reverseReadProbability, token)
            .filter(!col("agree"))
            .select(col("token"), col("fwd_classification"),
              col("rev_classification")))
      // whole-job totals: the newest journal row per bucket across ALL
      // runs of this job_id — this run's rows, plus the earlier rows of
      // the buckets it did not journal (a resumed run covers only the
      // pending remainder). The run lock excludes every other writer of
      // this job, so no newer row can exist.
      val totals = RangeStats.sum(
        (priorStatus ++ statusRows.map(r => bucket(r) -> r)).values,
        DiffEngine.skippedCount(sq.valid, tq.valid, spec, options, token))
      journal("job_results", local(Seq(totals.toRow(spec.table)), RangeStats.RowSchema))
      spec.table -> totals
    } finally ps.unpersist()
  }
}

object DiffRunner {

  /** A job's `job_summary` row: its params and start metadata
    * (JobMetadataDb.java:496-544; the reference's by-date, by-cluster
    * and by-keyspace index tables become filters over these columns).
    * `table_specs` holds each table's column roles, so a re-run rebuilds
    * the stored specs without trusting the resubmitted config (the
    * reference stores table names and refetches roles from cluster
    * metadata, TableSpec.java:71-89; file sources have no metadata
    * service). The journal adds `job_id` and `run_ts`.
    */
  private val SummarySchema = StructType.fromDDL(
    "source_cluster STRING, target_cluster STRING, keyspaces ARRAY<STRING>, " +
      "buckets INT, disallowed_tokens ARRAY<BIGINT>, specific_tokens ARRAY<BIGINT>, " +
      "sampling_num INT, sampling_den INT, reverse_read_probability DOUBLE, " +
      "partitioner STRING, start_time STRING, table_specs ARRAY<STRUCT<" +
      "table_name: STRING, pk: ARRAY<STRING>, clustering: ARRAY<STRING>, " +
      "regular: ARRAY<STRING>, unique_key: BOOLEAN>>")

  /** `config`'s [[SummarySchema]] row, started now. */
  private def summary(config: DiffJobConfig, source: SourceProvider,
      target: SourceProvider): Row = {
    val o = config.options
    Row(source.getClass.getSimpleName, target.getClass.getSimpleName,
      config.tables.map(_.table), o.buckets, o.disallowedTokens, o.specificTokens,
      o.samplingNum, o.samplingDen, o.reverseReadProbability, config.partitioner,
      // fixed-width render: lexicographic order == chronological
      // (Instant.toString varies fractional digits and breaks sorts)
      java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
        .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now()),
      config.tables.map(t => Row(t.table, t.pk, t.clustering, t.regular, t.uniqueKey)))
  }

  /** The options, tables and partitioner a `job_summary` row stores. */
  private def params(r: Row): (DiffOptions, Seq[TableSpec], String) = {
    def seq[T](row: Row, name: String): Seq[T] = row.getSeq[T](row.fieldIndex(name)).toSeq
    (DiffOptions(
      buckets = r.getAs[Int]("buckets"),
      disallowedTokens = seq(r, "disallowed_tokens"),
      specificTokens = seq(r, "specific_tokens"),
      samplingNum = r.getAs[Int]("sampling_num"),
      samplingDen = r.getAs[Int]("sampling_den"),
      reverseReadProbability = r.getAs[Double]("reverse_read_probability")),
      seq[Row](r, "table_specs").map(t => TableSpec(t.getAs[String]("table_name"),
        seq(t, "pk"), seq(t, "clustering"), seq(t, "regular"), t.getAs[Boolean]("unique_key"))),
      r.getAs[String]("partitioner"))
  }

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
