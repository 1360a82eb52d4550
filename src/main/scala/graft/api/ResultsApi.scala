package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.journal.MetadataStore

/** The reference's 13 REST endpoints (DiffJobsResource.java:60-201,
  * DBService.java:166-357) as DataFrame queries over the journal. The
  * bucket fan-out with async gather (DBService.java:341-357) exists only
  * to dodge Cassandra wide partitions — here every endpoint is a 1-5 line
  * filter/group over one parquet dataset, and the "index tables"
  * (by-cluster / by-keyspace / by-date duplicates) are filters on
  * job_summary: pushed into the scan of a large journal, evaluated over
  * the rows of a small one that the driver read.
  */
final class ResultsApi(store: MetadataStore)(implicit spark: SparkSession) {

  // every read merges its files' footer schemas: a journal accumulates
  // rows across engine versions, and the API serves them all
  private def summary: DataFrame = store.read("job_summary")
  // The reference journals mismatches as CQL UPSERTS with PRIMARY KEY
  // ((job_id, bucket), qualified_table_name, mismatching_token) —
  // mismatch_type is a VALUE, so re-recording a token overwrites and the
  // latest classification wins (JobMetadataDb.java:552-559, 229-236).
  // Parquet appends instead, so reads keep the newest run per key
  // (stale rows of vanished mismatches persisting is reference behavior
  // too: it never deletes mismatch rows).
  private def mismatch(jobId: String): DataFrame =
    store.latest("mismatches", jobId, Seq("table_name", "bucket", "token"))

  /** GET /jobs/running (DiffJobsResource.java:60-66): every id whose run
    * lock is held, with its `job_summary` columns once they are written
    * (a first run holds its lock before it writes its summary row).
    */
  def runningJobs(): DataFrame = {
    import spark.implicits._
    val dir = new java.io.File(s"${store.root}/running_jobs")
    val ids = Option(dir.listFiles()).toSeq.flatten
      .map(f => MetadataStore.lockedJobId(f.getName)).toDF("job_id")
    if (store.exists("job_summary")) ids.join(summary, Seq("job_id"), "left") else ids
  }

  /** GET /jobs/recent — ≥10 jobs ordered newest-first
    * (DiffJobsResource.java:79-92: "walk back 30 days"; here a plain
    * top-k the optimizer turns into TakeOrderedAndProject).
    */
  def recentJobs(n: Int = 10): DataFrame =
    summary.orderBy(col("start_time").desc).limit(n)

  /** GET /jobs/{id} (DiffJobsResource.java:95-101). */
  def job(jobId: String): DataFrame = summary.filter(col("job_id") === jobId)

  /** GET /jobs/{id}/results (DiffJobsResource.java:104-110). Journals are
    * append-only across resumes/re-runs; serve the newest row per table.
    */
  def jobResults(jobId: String): DataFrame =
    store.latest("job_results", jobId, Seq("table_name"))

  /** GET /jobs/{id}/status — per (table, bucket) progress, newest run per
    * bucket (DiffJobsResource.java:113-119).
    */
  def jobStatus(jobId: String): DataFrame =
    store.latest("task_status", jobId, Seq("table_name", "bucket"))
      .select("job_id", "table_name", "bucket", "status", "last_token")

  /** GET /jobs/{id}/mismatches (DiffJobsResource.java:122-128). */
  def jobMismatches(jobId: String): DataFrame = mismatch(jobId)

  /** Mismatch counts per (table, type) — the group-merge the API server
    * does client-side (DBService.java:215-228). Rows the driver read are
    * counted there, as the reference's server counts them: a Spark
    * aggregate over them ships them into tasks and runs two jobs.
    */
  def mismatchSummary(jobId: String): DataFrame = {
    import spark.implicits._
    val rows = mismatch(jobId)
    if (rows.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      rows.select("table_name", "mismatch_type").collect()
        .groupMapReduce(r => (r.getString(0), r.getString(1)))(_ => 1L)(_ + _)
        .toSeq.map { case ((t, m), n) => (t, m, n) }
        .toDF("table_name", "mismatch_type", "n")
    else rows.groupBy("table_name", "mismatch_type").agg(count(lit(1)).as("n"))
  }

  /** GET /jobs/{id}/errors (DiffJobsResource.java:131-137): each table's
    * newest run, as every run quarantines the table's rows again.
    */
  def jobErrors(jobId: String): DataFrame =
    store.latestUnpartitioned("errors", jobId, Seq("table_name"))

  /** GET /jobs/{id}/errors/summary — error counts per table
    * (DBService.java:230-247).
    */
  def errorSummary(jobId: String): DataFrame =
    jobErrors(jobId).groupBy("table_name").agg(count(lit(1)).as("n"))

  /** GET /jobs/{id}/errors/ranges — distinct errored tokens per table
    * (DBService.java:249-265).
    */
  def errorRanges(jobId: String): DataFrame =
    jobErrors(jobId).select("table_name", "token").distinct()

  /** GET /jobs/{id}/repair[/{table}] — the generated reconciliation
    * script (engine extension; the reference stops at reporting,
    * JobMetadataDb.java:246-263). Newest run per (table, token): a
    * re-compared partition's statements replace that token's earlier
    * ones wholesale, mirroring the mismatch journal's latest-wins rule.
    */
  def jobRepair(jobId: String, table: Option[String] = None): DataFrame = {
    import spark.implicits._
    // repair output is opt-in (DiffJobConfig.repair) — jobs that never
    // enabled it have no dataset; serve the empty script, not a throw
    if (!store.exists("repair_scripts"))
      return Seq.empty[(String, String, Long, String, String)]
        .toDF("job_id", "table_name", "token", "action", "statement")
    val base = store.latest("repair_scripts", jobId, Seq("table_name", "token"))
      .select("job_id", "table_name", "token", "action", "statement")
    table.fold(base)(t => base.filter(col("table_name") === t))
  }

  /** GET /jobs/by-start-date/{from}[/{to}] (DiffJobsResource.java:140-156;
    * the day+hour index tables of JobMetadataDb.java:421-424 become a
    * range filter).
    */
  def jobsByStartDate(from: String, to: String): DataFrame =
    summary.filter(col("start_time") >= from && col("start_time") <= to)

  /** GET /jobs/by-source-cluster/{c} (DiffJobsResource.java:159-165). */
  def jobsBySourceCluster(c: String): DataFrame =
    summary.filter(col("source_cluster") === c)

  /** GET /jobs/by-target-cluster/{c} (DiffJobsResource.java:168-174). */
  def jobsByTargetCluster(c: String): DataFrame =
    summary.filter(col("target_cluster") === c)

  /** GET /jobs/by-keyspace/{ks} (DiffJobsResource.java:177-183); tables
    * are stored as an array column, so membership is `array_contains`.
    */
  def jobsByKeyspace(ks: String): DataFrame =
    summary.filter(array_contains(col("keyspaces"), ks))
}
