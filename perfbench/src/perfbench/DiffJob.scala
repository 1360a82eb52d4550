package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}

import graft.api.{DiffJobConfig, DiffRunner, ResultsApi}
import graft.cli.JobConfig
import graft.core.RangeStats
import graft.journal.MetadataStore
import graft.sources.ParquetSource

/** One diff job as a user runs it: write the YAML config, then the steps
  * of `DiffJobMain` (config load, `DiffRunner.run`) and the results-API
  * read-back, with the outputs checked against the generator's expected
  * values after the timed region.
  */
object DiffJob {

  val Endpoints: Seq[String] =
    Seq("job_results", "job_status", "job_mismatches", "mismatch_summary")

  final case class Outcome(jobS: Double, loadS: Double, runnerS: Double,
      endpointMs: Map[String, Double], journalBytes: Long, journalFiles: Long,
      errors: Seq[String]) {
    def ok: Boolean = errors.isEmpty
  }

  def yaml(jobId: String, src: String, tgt: String, root: String,
      digestFirst: Boolean): String =
    s"""keyspace_tables: [bench.lineitem, bench.orders]
       |buckets: ${Inputs.Buckets}
       |job_id: $jobId
       |reverse_read_probability: 0
       |digest_first: $digestFirst
       |cluster_config:
       |  source: {impl: parquet, path: "$src"}
       |  target: {impl: parquet, path: "$tgt"}
       |  metadata: {path: "$root"}
       |""".stripMargin

  /** DiffJobMain's runner construction for a loaded config. */
  def runner(config: JobConfig, jobId: String, root: String,
      incremental: Boolean = false)(implicit spark: SparkSession): DiffRunner = {
    def side(name: String) = ParquetSource(config.clusterConfig(name)("path"))
    new DiffRunner(side("source"), side("target"), DiffJobConfig(
      jobId = jobId,
      tables = config.keyspaceTables.map(JobConfig.tableSpec),
      options = config.toDiffOptions,
      metadataRoot = root,
      partitioner = config.partitioner,
      retry = config.retryPolicy,
      incremental = incremental,
      digestFirst = config.digestFirst,
      repair = config.generateRepair,
      tolerances = config.tolerances.map { case (t, m) => t.split('.').last -> m }))
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run one job into a fresh metadata root and check it. */
  def run(jobId: String, yamlText: String, root: Path, gen: Inputs.Generated,
      tracer: Tracer, incremental: Boolean = false)(implicit spark: SparkSession): Outcome = {
    Files.createDirectories(root.getParent)
    val cfgFile = root.getParent.resolve(s"$jobId.yaml")
    Files.writeString(cfgFile, yamlText)
    val rootStr = root.toString
    tracer.traceId = jobId

    val t0 = System.nanoTime()
    val config = tracer.span("cli.load", "cli")(JobConfig.load(cfgFile.toString))
    val loadS = secs(t0)
    val t1 = System.nanoTime()
    val stats = tracer.span("api.runner", "api")(runner(config, jobId, rootStr, incremental).run())
    val runnerS = secs(t1)
    val rb = readBack(rootStr, jobId, tracer)
    val jobS = secs(t0)

    val expect = new Checks
    expect("tables", stats.keySet, gen.tables.map(_.table).toSet)
    gen.tables.foreach { t =>
      stats.get(t.table).foreach { s =>
        expect(s"${t.table} counters", counters(s), t.counters)
        expect(s"${t.table} skipped", s.skippedPartitions, 0L)
      }
    }
    checkReadBack(rb, gen, expect)
    // isolation: nothing the job persisted or cached may outlive it
    expect("persisted RDDs", spark.sparkContext.getPersistentRDDs.size, 0)
    expect("cache manager empty",
      org.apache.spark.PerfBenchBridge.cacheManagerEmpty(spark), true)

    val (bytes, files) = Inputs.dirBytes(root)
    Outcome(jobS, loadS, runnerS, rb.ms, bytes, files, expect.result)
  }

  /** What the four endpoints returned for one job, each collected, and
    * the latency of each call in ms.
    */
  final case class ReadBack(results: Array[Row], status: Array[Row],
      mismatches: Array[Row], summary: Array[Row], ms: Map[String, Double]) {
    def meanMs: Double = ms.values.sum / ms.size
  }

  /** One results-API read-back of a job's journal: the four endpoints in
    * order, each collected. */
  def readBack(root: String, jobId: String, tracer: Tracer)(
      implicit spark: SparkSession): ReadBack = {
    val api = new ResultsApi(new MetadataStore(root))
    def call[T](name: String)(f: => T): (T, Double) = {
      val t = System.nanoTime()
      val out = tracer.span(s"api.endpoint.$name", "api")(f)
      (out, (System.nanoTime() - t) / 1e6)
    }
    val (results, r1) = call("job_results")(api.jobResults(jobId).collect())
    val (status, r2) = call("job_status")(api.jobStatus(jobId).collect())
    val (mismatches, r3) = call("job_mismatches")(api.jobMismatches(jobId).collect())
    val (summary, r4) = call("mismatch_summary")(api.mismatchSummary(jobId).collect())
    ReadBack(results, status, mismatches, summary, Endpoints.zip(Seq(r1, r2, r3, r4)).toMap)
  }

  /** Failed checks, each as "what: got X, want Y". */
  final class Checks {
    private val failed = Seq.newBuilder[String]
    def apply(what: String, got: Any, want: Any): Unit =
      if (got != want) failed += s"$what: got $got, want $want"
    def result: Seq[String] = failed.result()
  }

  /** Check a read-back against the generator's expected values. */
  def checkReadBack(rb: ReadBack, gen: Inputs.Generated, expect: Checks): Unit = {
    gen.tables.foreach { t =>
      val row = rb.results.filter(_.getAs[String]("table_name") == t.table)
      expect(s"${t.table} job_results rows", row.length, 1)
      row.headOption.foreach(r => expect(s"${t.table} job_results",
        Inputs.CounterNames.map(c => c -> r.getAs[Long](c)).toMap, t.counters))
      expect(s"${t.table} job_status rows",
        rb.status.count(_.getAs[String]("table_name") == t.table).toLong, t.statusRows)
      expect(s"${t.table} job_mismatches",
        rb.mismatches.filter(_.getAs[String]("table_name") == t.table)
          .groupBy(_.getAs[String]("mismatch_type")).map { case (k, v) => k -> v.length.toLong },
        t.types)
      expect(s"${t.table} mismatch_summary",
        rb.summary.filter(_.getAs[String]("table_name") == t.table)
          .map(r => r.getAs[String]("mismatch_type") -> r.getAs[Long]("n")).toMap,
        t.types)
    }
    expect("job_status rows", rb.status.length.toLong, gen.tables.map(_.statusRows).sum)
  }

  def counters(s: RangeStats): Map[String, Long] = Map(
    "matched_partitions" -> s.matchedPartitions,
    "mismatched_partitions" -> s.mismatchedPartitions,
    "only_in_source" -> s.onlyInSource,
    "only_in_target" -> s.onlyInTarget,
    "matched_rows" -> s.matchedRows,
    "matched_values" -> s.matchedValues,
    "mismatched_values" -> s.mismatchedValues)
}
