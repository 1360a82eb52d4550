package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cli.JobConfig
import graft.engine.DiffEngine
import graft.journal.MetadataStore
import graft.sources.ParquetSource

/** Benchmark harness: one workload, one seed, one process.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --report FILE
  *
  * Set-up (JVM and session start, waiting for the inputs that
  * perfbench/gen.py writes meanwhile, warm-up jobs) is timed as
  * `setup_s`; then `--seconds` / [[NominalJobS]] jobs (at least one) run
  * one at a time, each followed by [[ApiRounds]] further read-backs of its
  * journal. With `--trace 1` the same jobs run under the tracer, so
  * its `trace.job_p50_s` minus an untraced run's `job_p50_s` is the
  * tracing overhead, and the per-module probes follow. The full report
  * goes to `--report`.
  */
object Main {

  val PipelineQueries: Seq[String] =
    Seq("dedup_cluster_best", "curate_corpus_full", "diff_repair")

  val WarmupJobs = 1

  /** Read-backs of each measured job's journal after the job's own, which
    * is part of the job's time; `api_p50_ms` is their median. The job's
    * own read-back is slower (a mean of 0.4-0.5 s a call against
    * 0.25-0.3 s for the later ones on a 4-core machine), and one sample
    * per job is too few for a steady median.
    */
  val ApiRounds = 2

  /** One job of the loop: its outcome, the runtime counters over the job
    * alone, and the mean call latency of each further read-back.
    */
  final case class Sample(outcome: DiffJob.Outcome, counters: Tracer#Counters,
      apiMs: Seq[Double])

  /** Warm job time of both workloads on a 4-core machine. The job count of
    * a run is fixed from it rather than from a clock, so every run
    * measures the same job positions whatever the machine's load.
    */
  val NominalJobS = 10.0

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      // one shuffle partition per core, as the engine's own bench and
      // test sessions run it
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val reportFile = Paths.get(opts("report"))
    Files.createDirectories(work)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    implicit val spark: SparkSession = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val report = mutable.LinkedHashMap.empty[String, Any]
    val errors = mutable.ArrayBuffer.empty[String]
    try {
      val tracer = new Tracer(spark, enabled = trace)
      val t0 = System.nanoTime()
      val gen = Inputs.await(work, timeoutS = 120)
      val inputWaitS = secs(t0)
      var jobSeq = 0
      // one job, then `apiRounds` further read-backs of its journal; the
      // runtime counters cover the job alone (zero when untraced)
      def runJob(apiRounds: Int): Either[String, Sample] = {
        jobSeq += 1
        val id = f"job-$jobSeq%03d"
        val root = work.resolve("journals").resolve(id)
        val before = tracer.snapshot()
        val sample =
          try {
            val o = DiffJob.run(id, DiffJob.yaml(id, gen.srcDir, gen.tgtDir,
              root.toString, gen.digestFirst), root, gen, tracer)
            val counters = tracer.snapshot() - before
            val rounds = (1 to apiRounds).map(_ => DiffJob.readBack(root.toString, id, tracer))
            val expect = new DiffJob.Checks
            rounds.foreach(DiffJob.checkReadBack(_, gen, expect))
            Right(Sample(o.copy(errors = o.errors ++ expect.result), counters,
              rounds.map(_.meanMs)))
          } catch { case e: Exception => Left(s"$id threw ${e.toString.take(300)}") }
        Inputs.deleteTree(root)
        sample match {
          case Right(s) if !s.outcome.ok => Left(s"$id: ${s.outcome.errors.mkString("; ").take(600)}")
          case other => other
        }
      }

      val t1 = System.nanoTime()
      val warm = (1 to WarmupJobs).map(_ => runJob(apiRounds = 0))
      val warmupS = secs(t1)
      warm.collect { case Left(e) => e }.foreach(e => errors += s"warm-up $e")
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

      // closed loop: one job at a time
      val jobs = mutable.ArrayBuffer.empty[Sample]
      val attempted = math.max(1, math.round(seconds / NominalJobS).toInt)
      val start = System.nanoTime()
      (1 to attempted).foreach { _ =>
        runJob(ApiRounds) match {
          case Right(s) => jobs += s
          case Left(e) => errors += e
        }
      }
      val windowS = secs(start)
      val outcomes = jobs.map(_.outcome).toSeq
      val jobTimes = outcomes.map(_.jobS)
      // per read-back after a job's own: mean latency of its four calls
      val apiMs = jobs.flatMap(_.apiMs).toSeq
      val peakRssMb = vmHwmMb()
      report ++= Seq(
        "workload" -> workload, "seed" -> seed, "trace" -> trace,
        "digest_first" -> gen.digestFirst,
        "cores" -> Runtime.getRuntime.availableProcessors,
        "input_rows" -> gen.inputRows,
        "source_partitions" -> gen.sourcePartitions,
        "edited_partitions" -> gen.editedPartitions,
        "dirty_buckets" -> gen.dirtyBuckets, "key_stride" -> gen.keyStride,
        "expected" -> gen.tables,
        "setup" -> Map("session_s" -> sessionS, "input_wait_s" -> inputWaitS,
          "warmup_s" -> warmupS, "warmup_jobs" -> WarmupJobs),
        "window_s" -> windowS,
        "job_samples" -> outcomes,
        "api_read_back_ms" -> jobs.map(_.apiMs))

      val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
      e2e("job_p50_s") = (median(jobTimes), "s")
      e2e("rows_per_s") = (gen.inputRows * jobTimes.size / jobTimes.sum, "rows/s")
      e2e("api_p50_ms") = (median(apiMs), "ms")
      e2e("journal_bytes") = (median(outcomes.map(_.journalBytes.toDouble)), "bytes")
      e2e("setup_s") = (setupS, "s")
      e2e("peak_rss_mb") = (peakRssMb, "MB")
      e2e("failed_ratio") = ((attempted - jobs.size).toDouble / attempted, "ratio")
      report("end_to_end") = e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      report("job_p50_s_samples") = jobTimes.size
      // highest percentile with at least 10 samples beyond it
      report("job_tail_percentile") =
        (99 to 50 by -1).find(p => jobTimes.size * (100 - p) / 100.0 >= 10)

      if (trace) {
        val layer = traceRun(gen, work, tracer)(jobs.map(s => s.outcome -> s.counters).toSeq, errors)
        report("per_layer") = layer.map { case (k, (v, u)) =>
          k -> Map("value" -> v, "unit" -> u) }
        report("spans") = tracer.allSpans
        tracer.stop()
      }
      report("attempted") = attempted
      report("failed") = attempted - jobs.size
    } catch {
      case e: Throwable =>
        errors += s"harness: ${e.toString.take(500)}"
        e.printStackTrace()
    } finally {
      report("errors") = errors.toSeq
      report("correct") = errors.isEmpty
      Files.writeString(reportFile, Json(report))
      spark.stop()
    }
  }

  private def vmHwmMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The per-layer numbers of a `--trace 1` run: medians over the traced
    * jobs, then one probe per module on the workload's own inputs, an
    * incremental re-run, and the pipeline queries.
    */
  private def traceRun(gen: Inputs.Generated, work: Path, tr: Tracer)(
      perJob: Seq[(DiffJob.Outcome, Tracer#Counters)],
      errors: mutable.ArrayBuffer[String])(implicit spark: SparkSession)
      : mutable.LinkedHashMap[String, (Double, String)] = {
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    val cores = Runtime.getRuntime.availableProcessors
    def med(f: ((DiffJob.Outcome, Tracer#Counters)) => Double): Double = median(perJob.map(f))
    out("spark.jobs") = (med(_._2.jobs.toDouble), "count")
    out("spark.stages") = (med(_._2.stages.toDouble), "count")
    out("spark.tasks") = (med(_._2.tasks.toDouble), "count")
    Seq("api", "journal", "engine", "sources", "unattributed").foreach { m =>
      out(s"spark.jobs.$m") = (med(_._2.jobsByModule.getOrElse(m, 0L).toDouble), "count")
    }
    out("spark.busy_ratio") = (med { case (o, c) => c.taskMs / 1000.0 / (cores * o.jobS) }, "ratio")
    out("api.driver_only_s") = (med { case (o, c) => o.jobS - c.busyWallMs / 1000.0 }, "s")
    out("spark.shuffle_bytes") = (med(_._2.shuffleBytes.toDouble), "bytes")
    out("spark.spill_bytes") = (med(_._2.spillBytes.toDouble), "bytes")
    out("spark.gc_s") = (med(_._2.gcMs / 1000.0), "s")
    out("spark.task_wait_s") = (med(_._2.taskWaitMs / 1000.0), "s")
    out("api.runner_s") = (med(_._1.runnerS), "s")
    out("cli.load_ms") = (med(_._1.loadS * 1000), "ms")
    DiffJob.Endpoints.foreach { e =>
      out(s"api.endpoint_ms.$e") = (med(_._1.endpointMs(e)), "ms")
    }
    out("journal.files") = (med(_._1.journalFiles.toDouble), "count")
    out("trace.job_p50_s") = (med(_._1.jobS), "s")

    // module probes on the workload's inputs, each forced to the noop sink
    tr.traceId = "probes"
    val tables = Seq("lineitem", "orders")
    val src = ParquetSource(gen.srcDir)
    val tgt = ParquetSource(gen.tgtDir)
    val token = DiffEngine.tokenFunction("xxhash64")
    def timed(name: String, module: String)(f: => Unit): Double = {
      val t = System.nanoTime()
      tr.span(name, module)(f)
      secs(t)
    }
    out("sources.scan_s") = (timed("sources.scan", "sources") {
      tables.foreach { t => noop(src.table(spark, t)); noop(tgt.table(spark, t)) }
    }, "s")
    out("engine.partition_stats_s") = (timed("engine.partition_stats", "engine") {
      tables.foreach { t =>
        noop(DiffEngine.partitionStats(src.table(spark, t), tgt.table(spark, t),
          JobConfig.tableSpec(t), token))
      }
    }, "s")
    var dirty, buckets = 0L
    out("engine.digest_s") = (timed("engine.digest_progress", "engine") {
      tables.foreach { t =>
        val rows = DiffEngine.digestProgress(src.table(spark, t), tgt.table(spark, t),
          JobConfig.tableSpec(t), Inputs.Buckets, token).select("digest_match").collect()
        dirty += rows.count(!_.getBoolean(0))
        buckets += rows.length
      }
    }, "s")
    out("engine.dirty_bucket_ratio") = (dirty.toDouble / buckets, "ratio")
    out("engine.side_digests_s") = (timed("engine.side_digests", "engine") {
      tables.foreach { t =>
        noop(DiffEngine.sideDigests(src.table(spark, t), tgt.table(spark, t),
          JobConfig.tableSpec(t), Inputs.Buckets, token))
      }
    }, "s")

    // incremental re-run: a pristine journal of source vs itself, copied
    // (untimed) and re-run against the workload's target
    val incDir = work.resolve("incremental")
    val pristine = incDir.resolve("pristine")
    val jobId = "incremental"
    Files.createDirectories(incDir)
    val firstCfg = incDir.resolve("first.yaml")
    Files.writeString(firstCfg, DiffJob.yaml(jobId, gen.srcDir, gen.srcDir,
      pristine.toString, digestFirst = false))
    val first = DiffJob.runner(JobConfig.load(firstCfg.toString), jobId,
      pristine.toString, incremental = true).run()
    if (first.values.exists(s => s.mismatchedPartitions + s.onlyInSource + s.onlyInTarget > 0))
      errors += s"pristine incremental journal is not clean: $first"
    val copy = incDir.resolve("rerun")
    Inputs.copyTree(pristine, copy)
    val rerun = DiffJob.run(jobId, DiffJob.yaml(jobId, gen.srcDir, gen.tgtDir,
      copy.toString, digestFirst = false), copy, gen, tr, incremental = true)
    if (!rerun.ok) errors += s"incremental re-run: ${rerun.errors.mkString("; ").take(600)}"
    out("api.incremental_runner_s") = (rerun.runnerS, "s")

    // journal reads on the pristine journal: the latest-per-bucket windows
    // the incremental path replays
    tr.traceId = "probes"
    val store = new MetadataStore(pristine.toString)
    out("journal.read_s") = (timed("journal.read", "journal") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("table_name"), col("bucket")).orderBy(col("run_ts").desc)
      Seq("task_status", "bucket_digests").foreach { t =>
        store.read(t, mergeSchema = true)
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).collect()
      }
      noop(store.read("job_results"))
    }, "s")

    // journal writes: the re-run's own frames, materialized first, written
    // to a scratch root
    val frames = Seq("mismatches", "task_status", "job_results").map { t =>
      val df = new MetadataStore(copy.toString).read(t, mergeSchema = true).persist()
      df.count()
      t -> df
    }
    val scratch = new MetadataStore(incDir.resolve("scratch").toString)
    out("journal.write_s") = (timed("journal.write", "journal") {
      frames.foreach { case (t, df) => scratch.write(t, df, partitionBy = Seq("job_id")) }
    }, "s")
    frames.foreach(_._2.unpersist())
    Inputs.deleteTree(incDir)

    // pipeline queries on a generated corpus, each written once (timed)
    // for the DuckDB oracle check that perfbench/run.py makes afterwards
    val pipeIn = gen.pipelineDir.getOrElse(sys.error("no pipeline inputs"))
    val pipeOut = work.resolve("pipeline").resolve("output")
    tr.traceId = "pipeline"
    PipelineQueries.foreach { q =>
      val before = tr.snapshot()
      out(s"queries.${q}_s") = (timed(s"queries.$q", "queries") {
        graft.SparkEntry.queries(q)(spark, pipeIn).write.parquet(pipeOut.resolve(q).toString)
      }, "s")
      val c = tr.snapshot() - before
      out(s"queries.$q.spark_jobs") = (c.jobs.toDouble, "count")
      out(s"queries.$q.spark_tasks") = (c.tasks.toDouble, "count")
    }
    Files.writeString(pipeOut.resolve("oracle_sql.json"),
      Json(PipelineQueries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap))
    out
  }
}
