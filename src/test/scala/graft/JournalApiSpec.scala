package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions._

import graft.api.{DiffJobConfig, DiffRunner, ResultsApi}
import graft.core.DiffOptions
import graft.engine.{DiffEngine, Perturb}
import graft.journal.{MetadataStore, Resume}
import graft.sources.{ParquetSource, SchemaOps, SourceProvider}

class JournalApiSpec extends SparkSpec with NoLeakedPersists {
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("graft-meta").toString

  /** The stats `run()` returned equal the counter sums over each table's
    * newest task_status row per bucket, and the table's served
    * job_results row.
    */
  private def assertTotalsMatchJournal(root: String, jobId: String,
      stats: Map[String, graft.core.RangeStats]): Unit = {
    implicit val s: SparkSession = spark
    val store = new MetadataStore(root)
    val served = new ResultsApi(store).jobResults(jobId).collect()
      .map(r => r.getAs[String]("table_name") -> MetadataStore.toRangeStats(r))
    assert(served.toMap === stats && served.length === stats.size)
    val sums = DiffEngine.counterSums
    stats.foreach { case (table, st) =>
      val journal = store.latest("task_status", jobId, Seq("table_name", "bucket"))
        .filter(col("table_name") === table)
        .agg(sums.head, sums.tail: _*).collect()(0)
      assert(MetadataStore.toRangeStats(journal) === st.copy(skippedPartitions = 0L),
        s"$jobId/$table: task_status sums")
    }
  }

  /** The call site of every Spark job `body` submits: the innermost
    * `graft.` frame of its SQL execution, else of its last stage. A job
    * of a journal write's execution names the dataset after it, as in
    * `<frame> writes mismatches`.
    * Listener events arrive asynchronously but in order, so a marker job
    * run after `body` is delivered after every job `body` submitted;
    * waiting for it makes the list complete.
    */
  private def jobsOf(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val marker = s"marker-${java.util.UUID.randomUUID}"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    def innermost(callSite: String): String =
      Option(callSite).toSeq.flatMap(_.split("\n")).map(_.trim.stripPrefix("at "))
        .find(_.startsWith("graft.")).getOrElse("")
    // MetadataStore stages every append in `<dataset>/.staging-<uuid>`
    val staged = "([^/\\s]+)/\\.staging-".r
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          execSites.put(x.executionId, innermost(x.details) +
            staged.findFirstMatchIn(x.physicalPlanDescription)
              .fold("")(m => s" writes ${m.group(1)}"))
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        if (p != null && p.getProperty("spark.jobGroup.id") == marker)
          markerSeen.countDown()
        else sites.add(Option(p).flatMap(p =>
            Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execSites.get(id.toLong)))
          .getOrElse(innermost(e.stageInfos.maxBy(_.stageId).details)))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, "job count marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    sites.asScala.toList
  }

  /** Does `df`'s physical plan hold a window or an exchange? */
  private def windowOrExchange(df: DataFrame): Boolean = {
    def names(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => names(a.inputPlan)
      case _ => p.nodeName +: p.children.flatMap(names)
    }
    names(df.queryExecution.executedPlan)
      .exists(n => n.contains("Window") || n.contains("Exchange"))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("run lock: second acquire fails until released (LWT semantics)") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val store = new MetadataStore(root)
    assert(store.acquireRunLock("job1"))
    assert(!store.acquireRunLock("job1"))
    assert(store.isRunning("job1"))
    store.releaseRunLock("job1")
    assert(store.acquireRunLock("job1"))
    // ids that are not plain file names lock one escaped file inside
    // running_jobs, and the API serves them unescaped
    for (id <- Seq("a/b", "../x")) {
      assert(store.acquireRunLock(id), id)
      assert(!store.acquireRunLock(id) && store.isRunning(id), id)
    }
    assert(new java.io.File(root, "running_jobs").list().toSet ===
      Set("job1.lock", "a%2Fb.lock", "..%2Fx.lock"))
    assert(new java.io.File(root).list().toSet === Set("running_jobs"))
    store.write("job_summary", Seq("job1", "a/b", "../x", "idle").toDF("job_id"))
    assert(new ResultsApi(store).runningJobs().as[String].collect().toSet ===
      Set("job1", "a/b", "../x"))
    // the lock names its owner
    val owner = store.runLockOwner("a/b").get
    assert(owner.contains(s"pid=${ProcessHandle.current.pid} ") &&
      owner.contains("host=") && owner.contains("started="), owner)
    store.releaseRunLock("a/b")
    assert(!store.isRunning("a/b") && store.runLockOwner("a/b").isEmpty)
  }

  test("runningJobs lists a held lock before its job_summary row is written") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val store = new MetadataStore(root)
    val api = new ResultsApi(store)
    // a first run between acquiring its lock and writing job_summary
    assert(store.acquireRunLock("first") && !store.exists("job_summary"))
    assert(api.runningJobs().as[String].collect().toSeq === Seq("first"))
    store.releaseRunLock("first")
    val src = ParquetSource(Sf)
    // orders: the end-to-end test reads the JVM-wide lineitem metrics
    val tgt = new SourceProvider {
      def table(sp: SparkSession, name: String): DataFrame =
        Perturb.ordersTarget(src.table(sp, name))
      def listTables(sp: SparkSession): Seq[String] = src.listTables(sp)
    }
    new DiffRunner(src, tgt, DiffJobConfig("done", Seq(Perturb.ordersSpec),
      DiffOptions(buckets = 4), metadataRoot = root)).run()
    assert(api.runningJobs().count() === 0)
    // a second job's lock, its summary row not yet written next to "done"'s
    assert(store.acquireRunLock("second"))
    val running = api.runningJobs().collect()
    assert(running.map(_.getAs[String]("job_id")).toSeq === Seq("second"))
    assert(running.head.getAs[String]("start_time") === null)
  }

  test("local frames written on the driver read back as Spark writes them") {
    implicit val s: SparkSession = spark
    // a job id that needs partition-path escaping
    val id = "job/1 :x%=y"
    val params = Seq(
      (id, "t1", Seq("a", "b"), Seq.empty[String], Seq("c"), true, 7L),
      (id, "t2", Seq("k"), Seq("c1", "c2"), Seq.empty[String], false, 7L))
      .toDF("job_id", "table_name", "pk", "clustering", "regular",
        "unique_key", "run_ts")
    val summary = Seq(
      (id, "t1", 4, 0.25, Option(3), Option.empty[Double], 7L),
      (id, "t2", 16, 1.0, None, Some(-0.5), 7L))
      .toDF("job_id", "table_name", "buckets", "reverse_read_probability",
        "sampling_num", "ratio", "run_ts")
    for ((t, df) <- Seq("table_params" -> params, "job_summary" -> summary);
        partitionBy <- Seq(Nil, Seq("job_id"))) {
      val driver = new MetadataStore(tmpRoot())
      val sparkWritten = new MetadataStore(tmpRoot())
      assert(jobsOf(driver.write(t, df, partitionBy)).isEmpty)
      // coalesce(1) keeps the frame off the driver path: a Spark write
      assert(jobsOf(sparkWritten.write(t, df.coalesce(1), partitionBy)).nonEmpty)
      def files(st: MetadataStore) =
        GraftParquetBridge.dataFiles(Paths.get(st.root, t)).map { f =>
          val rel = Paths.get(st.root, t).relativize(Paths.get(f.getPath.toUri))
          (rel.toString.replaceAll(
            "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>"),
            f.getLen)
        }
      // the same directories and file names, one file each, of one size
      assert(files(driver) === files(sparkWritten), s"$t $partitionBy")
      def schema(st: MetadataStore) = GraftParquetBridge.footerSchema(spark,
        GraftParquetBridge.footers(spark,
          GraftParquetBridge.dataFiles(Paths.get(st.root, t))))
      assert(schema(driver) === schema(sparkWritten), s"$t $partitionBy")
      assert(driver.read(t).schema === sparkWritten.read(t).schema)
      assert(sortedRows(driver.read(t)) === sortedRows(sparkWritten.read(t)))
      assert(driver.read(t).count() === 2)
      if (partitionBy.nonEmpty) {
        val keys = Seq("table_name")
        assert(sortedRows(driver.latest(t, id, keys)) ===
          sortedRows(sparkWritten.latest(t, id, keys)))
        assert(driver.latest(t, id, keys).count() === 2)
      }
    }
  }

  test("resume: done buckets skipped, in-progress watermarked, rerun ignores journal") {
    val work = (0L to 9L).map(t => (t, t % 2)).toDF("token", "bucket")
    val journal = Seq(
      (0L, Resume.StatusDone, Option.empty[Long]),
      (1L, Resume.StatusInProgress, Some(5L))).toDF("bucket", "status", "last_token")
    val pending = Resume.pending(work, journal).as[(Long, Long)].collect().toSet
    // bucket 0 done -> gone; bucket 1 keeps tokens > 5
    assert(pending === Set((7L, 1L), (9L, 1L)))
    assert(Resume.pending(work, journal, rerun = true).count() === 10)
  }

  test("DiffRunner end-to-end: journals stats, mismatches and results; hooks fire") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val src = ParquetSource(Sf)
    val tgt = new SourceProvider { // perturbed view of the same corpus
      def table(sp: SparkSession, name: String): DataFrame =
        Perturb.lineitemTarget(src.table(sp, name))
      def listTables(sp: SparkSession): Seq[String] = src.listTables(sp)
    }
    // the accumulators are JVM-wide and summed over every run of the
    // process (the reference's process-lifetime counters): this run's
    // contribution is the change across it
    def metric(name: String) =
      graft.api.DiffMetrics.accumulator(spark, s"graft.lineitem.$name").value
    val counters = Seq("matched_partitions", "mismatched_partitions",
      "matched_values", "partitions_read")
    val before = counters.map(c => c -> metric(c)).toMap
    var pre = false; var post = Option.empty[Long]
    val results = new DiffRunner(src, tgt,
      DiffJobConfig("job-e2e", Seq(Perturb.lineitemSpec),
        DiffOptions(buckets = 8), metadataRoot = root))
      .addPreJobHook(() => pre = true)
      .addPostJobHook(r => post = Some(r("lineitem").mismatchedPartitions))
      .run()
    assert(pre)
    val stats = results("lineitem")
    assert(post.contains(stats.mismatchedPartitions))
    assert(stats.matchedPartitions > 0)
    assert(stats.onlyInSource > 0 && stats.onlyInTarget > 0)
    // journal written and queryable through the ResultsApi
    val store = new MetadataStore(root)
    val api = new ResultsApi(store)
    assert(api.jobResults("job-e2e").count() === 1)
    assert(api.mismatchSummary("job-e2e").count() === 3) // 3 mismatch types
    assert(api.jobStatus("job-e2e").count() === 8)       // one row per bucket
    assert(!store.isRunning("job-e2e"))                  // lock released
    // job_summary-backed endpoints (the reference's index-table queries)
    assert(api.job("job-e2e").count() === 1)
    assert(api.recentJobs().count() === 1)
    assert(api.jobsByKeyspace("lineitem").count() === 1)
    assert(api.jobsByKeyspace("nope").count() === 0)
    assert(api.jobsBySourceCluster("ParquetSource").count() === 1)
    assert(api.jobsByStartDate("2000-01-01", "2999-01-01").count() === 1)
    assert(api.jobMismatches("job-e2e").count() > 0)
    assert(api.runningJobs().count() === 0)
    // errors journal exists (clean corpus => zero rows) and is queryable
    assert(api.jobErrors("job-e2e").count() === 0)
    assert(api.errorSummary("job-e2e").count() === 0)
    assert(api.errorRanges("job-e2e").count() === 0)
    // metrics parity (Differ.updateMetrics): per-table accumulator series
    def delta(name: String) = metric(name) - before(name)
    assert(delta("matched_partitions") === stats.matchedPartitions)
    assert(delta("mismatched_partitions") === stats.mismatchedPartitions)
    assert(delta("matched_values") === stats.matchedValues)
    assert(delta("partitions_read") === stats.matchedPartitions +
      stats.mismatchedPartitions + stats.onlyInSource + stats.onlyInTarget)
  }

  test("re-running a finished job id resumes to nothing; rerun=true re-compares") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val src = ParquetSource(Sf)
    val mkConfig = (rerun: Boolean) => DiffJobConfig("resume-job",
      Seq(Perturb.ordersSpec), DiffOptions(buckets = 4),
      metadataRoot = root, rerun = rerun)
    def run(rerun: Boolean) = {
      val stats = new DiffRunner(src, src, mkConfig(rerun)).run()
      assertTotalsMatchJournal(root, "resume-job", stats)
      stats("orders")
    }
    val first = run(false)
    assert(first.matchedPartitions > 0)
    // all 4 buckets journaled done -> a plain re-run does no new work but
    // still reports the WHOLE job's totals from the journal
    val store = new MetadataStore(root)
    val statusRowsAfterFirst = store.read("task_status").count()
    val second = run(false)
    assert(second === first)
    assert(store.read("task_status").count() === statusRowsAfterFirst) // no new buckets
    // rerun=true ignores the journal and re-compares everything
    val third = run(true)
    assert(third.matchedPartitions === first.matchedPartitions)
    // after the rerun the journal holds TWO rows per bucket; a plain
    // resume must take the latest row per bucket, not join data rows
    // against both (which would duplicate input rows into the diff)
    val fourth = run(false)
    assert(fourth === first)
    // append-only journal + latest-run dedupe: the API still serves ONE
    // row per table / bucket
    val api = new ResultsApi(store)
    assert(api.jobResults("resume-job").count() === 1)
    assert(api.jobStatus("resume-job").count() === 4)
  }

  test("incremental run re-diffs only digest-changed buckets and replays the rest") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val src = ParquetSource(Sf)
    def tgtOf(f: DataFrame => DataFrame) = new SourceProvider {
      def table(sp: SparkSession, name: String): DataFrame = f(src.table(sp, name))
      def listTables(sp: SparkSession): Seq[String] = src.listTables(sp)
    }
    val buckets = 64
    val mk = (root2: String) => DiffJobConfig("inc-job", Seq(Perturb.lineitemSpec),
      DiffOptions(buckets = buckets), metadataRoot = root2, incremental = true)
    def incRun(source: SourceProvider, target: SourceProvider) = {
      val stats = new DiffRunner(source, target, mk(root)).run()
      assertTotalsMatchJournal(root, "inc-job", stats)
      stats("lineitem")
    }
    // run 1: "yesterday" — stale target (no cell mutations yet)
    incRun(src, tgtOf(Perturb.lineitemTargetStale))
    val store = new MetadataStore(root)
    val bucketsRun1 = store.read("task_status").select("bucket").distinct().count()
    // run 2: "today" — the cell mutations landed; only their buckets re-diff
    val inc = incRun(src, tgtOf(Perturb.lineitemTarget))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("bucket")).orderBy(col("run_ts").desc)
    val runTss = store.read("task_status").select("run_ts").distinct().count()
    assert(runTss === 2, "expected two journaled runs")
    val secondRunBuckets = store.read("task_status")
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .groupBy("run_ts").count().orderBy(col("run_ts").desc)
      .select("count").as[Long].collect()
    // the fixture must be non-vacuous: run 2 re-diffed SOME buckets but
    // not all of them (the rest replay from run 1's journal rows)
    assert(secondRunBuckets(0) > 0 && secondRunBuckets(0) < bucketsRun1,
      s"run2 wrote ${secondRunBuckets(0)} of $bucketsRun1 buckets")
    // totals must equal a from-scratch full diff of the current pair
    val fullRoot = tmpRoot()
    val full = new DiffRunner(src, tgtOf(Perturb.lineitemTarget),
      DiffJobConfig("full-job", Seq(Perturb.lineitemSpec),
        DiffOptions(buckets = buckets), metadataRoot = fullRoot)).run()("lineitem")
    assert(inc === full)
    // the deduped mismatch view equals the full job's mismatch set
    val incSet = new ResultsApi(store).jobMismatches("inc-job")
      .select("token", "mismatch_type").as[(Long, String)].collect().toSet
    val fullSet = new ResultsApi(new MetadataStore(fullRoot))
      .jobMismatches("full-job")
      .select("token", "mismatch_type").as[(Long, String)].collect().toSet
    assert(incSet === fullSet && incSet.nonEmpty)
    // run 3: most partitions vanish from BOTH sides, emptying most
    // buckets entirely — retired buckets must get zero journal rows, not
    // replay run 2's counters forever
    def shrink(df: DataFrame): DataFrame = df.filter(col("l_orderkey") < 100)
    val srcShrunk = new SourceProvider {
      def table(sp: SparkSession, name: String): DataFrame =
        shrink(src.table(sp, name))
      def listTables(sp: SparkSession): Seq[String] = src.listTables(sp)
    }
    val shrunkTgt = tgtOf(d => Perturb.lineitemTarget(shrink(d)))
    val incShrunk = incRun(srcShrunk, shrunkTgt)
    val fullShrunk = new DiffRunner(srcShrunk, shrunkTgt,
      DiffJobConfig("full-shrunk", Seq(Perturb.lineitemSpec),
        DiffOptions(buckets = buckets), metadataRoot = tmpRoot())).run()("lineitem")
    assert(incShrunk === fullShrunk)
    // retirement really happened: the latest journal rows include
    // zeroed-out buckets
    val latest3 = store.read("task_status")
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
    val zeroed = latest3.filter(
      col("matched_partitions") + col("mismatched_partitions") +
        col("only_in_source") + col("only_in_target") === 0).count()
    assert(zeroed > 0, "expected retired buckets with zero rows")
    // run 4: the retired buckets' rows come back. Their latest digest is
    // the tombstone run 3 journaled, so they re-diff; without it they
    // would match run 2's digests and replay run 3's zeros
    val incBack = incRun(src, tgtOf(Perturb.lineitemTarget))
    assert(incBack === full)
  }

  test("mismatch reads: latest classification wins per (job, table, bucket, token)") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val store = new MetadataStore(root)
    // reference PK ((job_id, bucket), table, token): mismatch_type is a
    // VALUE — re-recording a token upserts, latest classification wins
    store.write("mismatches", Seq(
      ("t1", 1L, 42L, "PARTITION_MISMATCH", "j1", Some(1000L)),
      ("t1", 1L, 42L, "ONLY_IN_SOURCE", "j1", Some(2000L)),
      ("t1", 1L, 43L, "ONLY_IN_TARGET", "j1", Some(1000L)),
      // an unstamped row loses to any stamped row of its key
      ("t1", 1L, 44L, "ONLY_IN_SOURCE", "j1", None),
      ("t1", 1L, 44L, "ONLY_IN_TARGET", "j1", Some(1L)),
      // every row of a key's newest run is served, none dropped
      ("t1", 1L, 45L, "ONLY_IN_SOURCE", "j1", Some(1000L)),
      ("t1", 1L, 45L, "ONLY_IN_TARGET", "j1", Some(3000L)),
      ("t1", 1L, 45L, "PARTITION_MISMATCH", "j1", Some(3000L)))
      .toDF("table_name", "bucket", "token", "mismatch_type", "job_id", "run_ts"),
      partitionBy = Seq("job_id"))
    val got = new ResultsApi(store).jobMismatches("j1")
      .select("token", "mismatch_type").as[(Long, String)].collect().toSet
    assert(got === Set((42L, "ONLY_IN_SOURCE"), (43L, "ONLY_IN_TARGET"),
      (44L, "ONLY_IN_TARGET"), (45L, "ONLY_IN_TARGET"),
      (45L, "PARTITION_MISMATCH")))
    val keys = Seq("table_name", "bucket", "token")
    assert(windowOrExchange(store.latest("mismatches", "j1", keys)))
    // a job directory one run wrote is read without the window: every
    // row is its key's newest
    def journal(rows: Seq[(Long, String, Option[Long])], jobId: String): Unit =
      store.write("mismatches", rows.map { case (t, m, ts) =>
          ("t1", 1L, t, m, jobId, ts) }
        .toDF("table_name", "bucket", "token", "mismatch_type", "job_id", "run_ts"),
        partitionBy = Seq("job_id"))
    journal(Seq((1L, "ONLY_IN_SOURCE", Some(5L)), (1L, "ONLY_IN_TARGET", Some(5L)),
      (2L, "PARTITION_MISMATCH", Some(5L))), "one-run")
    val oneRun = store.latest("mismatches", "one-run", keys)
    assert(!windowOrExchange(oneRun))
    assert(oneRun.count() === 3)
    // one null run_ts in an otherwise single-stamp run keeps the window
    journal(Seq((1L, "ONLY_IN_SOURCE", Some(5L)), (1L, "ONLY_IN_TARGET", None)),
      "null-stamp")
    val nullStamp = store.latest("mismatches", "null-stamp", keys)
    assert(windowOrExchange(nullStamp))
    assert(nullStamp.select("mismatch_type").as[String].collect().toSeq ===
      Seq("ONLY_IN_SOURCE"))
    // two runs, each file single-stamped: the window decides
    journal(Seq((1L, "ONLY_IN_SOURCE", Some(5L))), "two-runs")
    journal(Seq((1L, "ONLY_IN_TARGET", Some(6L))), "two-runs")
    val twoRuns = store.latest("mismatches", "two-runs", keys)
    assert(windowOrExchange(twoRuns))
    assert(twoRuns.select("mismatch_type").as[String].collect().toSeq ===
      Seq("ONLY_IN_TARGET"))
  }

  test("re-run keeps the stored bucket count (params immutability)") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val src = ParquetSource(Sf)
    new DiffRunner(src, src, DiffJobConfig("params-job", Seq(Perturb.ordersSpec),
      DiffOptions(buckets = 4), metadataRoot = root)).run()
    // second run configured with 99 buckets must keep the stored 4
    new DiffRunner(src, src, DiffJobConfig("params-job", Seq(Perturb.ordersSpec),
      DiffOptions(buckets = 99), metadataRoot = root, rerun = true)).run()
    val store = new MetadataStore(root)
    val buckets = store.read("task_status")
      .filter(col("job_id") === "params-job")
      .select("bucket").distinct().count()
    assert(buckets === 4)
  }

  test("re-run keeps ALL stored params: filters, sampling, table list") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val src = ParquetSource(Sf)
    val first = new DiffRunner(src, src,
      DiffJobConfig("params-full", Seq(Perturb.ordersSpec),
        DiffOptions(buckets = 4), metadataRoot = root)).run()("orders")
    // re-run with conflicting sampling + token filters + an extra table:
    // the stored params must win or the journal's semantics silently change
    val rerun = new DiffRunner(src, src,
      DiffJobConfig("params-full", Seq(Perturb.ordersSpec, Perturb.lineitemSpec),
        DiffOptions(buckets = 99, samplingNum = 1, samplingDen = 1000,
          disallowedTokens = Seq(1L, 2L, 3L)),
        metadataRoot = root, rerun = true)).run()
    assert(!rerun.contains("lineitem")) // table not in the stored job
    assert(rerun("orders") === first)   // same scope ⇒ identical stats
  }

  test("re-run restores the FULL stored table set — omitted tables still diffed") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val src = ParquetSource(Sf)
    val first = new DiffRunner(src, src,
      DiffJobConfig("stored-set", Seq(Perturb.ordersSpec, Perturb.lineitemSpec),
        DiffOptions(buckets = 4), metadataRoot = root)).run()
    assert(first.keySet === Set("orders", "lineitem"))
    // a re-run submitted WITHOUT lineitem must still diff it: column roles
    // are reconstructed from the table_params journal, so the stored set
    // wins outright (reference params immutability, JobMetadataDb.java:432-490)
    val rerun = new DiffRunner(src, src,
      DiffJobConfig("stored-set", Seq(Perturb.ordersSpec),
        DiffOptions(buckets = 4), metadataRoot = root, rerun = true)).run()
    assert(rerun.keySet === Set("orders", "lineitem"))
    assert(rerun("lineitem") === first("lineitem"))
    assert(rerun("orders") === first("orders"))
  }

  test("journal appends publish atomically: stale staging invisible, appends exact") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val store = new MetadataStore(root)
    store.write("probe", Seq((1L, "a")).toDF("x", "y"))
    // a crashed attempt's leftover `.staging-*` dir must never be read
    // back as journal rows (hidden dirs are outside Spark's file index)
    Seq((99L, "dead")).toDF("x", "y").write
      .parquet(java.nio.file.Paths.get(root, "probe", ".staging-dead").toString)
    assert(store.read("probe").count() === 1)
    // a second append lands NEXT TO the first (publish must not overwrite)
    store.write("probe", Seq((2L, "b")).toDF("x", "y"))
    assert(store.read("probe").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
    // partitioned appends keep their job_id directory layout through the
    // staging rename, so per-job filters still prune at directory level
    store.write("bypart", Seq((1L, "j1")).toDF("v", "job_id"),
      partitionBy = Seq("job_id"))
    store.write("bypart", Seq((2L, "j2"), (3L, "j1")).toDF("v", "job_id"),
      partitionBy = Seq("job_id"))
    assert(Files.exists(java.nio.file.Paths.get(root, "bypart", "job_id=j1")))
    assert(Files.exists(java.nio.file.Paths.get(root, "bypart", "job_id=j2")))
    assert(store.read("bypart").filter(col("job_id") === "j1").count() === 2)
    assert(store.read("bypart").count() === 3)
  }

  test("concurrent appends to one partitioned dataset read back as their union") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val store = new MetadataStore(root)
    // half the writers append EMPTY frames, racing on the one `_schema`
    // marker, while the others publish data and drop their staging dirs
    // under a reader: whenever the dataset exists it must also read
    val frames = (0 until 8).map { i =>
      if (i % 2 == 0) Seq.empty[(Long, String)].toDF("v", "job_id")
      else Seq((i.toLong, s"j${i % 3}"), (i * 10L, "j0")).toDF("v", "job_id")
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(frames.size + 1)
    try {
      val writes = frames.map(df => pool.submit(new Runnable {
        def run(): Unit = store.write("shared", df, partitionBy = Seq("job_id"))
      }))
      val reader = pool.submit(new Runnable {
        def run(): Unit = while (!writes.forall(_.isDone))
          if (store.exists("shared")) store.read("shared").schema
      })
      writes.foreach(_.get())
      reader.get()
    } finally pool.shutdown()
    val expected = frames.flatMap(_.as[(Long, String)].collect()).sorted
    assert(store.read("shared").select("v", "job_id").as[(Long, String)]
      .collect().sorted.toSeq === expected)
    // one marker, no staging left behind
    val names = new java.io.File(root, "shared").list().toSet
    assert(names.contains("_schema"))
    assert(!names.exists(_.startsWith(".")), names)
  }

  test("a failing table: the others finish journaling, then the run throws and unlocks") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val src = ParquetSource(Sf)
    // two tables whose parquet is missing fail at once; orders must
    // still journal every bucket before run() rethrows
    val missing = Seq("no_such_a", "no_such_b")
      .map(t => graft.core.TableSpec(t, Seq("id")))
    val e = intercept[Exception](new DiffRunner(src, src,
      DiffJobConfig("half-job", missing.head +: Perturb.ordersSpec +: missing.tail,
        DiffOptions(buckets = 4), metadataRoot = root)).run())
    assert(e.getMessage.contains("no_such_a"), e.getMessage)
    assert(e.getSuppressed.map(_.getMessage).exists(_.contains("no_such_b")))
    val store = new MetadataStore(root)
    assert(!store.isRunning("half-job"))
    assert(store.read("task_status")
      .filter(col("job_id") === "half-job" && col("table_name") === "orders")
      .select("bucket").distinct().count() === 4)
    val walk = Files.walk(java.nio.file.Paths.get(root))
    try assert(!walk.anyMatch(_.getFileName.toString.startsWith(".staging-")))
    finally walk.close()
  }

  test("an interrupted job resumes only the unfinished table") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val src = ParquetSource(Sf)
    val tgt = new SourceProvider {
      def table(sp: SparkSession, name: String): DataFrame =
        if (name == "lineitem") Perturb.lineitemTarget(src.table(sp, name))
        else Perturb.ordersTarget(src.table(sp, name))
      def listTables(sp: SparkSession): Seq[String] = src.listTables(sp)
    }
    // the first run's lineitem source fails before anything is journaled
    val failing = new SourceProvider {
      def table(sp: SparkSession, name: String): DataFrame =
        if (name == "lineitem") sys.error("lineitem source down")
        else src.table(sp, name)
      def listTables(sp: SparkSession): Seq[String] = src.listTables(sp)
    }
    val buckets = 8
    val mk = (root2: String) => DiffJobConfig("partial-job",
      Seq(Perturb.ordersSpec, Perturb.lineitemSpec),
      DiffOptions(buckets = buckets), metadataRoot = root2)
    val e = intercept[Exception](new DiffRunner(failing, tgt, mk(root)).run())
    assert(e.getMessage.contains("lineitem source down"), e.getMessage)
    val store = new MetadataStore(root)
    def statusRows(table: String): Long = store.read("task_status")
      .filter(col("table_name") === table).count()
    val ordersRows = statusRows("orders")
    assert(ordersRows === buckets && statusRows("lineitem") === 0)
    def latestStatus = store.latest("task_status", "partial-job",
      Seq("table_name", "bucket"))
    assert(!windowOrExchange(latestStatus))
    // the healthy re-run diffs lineitem and skips every orders bucket
    val resumed = new DiffRunner(src, tgt, mk(root)).run()
    assertTotalsMatchJournal(root, "partial-job", resumed)
    // a second run stamped its own rows: the window keeps the newest
    assert(windowOrExchange(latestStatus))
    assert(statusRows("orders") === ordersRows)
    val whole = new DiffRunner(src, tgt, mk(tmpRoot())).run()
    assert(resumed === whole)
    assert(whole("lineitem").mismatchedPartitions > 0 &&
      whole("orders").mismatchedPartitions > 0)
    val status = new ResultsApi(store).jobStatus("partial-job")
    assert(status.count() === 2 * buckets)
    assert(status.select("table_name", "bucket").distinct().count() === 2 * buckets)
  }

  test("fully-matched job: every journal table reads back, empties included") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val src = ParquetSource(Sf)
    // identical sides + reverse validation on: mismatches AND
    // reverse_checks are both EMPTY partitioned sinks — they must still
    // come back as readable (zero-row) datasets, not schema-inference
    // failures. Two tables journal those empty sinks concurrently.
    new DiffRunner(src, src,
      DiffJobConfig("clean-job", Seq(Perturb.ordersSpec, Perturb.lineitemSpec),
        DiffOptions(buckets = 4, reverseReadProbability = 1.0),
        metadataRoot = root)).run()
    val store = new MetadataStore(root)
    for (t <- Seq("job_summary", "task_status", "mismatches",
        "reverse_checks", "errors", "job_results"))
      assert(store.exists(t), t)
    assert(store.read("mismatches").filter(col("job_id") === "clean-job").count() === 0)
    assert(store.read("reverse_checks").count() === 0)
    val api = new ResultsApi(store)
    assert(api.jobMismatches("clean-job").count() === 0)
    assert(api.mismatchSummary("clean-job").count() === 0)
    assert(api.jobResults("clean-job").count() === 2)
    assert(api.jobStatus("clean-job").count() === 8) // 4 buckets × 2 tables
    // both tables' rows carry the run's one stamp: no newest-run window
    assert(!windowOrExchange(api.jobResults("clean-job")))
    assert(!windowOrExchange(api.jobStatus("clean-job")))
    // a later job with real mismatches appends fine after the empty marker
    val tgt = new SourceProvider {
      def table(sp: SparkSession, name: String): DataFrame =
        Perturb.lineitemTarget(ParquetSource(Sf).table(sp, name))
      def listTables(sp: SparkSession): Seq[String] = src.listTables(sp)
    }
    new DiffRunner(src, tgt,
      DiffJobConfig("dirty-job", Seq(Perturb.lineitemSpec),
        DiffOptions(buckets = 4), metadataRoot = root)).run()
    assert(store.read("mismatches").filter(col("job_id") === "dirty-job").count() > 0)
    assert(store.read("mismatches").filter(col("job_id") === "clean-job").count() === 0)
  }

  test("repair=true journals the reconciliation script, served by the API") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val src = ParquetSource(Sf)
    val tgt = new SourceProvider {
      def table(sp: SparkSession, name: String): DataFrame =
        Perturb.lineitemTarget(ParquetSource(Sf).table(sp, name))
      def listTables(sp: SparkSession): Seq[String] = src.listTables(sp)
    }
    new DiffRunner(src, tgt,
      DiffJobConfig("repair-job", Seq(Perturb.lineitemSpec),
        DiffOptions(buckets = 4), metadataRoot = root, repair = true)).run()
    val api = new ResultsApi(new MetadataStore(root))
    val script = api.jobRepair("repair-job", Some("lineitem")).collect()
    assert(script.nonEmpty)
    // the standard perturbation exercises every repair class
    assert(script.map(_.getAs[String]("action")).toSet ===
      Set("INSERT", "UPDATE", "DELETE"))
    // the journaled script is EXACTLY what the standalone generator emits
    // for the same table pair — the runner adds reachability, not variance
    val standalone = graft.engine.Repair.repairStatements(
        src.table(spark, "lineitem"), tgt.table(spark, "lineitem"),
        Perturb.lineitemSpec)
      .select("statement").as[String].collect().sorted.toSeq
    assert(script.map(_.getAs[String]("statement")).sorted.toSeq === standalone)
    // table filter and unfiltered form agree; unknown table serves empty
    assert(api.jobRepair("repair-job").count() === script.length)
    assert(api.jobRepair("repair-job", Some("nope")).count() === 0)
    // a journal with no repair dataset serves an empty script, not a throw
    val root2 = tmpRoot()
    new DiffRunner(src, src, DiffJobConfig("norepair", Seq(Perturb.ordersSpec),
      DiffOptions(buckets = 4), metadataRoot = root2)).run()
    assert(new ResultsApi(new MetadataStore(root2)).jobRepair("norepair").count() === 0)
  }

  test("param restore tolerates a job_summary written by an older schema") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val store = new MetadataStore(root)
    // an older engine version journaled fewer columns: restore must use
    // what is stored (buckets=4) and fall back to config for the rest
    store.write("job_summary",
      Seq(("old-job", Seq("orders"), 4, "xxhash64", "2024-01-01T00:00:00.000Z"))
        .toDF("job_id", "keyspaces", "buckets", "partitioner", "start_time"))
    val src = ParquetSource(Sf)
    val stats = new DiffRunner(src, src,
      DiffJobConfig("old-job", Seq(Perturb.ordersSpec),
        DiffOptions(buckets = 99), metadataRoot = root)).run()("orders")
    assert(stats.matchedPartitions > 0)
    assert(store.read("task_status").filter(col("job_id") === "old-job")
      .select("bucket").distinct().count() === 4) // stored value wins
  }

  test("reverse-read validation pass journals verdict disagreements") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    // unequal duplicate-full-PK counts: forward pairing matches values,
    // reverse pairing mismatches them — the one genuinely order-sensitive
    // diff outcome; the validation pass must journal it
    val spec = graft.core.TableSpec("t", Seq("pk"), Seq("ck"), Seq("v"))
    val srcDf = Seq((1L, 1, 10), (1L, 1, 20), (1L, 1, 30)).toDF("pk", "ck", "v")
    val tgtDf = Seq((1L, 1, 10), (1L, 1, 20)).toDF("pk", "ck", "v")
    def provider(df: DataFrame) = new SourceProvider {
      def table(sp: SparkSession, name: String): DataFrame = df
      def listTables(sp: SparkSession): Seq[String] = Seq("t")
    }
    new DiffRunner(provider(srcDf), provider(tgtDf),
      DiffJobConfig("rev-job", Seq(spec),
        DiffOptions(buckets = 4, reverseReadProbability = 1.0),
        metadataRoot = root)).run()
    val store = new MetadataStore(root)
    val checks = store.read("reverse_checks")
      .filter(col("job_id") === "rev-job").collect()
    assert(checks.length === 1)
    // counters disagree but both passes classify it a mismatch
    assert(checks(0).getAs[String]("fwd_classification") ===
      checks(0).getAs[String]("rev_classification"))
  }

  test("job lifecycle runs on RandomPartitioner tokens end-to-end") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val src = ParquetSource(Sf)
    val stats = new DiffRunner(src, src,
      DiffJobConfig("random-job", Seq(Perturb.ordersSpec),
        DiffOptions(buckets = 4), metadataRoot = root,
        partitioner = "random")).run()("orders")
    // token choice cannot change the verdict counters
    val base = new DiffRunner(src, src,
      DiffJobConfig("xxh-job", Seq(Perturb.ordersSpec),
        DiffOptions(buckets = 4), metadataRoot = tmpRoot())).run()("orders")
    assert(stats === base)
    // the journal carries the 127-bit tokens as 39-char decimal strings
    val store = new MetadataStore(root)
    val lastTokens = store.read("task_status")
      .filter(col("job_id") === "random-job")
      .select("last_token").as[String].collect()
    assert(lastTokens.nonEmpty)
    lastTokens.foreach(t => assert(t.length === 39 && t.forall(_.isDigit), t))
    // resume: a second run of the finished job does no new bucket work
    val rowsAfterFirst = store.read("task_status")
      .filter(col("job_id") === "random-job").count()
    new DiffRunner(src, src,
      DiffJobConfig("random-job", Seq(Perturb.ordersSpec),
        DiffOptions(buckets = 4), metadataRoot = root,
        partitioner = "random")).run()
    assert(store.read("task_status")
      .filter(col("job_id") === "random-job").count() === rowsAfterFirst)
  }

  test("concurrent run of the same job id is refused") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val store = new MetadataStore(root)
    store.acquireRunLock("busy")
    val src = ParquetSource(Sf)
    val runner = new DiffRunner(src, src,
      DiffJobConfig("busy", Seq(Perturb.ordersSpec), metadataRoot = root))
    val e = intercept[IllegalArgumentException](runner.run())
    // the refusal names the lock's owner
    assert(e.getMessage.contains(store.runLockOwner("busy").get), e.getMessage)
    assert(store.isRunning("busy"))
  }

  test("schema ops: intersect drops disallowed + asymmetric; difference reports both sides") {
    val a = Seq("t1", "t2", "t3", "sys")
    val b = Seq("t2", "t3", "t4", "sys")
    assert(SchemaOps.intersect(a, b, Set("sys")) === Seq("t2", "t3"))
    assert(SchemaOps.difference(a, b) === Seq("t1", "t4"))
  }

  test("digestFirst on and off journal the same results: both partitioners, first run and incremental re-run") {
    implicit val s: SparkSession = spark
    val src = ParquetSource(Sf)
    def tgtOf(f: DataFrame => DataFrame) = new SourceProvider {
      def table(sp: SparkSession, name: String): DataFrame = f(src.table(sp, name))
      def listTables(sp: SparkSession): Seq[String] = src.listTables(sp)
    }
    val buckets = 256
    val li = src.table(spark, "lineitem")
    for (partitioner <- Seq("xxhash64", "random")) {
      // the fixture must reach both digest-first branches: clean buckets
      // credited from their digests, dirty buckets through the wide join
      val verdicts = DiffEngine.digestProgress(li, Perturb.lineitemTargetStale(li),
          Perturb.lineitemSpec, buckets, DiffEngine.tokenFunction(partitioner))
        .select("digest_match").as[Boolean].collect().toSet
      assert(verdicts === Set(true, false), s"$partitioner: vacuous digest split")
      // per run: stats, latest-per-bucket task_status counters, mismatches
      def job(digestFirst: Boolean) = {
        val root = tmpRoot()
        val cfg = DiffJobConfig("df-eq", Seq(Perturb.lineitemSpec),
          DiffOptions(buckets = buckets), metadataRoot = root,
          partitioner = partitioner, incremental = true,
          digestFirst = digestFirst)
        val store = new MetadataStore(root)
        def journaled() = {
          import org.apache.spark.sql.expressions.Window
          val w = Window.partitionBy(col("bucket")).orderBy(col("run_ts").desc)
          val latest = store.read("task_status")
            .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
            .select(col("bucket") +: col("last_token").cast("string") +:
              DiffEngine.Counters.map(col): _*)
          val mism = new ResultsApi(store).jobMismatches("df-eq")
            .select(col("bucket"), col("token").cast("string"), col("mismatch_type"))
          (latest.collect().map(_.toSeq).toSet, mism.collect().map(_.toSeq).toSet)
        }
        // run 1: the stale target; run 2: the cell mutations landed, so
        // the incremental re-run restricts to the changed buckets
        def run(tgt: SourceProvider) = {
          val stats = new DiffRunner(src, tgt, cfg).run()
          assertTotalsMatchJournal(root, "df-eq", stats)
          stats("lineitem")
        }
        val first = run(tgtOf(Perturb.lineitemTargetStale))
        val firstJournal = journaled()
        val firstRows = store.read("task_status").count()
        val second = run(tgtOf(Perturb.lineitemTarget))
        val secondRows = store.read("task_status").count() - firstRows
        assert(secondRows > 0 && secondRows < firstRows,
          s"$partitioner: re-run journaled $secondRows of $firstRows buckets")
        Seq((first, firstJournal), (second, journaled()))
      }
      val runs = Seq("first run", "incremental re-run")
      runs.zip(job(digestFirst = true).zip(job(digestFirst = false))).foreach {
        case (run, ((stats, (status, mism)), (stats0, (status0, mism0)))) =>
          val what = s"$partitioner, $run"
          assert(stats === stats0, what)
          assert(status === status0, s"$what: task_status")
          assert(mism === mism0 && mism.nonEmpty, s"$what: mismatches")
      }
    }
  }

  test("digestFirst: identical sides skip the wide join; perturbed results identical") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    implicit val s: SparkSession = spark
    val src = ParquetSource(Sf)
    val n = src.table(spark, "lineitem").count()

    final class ShuffleRecords extends SparkListener {
      val records = new java.util.concurrent.atomic.AtomicLong
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          records.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    def settled(l: ShuffleRecords): Long = {
      // listener events are delivered async; poll until the counter stops
      var prev = -1L
      var cur = l.records.get
      var spins = 0
      while (cur != prev && spins < 50) {
        prev = cur; Thread.sleep(200); cur = l.records.get; spins += 1
      }
      cur
    }
    def run(job: String, digest: Boolean,
        tgt: SourceProvider): (graft.core.RangeStats, Long) = {
      val l = new ShuffleRecords
      spark.sparkContext.addSparkListener(l)
      try {
        val stats = new DiffRunner(src, tgt,
          DiffJobConfig(job, Seq(Perturb.lineitemSpec),
            DiffOptions(buckets = 8), metadataRoot = tmpRoot(),
            digestFirst = digest)).run()("lineitem")
        (stats, settled(l))
      } finally spark.sparkContext.removeSparkListener(l)
    }

    // identical sides: every bucket digest-matches, so the wide full-PK
    // join gets ZERO input rows — the digest pass ships one narrow row
    // per PARTITION (the distinct-pk partial aggregate), never per data
    // row, so total shuffle records stay ≈ partitions + journal overhead
    // instead of ≥ 2n data rows
    val parts = src.table(spark, "lineitem").select("l_orderkey")
      .distinct().count()
    val (same, digestRecords) = run("df-same", digest = true, src)
    assert(same.mismatchedPartitions === 0 && same.onlyInSource === 0 &&
      same.onlyInTarget === 0 && same.mismatchedValues === 0)
    assert(same.matchedRows === n)
    assert(digestRecords < parts + 500,
      s"digest-first run shuffled $digestRecords records (n=$n, parts=$parts) — data rows reached the wide join")
    val (_, plainRecords) = run("df-plain", digest = false, src)
    assert(plainRecords > n,
      s"plain run shuffled only $plainRecords records (n=$n) — listener not capturing?")

    // perturbed pair: digest-first totals must be bit-identical to the
    // plain path (dirty buckets re-run the full diff, clean buckets are
    // arithmetic)
    val tgt = new SourceProvider {
      def table(sp: SparkSession, name: String): DataFrame =
        Perturb.lineitemTarget(src.table(sp, name))
      def listTables(sp: SparkSession): Seq[String] = src.listTables(sp)
    }
    val (a, _) = run("df-pert-digest", digest = true, tgt)
    val (b, _) = run("df-pert-plain", digest = false, tgt)
    assert(a === b)
    assert(a.mismatchedPartitions > 0 && a.onlyInSource > 0)
  }

  test("a random job and an xxhash64 job share one metadata root") {
    implicit val s: SparkSession = spark
    val src = ParquetSource(Sf)
    val tgt = new SourceProvider {
      def table(sp: SparkSession, name: String): DataFrame =
        Perturb.ordersTarget(src.table(sp, name))
      def listTables(sp: SparkSession): Seq[String] = src.listTables(sp)
    }
    // their tokens differ in type (39-digit strings vs bigints) in
    // mismatches, task_status, repair_scripts and the runner's own reads
    def job(root: String, id: String, partitioner: String) = {
      val stats = new DiffRunner(src, tgt, DiffJobConfig(id,
        Seq(Perturb.ordersSpec), DiffOptions(buckets = 4), metadataRoot = root,
        partitioner = partitioner, repair = true)).run()
      assertTotalsMatchJournal(root, id, stats)
      stats
    }
    // every endpoint's rows for one job, tokens rendered as strings
    def served(root: String, id: String): Map[String, Set[Seq[Any]]] = {
      val api = new ResultsApi(new MetadataStore(root))
      def rows(df: DataFrame, cols: String*) = df
        .select(cols.map(c => if (c.contains("token")) col(c).cast("string") else col(c)): _*)
        .collect().map(_.toSeq).toSet
      val repair = Seq("table_name", "token", "action", "statement")
      Map(
        "job" -> rows(api.job(id), "job_id", "partitioner", "buckets"),
        "results" -> rows(api.jobResults(id),
          "table_name" +: DiffEngine.Counters :+ "skipped_partitions": _*),
        "status" -> rows(api.jobStatus(id), "table_name", "bucket", "status", "last_token"),
        "mismatches" -> rows(api.jobMismatches(id), "table_name", "bucket", "token",
          "mismatch_type"),
        "mismatchSummary" -> rows(api.mismatchSummary(id), "table_name", "mismatch_type", "n"),
        "errors" -> rows(api.jobErrors(id), "table_name", "token"),
        "errorSummary" -> rows(api.errorSummary(id), "table_name", "n"),
        "errorRanges" -> rows(api.errorRanges(id), "table_name", "token"),
        "repair" -> rows(api.jobRepair(id), repair: _*),
        "repairOrders" -> rows(api.jobRepair(id, Some("orders")), repair: _*))
    }
    val shared = tmpRoot()
    val a = job(shared, "a", "random")
    val b = job(shared, "b", "xxhash64")
    val aAgain = job(shared, "a", "random") // resumes: every bucket done
    val (freshA, freshB) = (tmpRoot(), tmpRoot())
    val alone = Map("a" -> job(freshA, "a", "random"),
      "b" -> job(freshB, "b", "xxhash64"))
    assert(a === alone("a") && aAgain === alone("a") && b === alone("b"))
    for ((id, fresh) <- Seq("a" -> freshA, "b" -> freshB)) {
      val got = served(shared, id)
      assert(got === served(fresh, id), id)
      assert(got("mismatches").nonEmpty && got("repair").nonEmpty &&
        got("status").size === 4, id)
    }
    // the random job's tokens really are the 39-digit strings
    assert(served(shared, "a")("mismatches").forall(
      _(2).asInstanceOf[String].length === 39))
  }

  test("journal reads run no Spark job; a one-table run's job count is pinned") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val src = ParquetSource(Sf)
    val tgt = new SourceProvider {
      def table(sp: SparkSession, name: String): DataFrame =
        Perturb.ordersTarget(src.table(sp, name))
      def listTables(sp: SparkSession): Seq[String] = src.listTables(sp)
    }
    val run = jobsOf {
      new DiffRunner(src, tgt, DiffJobConfig("count-job", Seq(Perturb.ordersSpec),
        DiffOptions(buckets = 4), metadataRoot = root)).run()
    }
    val journalRead = "graft.journal.MetadataStore.(read|load|readJob|latest)\\b.*"
    val sourceSchema = "graft.sources.ParquetSource.*"
    assert(!run.exists(j => j.matches(journalRead) || j.matches(sourceSchema)),
      run.mkString("\n"))
    // measured when sources took their schema from one footer and the
    // journal's local frames were written on the driver
    assert(run.size <= 8, run.mkString("\n"))
    // every journal dataset and every endpoint resolves its schema from
    // parquet footers on the driver, an unknown job's empty frame included
    val store = new MetadataStore(root)
    val api = new ResultsApi(store)
    val datasets = new java.io.File(root).list().toSeq.filter(_ != "running_jobs")
    assert(datasets.contains("mismatches") && datasets.contains("task_status"))
    var unknown = Option.empty[DataFrame]
    val reads = jobsOf {
      datasets.foreach(t => store.read(t).schema)
      for (id <- Seq("count-job", "nope")) {
        Seq("task_status", "mismatches", "job_results").foreach(t =>
          store.latest(t, id, Seq("table_name")).schema)
        Seq(api.job(id), api.jobResults(id), api.jobStatus(id),
          api.jobMismatches(id), api.mismatchSummary(id), api.jobErrors(id),
          api.jobRepair(id), api.recentJobs()).foreach(_.schema)
      }
      unknown = Some(store.latest("task_status", "nope", Seq("table_name", "bucket")))
    }
    assert(reads.isEmpty, reads.mkString("\n"))
    // nothing was quarantined: `errors` publishes no zero-row file, only
    // its schema marker, and serves no row
    assert(GraftParquetBridge.dataFiles(Paths.get(root, "errors")).isEmpty)
    assert(api.jobErrors("count-job").count() === 0)
    assert(unknown.get.count() === 0 &&
      unknown.get.columns.toSet.contains("last_token"))
    // the journal's local frames are written on the driver
    val local = Seq(("count-job", "t", 1L)).toDF("job_id", "table_name", "run_ts")
    assert(jobsOf {
      store.write("job_summary", local)
      store.write("task_status", local, partitionBy = Seq("job_id"))
      store.write("task_status", local.limit(0), partitionBy = Seq("job_id"))
    }.isEmpty)
    // a fully matching run journals empty mismatches: their schema
    // marker is written on the driver too, and reads back
    val clean = tmpRoot()
    val cleanRun = jobsOf {
      new DiffRunner(src, src, DiffJobConfig("clean-job", Seq(Perturb.ordersSpec),
        DiffOptions(buckets = 4), metadataRoot = clean)).run()
    }
    assert(!cleanRun.exists(_.contains("writeSchemaMarker")), cleanRun.mkString("\n"))
    val cleanStore = new MetadataStore(clean)
    assert(Files.exists(Paths.get(clean, "mismatches", "_schema")))
    assert(new ResultsApi(cleanStore).jobMismatches("clean-job").count() === 0)
    assert(cleanStore.read("mismatches").columns.contains("mismatch_type"))
  }

  test("journal reads on the driver and through Spark serve the same rows") {
    implicit val s: SparkSession = spark
    val src = ParquetSource(Sf)
    // one null-key orders row per side: quarantined into `errors`
    def withNullKey(df: DataFrame): DataFrame =
      df.unionByName(df.limit(1).withColumn("o_orderkey", lit(null).cast("long")))
    def provider(f: DataFrame => DataFrame) = new SourceProvider {
      def table(sp: SparkSession, name: String): DataFrame = f(src.table(sp, name))
      def listTables(sp: SparkSession): Seq[String] = src.listTables(sp)
    }
    val dirty = provider(df => withNullKey(Perturb.ordersTarget(df)))
    def run(root: String, id: String, tgt: SourceProvider, incremental: Boolean = false,
        partitioner: String = "xxhash64"): Unit =
      new DiffRunner(provider(withNullKey), tgt, DiffJobConfig(id, Seq(Perturb.ordersSpec),
        DiffOptions(buckets = 16), metadataRoot = root, partitioner = partitioner,
        incremental = incremental, repair = true)).run()
    // bigint tokens: a job id that needs escaping, journaled by two
    // incremental runs (a clean target, then a dirty one), next to a job
    // one run wrote and a job_summary row of an older schema with nulls
    val root = tmpRoot()
    val (escaped, oneRun) = ("job/1 :x%=y", "one-run")
    new MetadataStore(root).write("job_summary",
      Seq(("old-job", Seq("orders"), 4, Option.empty[Double], "2024-01-01T00:00:00.000Z"))
        .toDF("job_id", "keyspaces", "buckets", "reverse_read_probability", "start_time"))
    run(root, escaped, provider(withNullKey), incremental = true)
    run(root, escaped, dirty, incremental = true)
    run(root, oneRun, dirty)
    // string tokens, and an `errors` dataset that is only its marker
    val random = tmpRoot()
    new DiffRunner(src, provider(Perturb.ordersTarget), DiffJobConfig("r",
      Seq(Perturb.ordersSpec), DiffOptions(buckets = 16), metadataRoot = random,
      partitioner = "random")).run()
    def schemaOf(root: String, t: String) = new MetadataStore(root).read(t).schema
    assert(schemaOf(root, "bucket_digests")("src_sum").dataType.simpleString === "decimal(38,0)")
    assert(schemaOf(root, "mismatches")("token").dataType.simpleString === "bigint")
    assert(schemaOf(random, "mismatches")("token").dataType.simpleString === "string")
    assert(GraftParquetBridge.dataFiles(Paths.get(random, "errors")).isEmpty &&
      Files.exists(Paths.get(random, "errors", "_schema")))
    // every dataset read whole, and every job's reads and endpoints
    def served(root: String, ids: Seq[String]): Seq[(String, String, Seq[String])] = {
      val store = new MetadataStore(root)
      val api = new ResultsApi(store)
      val datasets = new java.io.File(root).list().toSeq.filter(_ != "running_jobs").sorted
      val byJob = ids.flatMap { id =>
        Seq("task_status" -> Seq("bucket"), "bucket_digests" -> Seq("bucket"),
            "mismatches" -> Seq("bucket", "token"), "repair_scripts" -> Seq("token"),
            "job_results" -> Nil)
          .filter(t => store.exists(t._1)).map { case (t, keys) => s"$id latest $t" ->
            store.latest(t, id, "table_name" +: keys) } ++
          Seq("job" -> api.job(id), "jobResults" -> api.jobResults(id),
            "jobStatus" -> api.jobStatus(id), "jobMismatches" -> api.jobMismatches(id),
            "mismatchSummary" -> api.mismatchSummary(id), "jobErrors" -> api.jobErrors(id),
            "errorSummary" -> api.errorSummary(id), "errorRanges" -> api.errorRanges(id),
            "jobRepair" -> api.jobRepair(id, Some("orders")))
            .map { case (n, df) => s"$id $n" -> df }
      }
      (datasets.map(t => s"read $t" -> store.read(t)) ++ byJob ++
          Seq("recentJobs" -> api.recentJobs(), "jobsByKeyspace" -> api.jobsByKeyspace("orders")))
        .map { case (n, df) => (n, df.schema.toDDL, sortedRows(df)) }
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    def onSpark[T](body: => T): T = {
      val saved = spark.conf.getOption(key)
      spark.conf.set(key, "-1")
      try body finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    for ((r, ids) <- Seq(root -> Seq(escaped, oneRun, "old-job", "nope"), random -> Seq("r"))) {
      val local = served(r, ids)
      val scanned = onSpark(served(r, ids))
      assert(local.map(_._1) === scanned.map(_._1))
      local.zip(scanned).foreach { case (l, s) => assert(l === s, l._1) }
      assert(local.exists { case (n, _, rows) => n.endsWith("jobMismatches") && rows.nonEmpty })
    }
    assert(served(root, Seq(escaped)).collectFirst {
      case (n, _, rows) if n.endsWith(" jobErrors") => rows.size } === Some(2))
    // a one-run job's endpoints collect on the driver, its mismatches
    // counted there too. Under the -1 threshold every read scans
    val api = new ResultsApi(new MetadataStore(root))
    def endpoints(): Unit = Seq(api.job(oneRun), api.jobResults(oneRun),
      api.jobStatus(oneRun), api.jobMismatches(oneRun),
      api.mismatchSummary(oneRun)).foreach(_.collect())
    assert(jobsOf(endpoints()).isEmpty)
    assert(onSpark(jobsOf(endpoints())).size >= 5)
  }

  test("a journal read above the driver's bound is a Spark scan and serves the same counts") {
    implicit val s: SparkSession = spark
    val store = new MetadataStore(tmpRoot())
    // one run's mismatches of a job: a third ONLY_IN_SOURCE
    def mismatches(id: String, n: Long): Unit = store.write("mismatches",
      spark.range(n).select(lit(id).as("job_id"), lit("orders").as("table_name"),
        (col("id") % 16).cast("int").as("bucket"), (col("id") * 2654435761L).as("token"),
        when(col("id") % 3 === 0, "ONLY_IN_SOURCE").otherwise("CONTENT_MISMATCH")
          .as("mismatch_type"), lit(1L).as("run_ts")), partitionBy = Seq("job_id"))
    assert(MetadataStore.DriverReadRows < 40000)
    mismatches("big", 40000)
    mismatches("small", 10)
    val api = new ResultsApi(store)
    assert(jobsOf(api.jobMismatches("small").collect()).isEmpty)
    assert(jobsOf(api.jobMismatches("big").collect()).nonEmpty)
    def counts(id: String): Map[String, Long] = api.mismatchSummary(id).collect()
      .map(r => r.getAs[String]("mismatch_type") -> r.getAs[Long]("n")).toMap
    assert(counts("big") === Map("ONLY_IN_SOURCE" -> 13334L, "CONTENT_MISMATCH" -> 26666L))
    assert(counts("small") === Map("ONLY_IN_SOURCE" -> 4L, "CONTENT_MISMATCH" -> 6L))
    assert(api.mismatchSummary("big").schema === api.mismatchSummary("small").schema)
  }

  test("the parquet bridge resolves Spark's private reader set-up by name") {
    assert(GraftParquetBridge.SetupHadoopConf.getName === "setupHadoopConf")
  }

  test("incremental and digest-first runs decide their buckets on the driver: job counts pinned") {
    implicit val s: SparkSession = spark
    val src = ParquetSource(Sf)
    def tgtOf(f: DataFrame => DataFrame) = new SourceProvider {
      def table(sp: SparkSession, name: String): DataFrame = f(src.table(sp, name))
      def listTables(sp: SparkSession): Seq[String] = src.listTables(sp)
    }
    // (incremental, digestFirst) -> most Spark jobs of (first run, re-run):
    // the stale target, then the current one. Each digest pass is
    // collected once and every bucket is decided from collected rows. A
    // re-run reads its stored params and prior rows on the driver
    // (re-runs were 9/9/16/17 while they took a Spark job each)
    val bounds = Seq((false, false) -> (8, 6), (false, true) -> (13, 6),
      (true, false) -> (11, 12), (true, true) -> (13, 13))
    for (((incremental, digestFirst), (maxFirst, maxRerun)) <- bounds) {
      val what = s"incremental=$incremental digestFirst=$digestFirst"
      val cfg = DiffJobConfig("pinned", Seq(Perturb.lineitemSpec),
        DiffOptions(buckets = 64), metadataRoot = tmpRoot(),
        incremental = incremental, digestFirst = digestFirst)
      val first = jobsOf(new DiffRunner(src, tgtOf(Perturb.lineitemTargetStale), cfg).run())
      val rerun = jobsOf(new DiffRunner(src, tgtOf(Perturb.lineitemTarget), cfg).run())
      assert(first.size <= maxFirst, s"$what, first run:\n${first.mkString("\n")}")
      assert(rerun.size <= maxRerun, s"$what, re-run:\n${rerun.mkString("\n")}")
      // bucket_digests rows are written by the driver
      assert(!(first ++ rerun).exists(_.endsWith("writes bucket_digests")), what)
      if (incremental)
        assert(Files.exists(Paths.get(cfg.metadataRoot, "bucket_digests", "job_id=pinned")), what)
    }
  }

  test("an interrupted digestFirst job resumes to an uninterrupted job's journal") {
    implicit val s: SparkSession = spark
    val src = ParquetSource(Sf)
    val buckets = 64
    val token = DiffEngine.tokenFunction("xxhash64")
    def tgt(name: String, df: DataFrame): DataFrame =
      if (name == "lineitem") Perturb.lineitemTargetStale(df) else Perturb.ordersTarget(df)
    // the first run journals orders' even buckets only, as a run cut after
    // journaling them would, and its lineitem source fails
    def evenBuckets(df: DataFrame): DataFrame =
      df.filter(DiffEngine.bucketOf(df, token(Seq(col("o_orderkey"))), buckets) % 2 === 0)
    def provider(side: (String, DataFrame) => DataFrame) = new SourceProvider {
      def table(sp: SparkSession, name: String): DataFrame = side(name, src.table(sp, name))
      def listTables(sp: SparkSession): Seq[String] = src.listTables(sp)
    }
    val cut = (name: String, df: DataFrame) =>
      if (name == "lineitem") sys.error("lineitem source down") else evenBuckets(df)
    val cutTgt = (name: String, df: DataFrame) =>
      if (name == "lineitem") tgt(name, df) else evenBuckets(tgt(name, df))
    def cfg(root: String) = DiffJobConfig("df-resume",
      Seq(Perturb.ordersSpec, Perturb.lineitemSpec), DiffOptions(buckets = buckets),
      metadataRoot = root, digestFirst = true)
    // stats, newest task_status row per (table, bucket) and the mismatch set
    def journaled(root: String) = {
      val api = new ResultsApi(new MetadataStore(root))
      def rows(df: DataFrame, cols: Seq[String]) =
        df.select(cols.map(c => if (c.contains("token")) col(c).cast("string") else col(c)): _*)
          .collect().map(_.toSeq).toSet
      (rows(new MetadataStore(root).latest("task_status", "df-resume",
          Seq("table_name", "bucket")),
          Seq("table_name", "bucket", "status", "last_token") ++ DiffEngine.Counters),
        rows(api.jobMismatches("df-resume"), Seq("table_name", "bucket", "token", "mismatch_type")))
    }
    val root = tmpRoot()
    val e = intercept[Exception](
      new DiffRunner(provider(cut), provider(cutTgt), cfg(root)).run())
    assert(e.getMessage.contains("lineitem source down"), e.getMessage)
    val resumed = new DiffRunner(provider((_, df) => df), provider(tgt), cfg(root)).run()
    val wholeRoot = tmpRoot()
    val whole = new DiffRunner(provider((_, df) => df), provider(tgt), cfg(wholeRoot)).run()
    assert(resumed === whole)
    val (status, mism) = journaled(root)
    assert((status, mism) === journaled(wholeRoot))
    assert(status.size === 2 * buckets && mism.nonEmpty)
    // non-vacuous: the resumed run's pending orders buckets had both
    // digest verdicts, and the interruption left half of them done
    val verdicts = DiffEngine.digestProgress(src.table(spark, "orders"),
        tgt("orders", src.table(spark, "orders")), Perturb.ordersSpec, buckets, token)
      .filter(col("bucket") % 2 === 1).select("digest_match").as[Boolean].collect().toSet
    assert(verdicts === Set(true, false))
    assert(new MetadataStore(root).read("task_status")
      .filter(col("table_name") === "orders").count() === buckets)
  }

  test("a re-run serves each table's quarantined rows of its newest run only") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val src = ParquetSource(Sf)
    // one null-key orders row per side
    def withNullKey(df: DataFrame): DataFrame =
      df.unionByName(df.limit(1).withColumn("o_orderkey", lit(null).cast("long")))
    val side = new SourceProvider {
      def table(sp: SparkSession, name: String): DataFrame = withNullKey(src.table(sp, name))
      def listTables(sp: SparkSession): Seq[String] = src.listTables(sp)
    }
    def run(): Unit = new DiffRunner(side, side, DiffJobConfig("quarantined",
      Seq(Perturb.ordersSpec), DiffOptions(buckets = 4), metadataRoot = root)).run()
    val store = new MetadataStore(root)
    val api = new ResultsApi(store)
    def served = (api.jobErrors("quarantined").select("origin", "error").as[(String, String)]
        .collect().sorted.toSeq,
      api.errorSummary("quarantined").as[(String, Long)].collect().toSeq,
      api.errorRanges("quarantined").count())
    val want = (Seq(("source", "null_pk_o_orderkey"), ("target", "null_pk_o_orderkey")),
      Seq(("orders", 2L)), 1L)
    run()
    assert(served === want)
    // a plain resumed re-run quarantines the rows again; each table's
    // newest run is served, and a row journaled before rows were stamped
    // loses to it
    run()
    val unstamped = Seq(("source", "null_pk_o_orderkey", Option.empty[Long], "∅",
        "orders", "quarantined")).toDF("origin", "error", "token", "pk", "table_name", "job_id")
    store.write("errors", unstamped)
    assert(store.read("errors").filter(col("job_id") === "quarantined").count() === 5)
    assert(served === want)
    // a root whose errors were all journaled unstamped serves them as read
    val old = new MetadataStore(tmpRoot())
    old.write("errors", unstamped)
    assert(new ResultsApi(old).jobErrors("quarantined").count() === 1)
  }

  test("a partitioned parquet source reads as spark.read.parquet, without a job") {
    implicit val s: SparkSession = spark
    val root = tmpRoot()
    val rows = (0 until 20).map(i => (i.toLong, s"v$i", i % 3, s"r${i % 2}"))
      .toDF("id", "v", "year", "region")
    rows.write.partitionBy("year", "region").parquet(s"$root/events.parquet")
    rows.write.parquet(s"$root/flat.parquet")
    for (t <- Seq("events", "flat")) {
      var got = Option.empty[DataFrame]
      assert(jobsOf { got = Some(ParquetSource(root).table(spark, t)) }.isEmpty, t)
      val want = spark.read.parquet(s"$root/$t.parquet")
      assert(got.get.schema === want.schema, t)
      assert(sortedRows(got.get) === sortedRows(want), t)
    }
    assert(ParquetSource(root).table(spark, "events").schema.fieldNames.toSeq ===
      Seq("id", "v", "year", "region"))
    // a directory with no data file fails as Spark's inference does
    Files.createDirectories(Paths.get(root, "empty.parquet"))
    val mine = intercept[Exception](ParquetSource(root).table(spark, "empty"))
    val theirs = intercept[Exception](spark.read.parquet(s"$root/empty.parquet"))
    assert(mine.getMessage === theirs.getMessage)
  }
}
