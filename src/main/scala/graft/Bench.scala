package graft
import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Execution-footprint accounting: total shuffle bytes and spill across
  * the bench — the scale-relevant signal (a fast-but-shuffle-heavy plan
  * stops being fast at 1000 executors) — and the jobs, stages and tasks
  * each job group scheduled. At small scale the per-action fixed cost
  * (planning + scheduling + result handling) dominates many queries, so
  * the job count is the direct measurement behind any "converted an eager
  * materialization to a lazy one" claim, which a plan dump cannot show.
  */
private final class FootprintListener extends SparkListener {
  val shuffleRead = new java.util.concurrent.atomic.AtomicLong
  val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
  val spill = new java.util.concurrent.atomic.AtomicLong
  /** job group → (jobs, stages, tasks); written on the listener-bus
    * thread only, read once spark.stop() has drained and joined it
    */
  val perGroup = mutable.HashMap.empty[String, Array[Long]]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private def count(group: String, i: Int): Unit =
    perGroup.getOrElseUpdate(group, new Array[Long](3))(i) += 1
  override def onJobStart(j: SparkListenerJobStart): Unit =
    // the key SparkContext.setJobGroup writes (its constant is private)
    Option(j.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      count(g, 0)
      j.stageIds.foreach(stageGroup(_) = g)
    }
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    stageGroup.get(s.stageInfo.stageId).foreach(count(_, 1))
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    stageGroup.get(t.stageId).foreach(count(_, 2))
    val m = t.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
    }
  }
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // SPARK_GRAFT_LOG_LEVEL=INFO surfaces the codegen-fallback notices
    // ("Found too long generated codes…" logs at INFO) for plan audits;
    // default WARN keeps the bench line readable
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_LOG_LEVEL", "WARN"))
    val footprint = new FootprintListener
    spark.sparkContext.addSparkListener(footprint)
    // Each query runs SPARK_GRAFT_REPEAT times and reports the fastest —
    // steady-state measurement (JIT + page cache warm), which is what a
    // long-running cluster job actually sees. Default 5: this VM shows
    // intermittent multi-second single-task stalls; with ~40 queries a
    // stall lands on ALL of a query's repeats often enough at min-of-3
    // that some query is inflated nearly every run (observed 25% total
    // swing), while min-of-5 makes that rare for ~2 min extra bench time.
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "5").toInt
    val selected = SparkEntry.queries.filter { case (n, _) => SparkEntry.selected(n) }
    // untimed warm-up: exercise codegen/JIT/parquet-footer paths once so
    // measured times reflect the engine, not first-query JVM warm-up
    // Force queries through the V2 noop sink, NOT count(): count() lets
    // Catalyst prune every computed column the count doesn't need and
    // eliminate unique-key left joins outright, so wide-output operators
    // (reassembled clean_text, redacted strings, resized payloads) were
    // timed as little more than their scans — the 100× audit exposed
    // dedup_exact_substr "running" 500k docs faster than 5k. The noop
    // write materializes every row and column (what Verify's parquet
    // dump and any real consumer pays) with zero I/O.
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    try {
      SparkEntry.queries.get("q1_agg").foreach(q => force(q(spark, sfDir)))
      SparkEntry.queries.get("diff_range_stats").foreach(q => force(q(spark, sfDir)))
    } catch { case _: Throwable => () }
    // Full untimed warm-up pass (SPARK_GRAFT_WARMUP=0 to skip): run every
    // selected query once before any timing, so each query's codegen
    // compile, parquet footer reads, and JIT tiers are paid OUTSIDE the
    // measured repeats. The driver's single-invocation run is the number
    // of record; without this, a cold first repeat plus this VM's
    // intermittent task stalls put tail queries 2-10x above the archived
    // min-of-N floors (r13 VERDICT task #4).
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0")
      selected.foreach { case (_, fn) =>
        try force(fn(spark, sfDir)) catch { case _: Throwable => () }
      }
    // A repeat that throws yields NO time — a broken query must never
    // surface as a (fast) timing row. Queries with zero successful repeats
    // go in a separate "failed" key, excluded from "queries" and "value"
    // (round 7 shipped 8 time-to-throw entries as the "fastest" queries).
    // The first timed repeat runs in the query's job group, so the
    // footprint listener counts the jobs, stages and tasks it scheduled.
    val runs = selected.map { case (name, fn) =>
      val times = (1 to repeat).flatMap { r =>
        if (r == 1) spark.sparkContext.setJobGroup(name, name)
        val t0 = System.nanoTime()
        val ok = try { force(fn(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name threw: ${e.getMessage}"); false }
        val t = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.clearJobGroup()
        if (ok) Some(t) else None
      }
      if (repeat > 1 && times.nonEmpty)
        System.err.println(s"[bench] $name: ${times.map(t => f"$t%.2f").mkString(" ")}")
      name -> times
    }
    val results = runs.collect { case (n, ts) if ts.nonEmpty => n -> ts.min }
    val failed = runs.collect { case (n, ts) if ts.isEmpty => n }.toSeq
    // stopping drains the listener bus, so every counter below is final
    spark.stop()
    // ms precision: 243 queries at full double precision made the one-line
    // JSON ~9 KB and the driver's stdout tail capture truncated its head —
    // PERF had parsed:null (no per-query comparison) for three straight
    // rounds. Sub-ms digits are far below this VM's run-to-run noise, so
    // nothing real is lost; the full-precision report still lands in
    // SPARK_GRAFT_BENCH_OUT below.
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val json =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"""" +
        s""","shuffle_read_bytes":${footprint.shuffleRead.get}""" +
        s""","shuffle_write_bytes":${footprint.shuffleWrite.get}""" +
        s""","spilled_bytes":${footprint.spill.get}}"""
    println(json)
    // also persist the full report: stdout tails get truncated by log
    // capture, which has lost per-query times in past runs — the file is
    // the self-contained artifact, and alone carries each query's
    // footprint (its first timed repeat)
    val footprintJson = results.keys.map { n =>
      val Array(jobs, stages, tasks) = footprint.perGroup.getOrElse(n, Array(0L, 0L, 0L))
      s""""$n":{"jobs":$jobs,"stages":$stages,"tasks":$tasks}"""
    }.mkString("{", ",", "}")
    val report = json.dropRight(1) + s""","footprint":$footprintJson}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_report.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      report.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] report write failed: $e") }
  }
}
