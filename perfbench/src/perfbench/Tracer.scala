package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans around calls into the engine's modules, plus a SparkListener
  * that counts what the Spark runtime did under them. Disabled, it only
  * runs the wrapped code: untraced runs register no listener.
  *
  * Each Spark job is attributed to a module: the innermost `graft.<module>`
  * frame of the call site of its SQL execution (AQE sub-jobs share their
  * execution id), else of its result stage, else the module of the span
  * the benchmark had open when the job was submitted.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {

  /** `trace` groups the spans of one job (or one probe pass). */
  final case class Span(name: String, trace: String, start: Double, end: Double,
      parent: String)

  /** Cumulative runtime counters; subtract two snapshots for a window. */
  final case class Counters(jobs: Long, stages: Long, tasks: Long,
      taskMs: Long, shuffleBytes: Long, spillBytes: Long, taskWaitMs: Long,
      busyWallMs: Long, jobsByModule: Map[String, Long], gcMs: Long) {
    def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, taskMs - o.taskMs, shuffleBytes - o.shuffleBytes,
      spillBytes - o.spillBytes, taskWaitMs - o.taskWaitMs,
      busyWallMs - o.busyWallMs,
      (jobsByModule.keySet ++ o.jobsByModule.keySet).map(k =>
        k -> (jobsByModule.getOrElse(k, 0L) - o.jobsByModule.getOrElse(k, 0L))).toMap,
      gcMs - o.gcMs)
  }

  private val SpanModule = "perfbench.module"
  var traceId = ""
  private val epoch = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[String]

  private object Listener extends SparkListener {
    var jobs, stages, tasks, taskMs, shuffle, spill, waitMs, busyMs = 0L
    var started, ended = 0L
    var active = 0
    var busySince = 0L
    val execModule = mutable.Map.empty[Long, String]
    val stageSubmit = mutable.Map.empty[Int, Long]
    val byModule = mutable.Map.empty[String, Long].withDefaultValue(0L)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        Tracer.moduleOf(s.details).foreach(m => execModule(s.executionId) = m)
      }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      started += 1
      jobs += 1
      if (active == 0) busySince = e.time
      active += 1
      val props = Option(e.properties)
      val fromExec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execModule.get(id.toLong))
      val fromStage = e.stageInfos.sortBy(-_.stageId).headOption
        .flatMap(s => Tracer.moduleOf(s.details))
      val fromSpan = props.flatMap(p => Option(p.getProperty(SpanModule)))
      byModule(fromExec.orElse(fromStage).orElse(fromSpan).getOrElse("unattributed")) += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      ended += 1
      active -= 1
      if (active == 0) busyMs += e.time - busySince
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
      stageSubmit.remove(e.stageInfo.stageId)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      taskMs += e.taskInfo.duration
      stageSubmit.get(e.stageId).foreach(s => waitMs += math.max(0L, e.taskInfo.launchTime - s))
      Option(e.taskMetrics).foreach { m =>
        shuffle += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(Listener)

  /** Wait until the listener has seen every event posted so far and every
    * started Spark job has ended; no fixed sleep.
    */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 60L * 1000000000L
    var settled = false
    while (!settled) {
      org.apache.spark.PerfBenchBridge.drainListenerBus(spark, 60000L)
      settled = Listener.synchronized(Listener.started == Listener.ended)
      if (!settled) {
        require(System.nanoTime() < deadline, "Spark jobs still running after 60 s")
        Thread.`yield`()
      }
    }
  }

  def snapshot(): Counters = {
    drain()
    val gc = ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
      .filter(_ >= 0).sum
    Listener.synchronized(Counters(Listener.jobs, Listener.stages, Listener.tasks,
      Listener.taskMs, Listener.shuffle, Listener.spill, Listener.waitMs,
      Listener.busyMs, Listener.byModule.toMap, gc))
  }

  /** Run `body` as span `name`; Spark jobs it submits without a
    * `graft.*` frame of their own are attributed to `module`.
    */
  def span[T](name: String, module: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanModule)
      val parent = open.headOption.getOrElse("")
      open.push(name)
      sc.setLocalProperty(SpanModule, module)
      val start = (System.nanoTime() - epoch) / 1e9
      try body
      finally {
        spans += Span(name, traceId, start, (System.nanoTime() - epoch) / 1e9, parent)
        sc.setLocalProperty(SpanModule, prev)
        open.pop()
      }
    }

  def allSpans: Seq[Span] = spans.toSeq

  def stop(): Unit = if (enabled) spark.sparkContext.removeSparkListener(Listener)
}

object Tracer {
  val Modules: Set[String] =
    Set("cli", "sources", "engine", "journal", "api", "queries", "functions", "core")

  /** Module of the innermost engine frame of a call-site text, if that
    * frame is the engine's and not the benchmark's.
    */
  def moduleOf(callSite: String): Option[String] =
    Option(callSite).toSeq.flatMap(_.split("\n")).map(_.trim.stripPrefix("at "))
      .find(f => f.startsWith("graft.") || f.startsWith("perfbench."))
      .filter(_.startsWith("graft."))
      .map { f =>
        val pkg = f.split('.')(1)
        if (Modules(pkg)) pkg else "core"
      }
}
