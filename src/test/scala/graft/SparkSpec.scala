package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Failed, Outcome, Succeeded}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession (getOrCreate)
  * with the engine settings every graft session carries, at local[4].
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val Sf = "/root/testdata/sf0.001"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A new directory under the system temp directory, named `prefix`
    * and a random suffix; it is deleted, with everything in it, after the
    * suite.
    */
  protected def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir.toString
  }

  override protected def afterAll(): Unit =
    try {
      while (!tempDirs.isEmpty) {
        val walk = Files.walk(tempDirs.poll())
        try walk.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
        finally walk.close()
      }
    } finally super.afterAll()

  /** The call site of every Spark job `body` submits: the innermost
    * `graft.` frame of its SQL execution, else of its last stage. A job
    * of a journal write's execution names the dataset after it, as in
    * `<frame> writes mismatches`.
    * Listener events arrive asynchronously but in order, so a marker job
    * run after `body` is delivered after every job `body` submitted;
    * waiting for it makes the list complete.
    */
  protected def jobsOf(body: => Unit): Seq[String] = {
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
}

/** Fails a test that leaves a new persisted RDD behind: a finished diff
  * job must free every frame it persisted. RDDs that earlier suites left
  * for the context cleaner do not count.
  */
trait NoLeakedPersists extends SparkSpec {
  override def withFixture(test: NoArgTest): Outcome = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    super.withFixture(test) match {
      case Succeeded =>
        val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
        if (leaked.isEmpty) Succeeded
        else Failed(s"persisted RDDs left behind: ${leaked.toSeq.sorted}")
      case other => other
    }
  }
}
