package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{Failed, Outcome, Succeeded}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession (getOrCreate)
  * with the engine settings every graft session carries, at local[4].
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val Sf = "/root/testdata/sf0.001"
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
