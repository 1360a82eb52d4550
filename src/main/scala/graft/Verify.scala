package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * FAIL-CLOSED: a query that throws or times out must never silently
  * shrink the gate (round 7 lost 8 rows exactly that way). Every failure
  * is recorded in `verify_failures.json` next to `oracle_sql.json`, and
  * the run ends with an unmissable `[verify] N/M DUMPED` line on both
  * stdout and stderr. With SPARK_GRAFT_VERIFY_STRICT=1 a shortfall also
  * exits non-zero (used by tools/ci.sh; the driver's invocation stays
  * zero-exit so one broken query can't void the other results), and
  * tools/ci.sh also fails unless `dumped == registered >= MIN_QUERIES`.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Per-query watchdog: one pathological query (or a host-level stall)
    // must not wedge the whole correctness gate. Each query runs in its
    // own job group; on timeout the group is cancelled and the dump moves
    // on — that query alone fails its check.
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_S", "600").toLong
    import scala.concurrent.{Await, Future, TimeoutException}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // name -> (error message, was it a timeout)
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, (String, Boolean)]
    // SPARK_GRAFT_ONLY restricts both the dump and the emitted oracle
    // json, so tools/check_oracle.py checks exactly the selected queries
    val registered = SparkEntry.queries.filter(kv => SparkEntry.selected(kv._1))
    registered.foreach { case (name, fn) =>
      val work = Future {
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name.parquet")
        finally spark.sparkContext.clearJobGroup()
      }
      try Await.result(work, timeoutSec.seconds)
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(name)
          System.err.println(s"[verify] $name timed out after ${timeoutSec}s (cancelled)")
          failures(name) = (s"timed out after ${timeoutSec}s", true)
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failures(name) = (String.valueOf(e.getMessage), false)
      }
    }
    // JSON string escape — a tab or CR in builder-authored SQL would
    // otherwise make the driver's json.load fail and silently zero the
    // round's correctness.
    def q(s: String): String = graft.core.JsonUtil.quote(s)
    // The driver keys its correctness rows by the result-directory name
    // INCLUDING the ".parquet" suffix; emit each oracle under both the bare
    // name and the suffixed name so either lookup convention resolves.
    val json = SparkEntry.oracleSql.filter(kv => SparkEntry.selected(kv._1))
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Failure manifest: always written (empty array when clean) so its
    // absence can itself be detected, and the dumped/registered counts are
    // machine-checkable without re-deriving them from the directory tree.
    val dumped = registered.size - failures.size
    val failJson = {
      val items = failures.map { case (n, (msg, to)) =>
        s"""{"name":${q(n)},"error":${q(msg)},"timeout":$to}"""
      }.mkString("[", ",", "]")
      s"""{"registered":${registered.size},"dumped":$dumped,"failures":$items}"""
    }
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"), failJson)
    val marker =
      s"[verify] $dumped/${registered.size} DUMPED" +
        (if (failures.nonEmpty) s" — FAILED: ${failures.keys.mkString(",")}" else "")
    println(marker)
    System.err.println(marker)
    spark.stop()
    if (failures.nonEmpty && sys.env.get("SPARK_GRAFT_VERIFY_STRICT").contains("1"))
      sys.exit(3)
  }
}
