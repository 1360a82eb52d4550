package graft

/** Plan-audit helper (not part of the driver contract): prints the
  * formatted physical plan of each named `SparkEntry.queries` entry over
  * sf0.01 — the per-operator `.explain` loop PLANS.md is written from.
  * Usage: `sbt "runMain graft.Explain q8_market_share events_pagerank"`;
  * env `SPARK_GRAFT_SF_DIR` overrides the data dir. Runs in Bench's
  * session ([[GraftSession.local]]), so it explains the plans Bench times.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    if (args.isEmpty) {
      println("usage: runMain graft.Explain <query> [<query> ...]")
      println(s"available queries (${SparkEntry.queries.size}):")
      SparkEntry.queries.keys.toSeq.sorted.foreach(n => println(s"  $n"))
    }
    args.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(q) =>
          println(s"===== $n =====")
          val df = q(spark, dir)
          df.explain("formatted")
          // SPARK_GRAFT_EXPLAIN_CODEGEN=1 additionally compiles every
          // WholeStageCodegen subtree and prints the max generated-method
          // bytecode size — the direct measurement behind any
          // "fused stage near the 64 KB method limit" claim. AQE is
          // switched off for this dump only: an unexecuted adaptive plan
          // exposes zero codegen subtrees, and method sizes don't depend
          // on the runtime re-plan.
          if (sys.env.get("SPARK_GRAFT_EXPLAIN_CODEGEN").contains("1")) {
            import org.apache.spark.sql.execution.debug._
            val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            try q(spark, dir).debugCodegen()
            finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
          }
        case None =>
          println(s"unknown query '$n' — run with no args to list all " +
            s"${SparkEntry.queries.size} registered names")
      }
    }
    spark.stop()
  }
}
