package graft

import org.apache.spark.sql.functions._

import graft.core.{DiffOptions, TableSpec}
import graft.engine.DiffEngine
import graft.sources.Bucketing

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed snapshots diff without a join-side Exchange") {
    val spec = TableSpec("bt", Seq("pk"), Seq("c1"), Seq("v1"), uniqueKey = true)
    val src = (1L to 1000L).map(i => (i, 1, s"v$i")).toDF("pk", "c1", "v1")
    val tgt = src.withColumn("v1",
      when(col("pk") % 10 === 0, lit("changed")).otherwise(col("v1")))
    // clean any previous run's table + location (warehouse dir persists
    // across JVMs while the in-memory catalog does not)
    Seq("bspec_src", "bspec_tgt").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete()
        }
        rm(loc)
      }
    }
    // bucketed + sorted by the key through the catalog: Spark honors
    // bucket metadata only on catalog tables
    Seq(src -> "bspec_src", tgt -> "bspec_tgt").foreach { case (df, t) =>
      df.write.mode("overwrite").bucketBy(4, "pk", "c1").sortBy("pk", "c1")
        .format("parquet").saveAsTable(t)
    }
    val bs = spark.table("bspec_src")
    val bt = spark.table("bspec_tgt")

    val rl = DiffEngine.rowLevel(bs, bt, spec)
    val plan = rl.queryExecution.executedPlan.toString
    // co-located bucketed join: no shuffle before the sort-merge join
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")

    val stats = DiffEngine.rangeStats(bs, bt, spec, DiffOptions(),
      DiffEngine.identityToken).collect()(0)
    assert(stats.getAs[Long]("mismatched_partitions") === 100)
    assert(stats.getAs[Long]("matched_partitions") === 900)
  }

  test("z-order interleave: hand-computed Morton codes, locality holds") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // z(a=0b101, b=0b011, 3 bits): bit pattern b2 a2 b1 a1 b0 a0 =
    // 0 1 1 0 1 1 = 27
    val df = Seq((5L, 3L), (0L, 0L), (7L, 7L)).toDF("a", "b")
    val z = df.select(col("a"),
        Bucketing.zValue(col("a"), col("b"), bits = 3).as("z"))
      .as[(Long, Long)].collect().toMap
    assert(z(5L) === 27L)
    assert(z(0L) === 0L)
    assert(z(7L) === 63L) // full 3-bit interleave saturates 6 bits
    // masking: only the low `bits` bits participate
    val masked = Seq((5L + 8L, 3L + 8L)).toDF("a", "b")
      .select(Bucketing.zValue(col("a"), col("b"), bits = 3))
      .as[Long].head()
    assert(masked === 27L)
  }
}
