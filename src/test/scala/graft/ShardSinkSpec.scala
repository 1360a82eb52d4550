package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.sinks.ShardSink

class ShardSinkSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, Sf, "documents")

  test("shard write: complete, deterministic, manifest-auditable") {
    val dir = tempDir("graft-shards")
    val m1 = ShardSink.writeShards(docs, "doc_id", dir, nShards = 4)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDecimal(2))))
      .toMap
    // every row lands exactly once
    val back = spark.read.parquet(dir)
    assert(back.count() === docs.count())
    assert(back.select("doc_id").distinct().count() === docs.count())
    // manifest counts match the written partitions
    val counts = back.groupBy("shard").count()
      .as[(Int, Long)].collect().toMap
    assert(m1.view.mapValues(_._1).toMap === counts)
    // within-shard order is the deterministic shuffle order: pos is
    // contiguous from 1 per shard
    val pos = back.groupBy("shard")
      .agg(min("pos").as("lo"), max("pos").as("hi"), count(lit(1)).as("n"))
      .collect()
    pos.foreach { r =>
      assert(r.getLong(1) === 1L)
      assert(r.getLong(2) === r.getLong(3))
    }
    // shard partition pruning: a shard-filtered read sees one partition
    assert(spark.read.parquet(dir).filter(col("shard") === 0).count() ===
      counts(0))
    // the audit passes on intact data
    val audit = ShardSink.audit(spark, "doc_id", dir)
    assert(audit.filter(!col("ok")).count() === 0)
    assert(audit.count() === m1.size.toLong)
    // re-materialization is bit-deterministic: same manifest checksums
    val m2 = ShardSink.writeShards(docs, "doc_id", dir, nShards = 4)
      .collect().map(r => r.getInt(0) -> r.getDecimal(2)).toMap
    assert(m2 === m1.view.mapValues(_._2).toMap)
  }

  test("audit flags a corrupted shard") {
    val dir = tempDir("graft-shards2")
    ShardSink.writeShards(docs, "doc_id", dir, nShards = 2)
    // corrupt: drop shard 0's data files entirely
    val shard0 = new java.io.File(s"$dir/shard=0")
    shard0.listFiles().foreach(_.delete())
    shard0.delete()
    val bad = ShardSink.audit(spark, "doc_id", dir)
      .filter(!col("ok")).collect()
    assert(bad.length === 1)
    assert(bad.head.getAs[Int]("shard") === 0)
  }
}
