package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Tables

/** Fixture-drift canary: the driver regenerates /root/testdata between
  * rounds and has already switched events.ts storage once
  * (TIMESTAMP(NANOS) → TIMESTAMP(MICROS), round 7), silently breaking
  * every event-time operator because the old loader hard-assumed
  * nanos-as-long. These tests pin Tables.events' contract — a
  * microsecond TimestampType with the same instant — for EVERY encoding
  * the loader claims to support, plus the fixture actually shipped, so
  * the next storage drift fails a named test instead of the scorecard.
  */
class FixtureCanarySpec extends SparkSpec {
  import spark.implicits._

  // 2024-01-01T00:00:00Z
  private val Micros = 1704067200000000L

  private def writeEvents(dir: String, ts: org.apache.spark.sql.Column): Unit =
    Seq((1L, 10L)).toDF("user_id", "event_id")
      .withColumn("ts", ts)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  private def loadedMicros(dir: String): (DataType, Long) = {
    val ev = Tables.events(spark, dir)
    (ev.schema("ts").dataType,
      ev.select(unix_micros(col("ts"))).as[Long].head())
  }

  test("Tables.events: nanos-as-long encoding normalizes to the instant") {
    val dir = tempDir("canary-nanos")
    writeEvents(dir, lit(Micros * 1000L)) // raw long nanoseconds
    val (dt, us) = loadedMicros(dir)
    assert(dt === TimestampType)
    assert(us === Micros)
  }

  test("Tables.events: TIMESTAMP(MICROS) UTC encoding passes through") {
    val dir = tempDir("canary-micros")
    writeEvents(dir, timestamp_micros(lit(Micros)))
    val (dt, us) = loadedMicros(dir)
    assert(dt === TimestampType)
    assert(us === Micros)
  }

  test("Tables.events: TIMESTAMP_NTZ encoding casts bit-exactly under UTC") {
    val dir = tempDir("canary-ntz")
    writeEvents(dir, timestamp_micros(lit(Micros)).cast(TimestampNTZType))
    val (dt, us) = loadedMicros(dir)
    assert(dt === TimestampType)
    assert(us === Micros)
  }

  test("shipped fixture schemas: every table the queries read, pinned") {
    // one assertion per (table, column, dtype-class) the 94 oracle
    // queries depend on — regeneration drift fails HERE by name, not as
    // a silent scorecard shrink. dtype-class, not exact dtype, where the
    // loader normalizes (events.ts) or where width is irrelevant.
    def schemaOf(name: String): Map[String, DataType] =
      Tables.load(spark, Sf, name).schema
        .fields.map(f => f.name -> f.dataType).toMap
    val docs = schemaOf("documents")
    assert(docs("doc_id") === LongType && docs("text") === StringType &&
      docs("lang") === StringType && docs("source") === StringType &&
      docs("n_chars") === LongType)
    val emb = schemaOf("embeddings")
    assert(emb("vec_id") === LongType && emb("label") === IntegerType)
    assert(emb("embedding").isInstanceOf[ArrayType] &&
      emb("embedding").asInstanceOf[ArrayType].elementType === FloatType)
    val ev = schemaOf("events")
    assert(ev("event_id") === LongType && ev("user_id") === LongType &&
      ev("event_type") === StringType && ev("value") === DoubleType &&
      ev("props") === StringType)
    // ts is whatever the generator shipped — Tables.events normalizes it;
    // the dedicated tests above pin that contract per encoding
    val li = schemaOf("lineitem")
    assert(li("l_orderkey") === LongType && li("l_linenumber") === IntegerType)
    val ord = schemaOf("orders")
    assert(ord("o_orderkey") === LongType)
  }

  test("Tables.events: the SHIPPED fixture loads as a usable timestamp") {
    val ev = Tables.events(spark, Sf)
    assert(ev.schema("ts").dataType === TimestampType)
    val (n, minUs) = ev.agg(count(lit(1)), min(unix_micros(col("ts"))))
      .as[(Long, Long)].head()
    assert(n > 0)
    // the corpus generator's event horizon is years around now, not the
    // epoch — a zero/garbage min means the conversion mangled the instant
    assert(minUs > 1000000000000000L, s"suspicious min ts ${minUs}us")
  }
}
