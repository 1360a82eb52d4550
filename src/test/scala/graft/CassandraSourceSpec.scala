package graft

import org.apache.spark.sql.types._

import graft.sources.{CassandraSource, CqlCatalog, CqlSchema, CqlStatements}
import graft.sources.CqlSchema.{Clustering, CqlColumn, PartitionKey, Regular, Static}

/** Offline tests for the CQL schema-discovery mapping — the testable half
  * of the Cassandra source seam (reference TableSpec.make,
  * spark-job/.../TableSpec.java:71-89, which needs a live cluster; the
  * fixtures below are the `system_schema.columns` rows such a cluster
  * would serve) — plus a full offline diff driven end-to-end by the
  * discovered specs over a parquet stand-in.
  */
class CassandraSourceSpec extends SparkSpec with NoLeakedPersists {

  test("CQL scalar types map to their Catalyst equivalents") {
    val want = Map(
      "text" -> StringType, "ascii" -> StringType, "varchar" -> StringType,
      "bigint" -> LongType, "counter" -> LongType, "time" -> LongType,
      "int" -> IntegerType, "smallint" -> ShortType, "tinyint" -> ByteType,
      "varint" -> DecimalType(38, 0), "decimal" -> DecimalType(38, 18),
      "float" -> FloatType, "double" -> DoubleType,
      "boolean" -> BooleanType, "blob" -> BinaryType,
      "timestamp" -> TimestampType, "date" -> DateType,
      "uuid" -> StringType, "timeuuid" -> StringType,
      "inet" -> StringType, "duration" -> StringType)
    want.foreach { case (cql, dt) =>
      assert(CqlSchema.toCatalyst(cql) === dt, cql)
    }
    // case-insensitive, whitespace-tolerant
    assert(CqlSchema.toCatalyst("  BigInt ") === LongType)
  }

  test("nested CQL types: collections, frozen, tuples, vectors") {
    assert(CqlSchema.toCatalyst("list<int>") ===
      ArrayType(IntegerType, containsNull = true))
    assert(CqlSchema.toCatalyst("set<text>") ===
      ArrayType(StringType, containsNull = false))
    assert(CqlSchema.toCatalyst("map<text, bigint>") ===
      MapType(StringType, LongType, valueContainsNull = true))
    // frozen is a storage property, transparent to shape; nesting recurses
    assert(CqlSchema.toCatalyst("frozen<map<text, frozen<list<int>>>>") ===
      MapType(StringType, ArrayType(IntegerType, containsNull = true),
        valueContainsNull = true))
    assert(CqlSchema.toCatalyst("tuple<int, text, list<double>>") ===
      StructType(Seq(
        StructField("_1", IntegerType),
        StructField("_2", StringType),
        StructField("_3", ArrayType(DoubleType, containsNull = true)))))
    // Cassandra 5 vectors land as the embedding shape the ANN operators use
    assert(CqlSchema.toCatalyst("vector<float, 128>") ===
      ArrayType(FloatType, containsNull = false))
    val err = intercept[IllegalArgumentException] {
      CqlSchema.toCatalyst("some_udt")
    }
    assert(err.getMessage.contains("some_udt"))
  }

  // the reference's multi-key test shape: composite partition key,
  // two clustering columns, regular + static values
  private val events = Seq(
    CqlColumn("bucket", "int", PartitionKey, position = 1),
    CqlColumn("tenant", "text", PartitionKey, position = 0),
    CqlColumn("ts", "timestamp", Clustering, position = 0),
    CqlColumn("seq", "bigint", Clustering, position = 1),
    CqlColumn("payload", "blob", Regular),
    CqlColumn("attrs", "map<text, text>", Regular),
    CqlColumn("owner", "text", Static))

  test("role extraction mirrors TableSpec.make: keys by position, values compared") {
    val spec = CqlSchema.toTableSpec("events", events)
    assert(spec.table === "events")
    assert(spec.pk === Seq("tenant", "bucket"))       // position order, not input order
    assert(spec.clustering === Seq("ts", "seq"))
    assert(spec.regular === Seq("attrs", "owner", "payload")) // static compared too
    // (pk ++ clustering) is unique by CQL semantics: the engine may skip
    // the duplicate-occurrence window
    assert(spec.uniqueKey)
    val err = intercept[IllegalArgumentException] {
      CqlSchema.toTableSpec("broken", events.filterNot(_.kind == PartitionKey))
    }
    assert(err.getMessage.contains("partition_key"))
  }

  test("schema: keys first and non-nullable, values nullable") {
    val st = CqlSchema.toStructType(events)
    assert(st.fieldNames.toSeq === Seq(
      "tenant", "bucket", "ts", "seq", "attrs", "owner", "payload"))
    assert(st("tenant").dataType === StringType && !st("tenant").nullable)
    assert(st("seq").dataType === LongType && !st("seq").nullable)
    assert(st("payload").dataType === BinaryType && st("payload").nullable)
    assert(st("attrs").dataType ===
      MapType(StringType, StringType, valueContainsNull = true))
  }

  test("key scan CQL: DISTINCT token + pk columns, token-range bounds (O1)") {
    assert(CqlStatements.keyScan("ks", "events", events) ===
      """SELECT DISTINCT token("tenant","bucket"),"tenant","bucket" """.trim +
        """ FROM "ks"."events" WHERE token("tenant","bucket")>? AND token("tenant","bucket")<=?;""")
  }

  test("forward read CQL: token + all columns in metadata order, pk equality (O2)") {
    assert(CqlStatements.forwardRead("ks", "events", events) ===
      """SELECT token("tenant","bucket"),"tenant","bucket","ts","seq","attrs","owner","payload" """.trim +
        """ FROM "ks"."events" WHERE "tenant"=? AND "bucket"=?;""")
  }

  test("reverse read CQL flips each declared clustering order (O3)") {
    // ts declared asc (default), seq declared desc: reverse = ts DESC, seq ASC
    val declared = events.map {
      case c if c.name == "ts" => c.copy(clusteringOrder = "asc")
      case c if c.name == "seq" => c.copy(clusteringOrder = "desc")
      case c => c
    }
    val rev = CqlStatements.reverseRead("ks", "events", declared)
    assert(rev.get.endsWith("""ORDER BY "ts" DESC,"seq" ASC;"""))
    assert(rev.get.startsWith("""SELECT token("tenant","bucket")"""))
    // no clustering columns => no reverse statement, like the reference
    // (DiffCluster.java:258-261)
    val flat = events.filterNot(_.kind == Clustering)
    assert(CqlStatements.reverseRead("ks", "flat", flat).isEmpty)
  }

  test("identifier quoting is idempotent and escapes embedded quotes") {
    assert(CqlStatements.quote("CamelCase") === "\"CamelCase\"")
    assert(CqlStatements.quote("\"already\"") === "\"already\"")
    assert(CqlStatements.quote("odd\"name") === "\"odd\"\"name\"")
  }

  test("CassandraSource: catalog-backed listing and specs; connector format pinned") {
    val src = CassandraSource("ks",
      CqlCatalog.fixed(Map("events" -> events)))
    assert(src.listTables(null) === Seq("events"))
    assert(src.spec("events").pk === Seq("tenant", "bucket"))
    assert(src.schema("events").fieldNames.head === "tenant")
    assert(CassandraSource.Format === "org.apache.spark.sql.cassandra")
    val err = intercept[IllegalArgumentException] { src.spec("nope") }
    assert(err.getMessage.contains("nope"))
  }

  test("split planning tiles the ring exactly once under (start, end] scans") {
    import graft.sources.CqlSplits
    import graft.sources.CqlSplits._
    for ((ring, n) <- Seq((Murmur3Ring: Ring, 7), (RandomRing: Ring, 13),
        (Murmur3Ring: Ring, 1))) {
      val splits = CqlSplits.calculate(n, 4, ring)
      assert(splits.length === n)
      assert(splits.head.start === ring.min)
      assert(splits.last.end === ring.max)
      // gapless + overlap-free: each start IS the previous end (the
      // reference's +1 would skip one token per interior boundary)
      splits.sliding(2).foreach {
        case Seq(a, b) => assert(b.start === a.end)
        case _ =>
      }
      // bucket sharding mirrors splitNumber % numBuckets
      assert(splits.forall(s => s.bucket === s.splitNumber % 4))
    }
  }

  test("specific-token filter keeps exactly the owning splits") {
    import graft.sources.CqlSplits
    import graft.sources.CqlSplits._
    val splits = CqlSplits.calculate(8, 2, Murmur3Ring)
    // a boundary token: the CLOSED-bound filter (reference verbatim)
    // keeps both adjacent splits — conservative (split 4's strict
    // `token > start` scan just returns nothing extra), never missing
    val t = splits(3).end
    val picked = CqlSplits.forTokens(Set(t), splits)
    assert(picked.map(_.splitNumber) === Seq(3, 4))
    // a token strictly inside split 5
    val mid = (splits(5).start + splits(5).end) / 2
    assert(CqlSplits.forTokens(Set(mid), splits).map(_.splitNumber) === Seq(5))
    assert(CqlSplits.forTokens(Set.empty, splits).isEmpty)
  }

  // the `system_schema.columns` rows a live cluster would serve for the
  // events table ((user_id) PRIMARY KEY, clustering (ts, event_id)) —
  // event_id is unique in the fixture, so (pk ++ clustering) is unique,
  // exactly the guarantee Cassandra gives every table
  private val eventsCatalog = CqlCatalog.fixed(Map(
    "events" -> Seq(
      CqlColumn("user_id", "bigint", PartitionKey),
      CqlColumn("ts", "bigint", Clustering, 0, "asc"),
      CqlColumn("event_id", "bigint", Clustering, 1, "asc"),
      CqlColumn("event_type", "text", Regular),
      CqlColumn("value", "double", Regular),
      CqlColumn("props", "text", Regular))))

  test("CQL-discovered spec drives a full offline diff; unique-key path skips the occurrence window") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import org.apache.spark.sql.functions._
    import graft.api.{DiffJobConfig, DiffRunner}
    import graft.core.DiffOptions
    import graft.engine.DiffEngine
    import graft.sources.{ParquetSource, SourceProvider}

    implicit val s: SparkSession = spark
    val spec = CassandraSource("ks", eventsCatalog).spec("events")
    assert(spec.uniqueKey) // (pk ++ clustering) IS unique in Cassandra
    assert(spec.pk === Seq("user_id"))
    assert(spec.clustering === Seq("ts", "event_id"))

    // parquet snapshots stand in for the two clusters; the SPECS (roles +
    // uniqueness) come from CQL discovery, the reference's split of
    // metadata-service vs data-path (TableSpec.java:71-89 vs
    // DiffCluster.java:253-274)
    val src = ParquetSource(Sf)
    val tgt = new SourceProvider {
      def table(sp: SparkSession, name: String): DataFrame =
        src.table(sp, name).filter(col("event_id") % 97 =!= 0)
      def listTables(sp: SparkSession): Seq[String] = src.listTables(sp)
    }
    val root = tempDir("graft-cql-e2e")
    val stats = new DiffRunner(src, tgt,
      DiffJobConfig("cql-e2e", Seq(spec), DiffOptions(buckets = 8),
        metadataRoot = root)).run()("events")
    val total = src.table(spark, "events").count()
    val dropped = src.table(spark, "events")
      .filter(col("event_id") % 97 === 0).count()
    assert(dropped > 0)
    assert(stats.onlyInTarget === 0)
    // dropped events remove rows; a user whose EVERY event was dropped is
    // a missing partition, the rest are partition mismatches
    assert(stats.onlyInSource + stats.mismatchedPartitions > 0)
    assert(stats.matchedRows === total - dropped)

    // the unique-key declaration must skip the duplicate-occurrence
    // window and its shuffle (DiffCluster.java:253-274 semantics: CQL
    // keys are unique, so positional pairing is trivial)
    val bound = spec.bind(src.table(spark, "events"))
    val fast = DiffEngine.partitionStats(
        src.table(spark, "events"), tgt.table(spark, "events"), bound)
      .queryExecution.executedPlan.toString
    assert(!fast.contains("Window"), fast.take(2000))
    val slow = DiffEngine.partitionStats(
        src.table(spark, "events"), tgt.table(spark, "events"),
        bound.copy(uniqueKey = false))
      .queryExecution.executedPlan.toString
    assert(slow.contains("Window"), slow.take(2000))
  }
}
