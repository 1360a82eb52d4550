package graft.queries

import scala.collection.immutable.SortedMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.DiffOptions
import graft.engine.{BucketPlan, DiffEngine, OracleSql, Perturb, Tables}
import graft.sources.{ParquetSource, SchemaOps}

/** Job-control operator queries: token filters (O9), sampling (O10),
  * resume (O12), reverse-read validation (O3), schema discovery (O19) and
  * the ResultsApi-shaped journal queries (O22).
  */
object OpsQueries {

  import Perturb.{lineitemSpec, ordersSpec}

  private def li(s: SparkSession, dir: String) = Tables.load(s, dir, "lineitem")
  private def ord(s: SparkSession, dir: String) = Tables.load(s, dir, "orders")
  private val idTok = DiffEngine.identityToken _

  private val Disallowed = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L)
  private val disallowedSqlList = Disallowed.mkString(", ")

  /** Per-table partitionStats frame for the journal-shaped queries.
    * Built FRESH on every call: each query invocation recomputes the
    * diff from the parquet inputs. (An earlier JVM-lifetime persisted
    * cache here — the production persist-once-derive-all shape
    * DiffRunner still uses — let repeated bench/verify invocations of
    * api_mismatch_summary skip the diff entirely, so their timings no
    * longer measured the engine. Within a single query plan each frame
    * is referenced exactly once, so nothing is lost by rebuilding.)
    */
  private def tablePs(s: SparkSession, dir: String, table: String): DataFrame =
    table match {
      case "lineitem" =>
        DiffEngine.partitionStats(li(s, dir), Perturb.lineitemTarget(li(s, dir)),
          lineitemSpec, idTok)
      case "orders" =>
        DiffEngine.partitionStats(ord(s, dir), Perturb.ordersTarget(ord(s, dir)),
          ordersSpec, idTok)
    }

  /** task_status fixture for the resume query: buckets 0-5 done, 6-15
    * untouched.
    */
  private val doneBuckets: Seq[Long] = 0L to 5L

  /** DuckDB side of a key filter: each side's rows whose key passes
    * `keep`, and the skipped-partitions counter of the keys `drop` names.
    */
  private def keptSrc(keep: String) = s"SELECT * FROM lineitem WHERE $keep"
  private def keptTgt(keep: String) =
    s"SELECT * FROM (${Perturb.lineitemTargetSql}) WHERE $keep"
  private def skippedSql(drop: String) =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS skipped_partitions FROM (
       |  SELECT l_orderkey FROM lineitem
       |  UNION
       |  SELECT l_orderkey FROM (${Perturb.lineitemTargetSql})
       |) u WHERE $drop""".stripMargin

  def all: Seq[Query] = Seq(
    // O9: disallowed-token reject list → skipped counter
    Query("diff_token_filter", (s, dir) =>
      DiffEngine.rangeStats(li(s, dir), Perturb.lineitemTarget(li(s, dir)),
        lineitemSpec, DiffOptions(disallowedTokens = Disallowed), idTok),
      oracle = OracleSql.rangeStats(lineitemSpec,
        keptSrc(s"l_orderkey NOT IN ($disallowedSqlList)"),
        keptTgt(s"l_orderkey NOT IN ($disallowedSqlList)"),
        skippedSql(s"l_orderkey IN ($disallowedSqlList)"))),
    // O10: deterministic per-key sampling (keep pmod(token,10) < 3)
    Query("diff_sampling", (s, dir) =>
      DiffEngine.rangeStats(li(s, dir), Perturb.lineitemTarget(li(s, dir)),
        lineitemSpec, DiffOptions(samplingNum = 3, samplingDen = 10), idTok),
      oracle = OracleSql.rangeStats(lineitemSpec, keptSrc("l_orderkey % 10 < 3"),
        keptTgt("l_orderkey % 10 < 3"), skippedSql("l_orderkey % 10 >= 3"))),
    // O12: resume — pending work per bucket given a task_status journal,
    // by the runner's own rule: BucketPlan.decide, then its restriction
    Query("diff_resume", (s, dir) => {
      import s.implicits._
      val scan = DiffEngine.keyScan(li(s, dir), lineitemSpec, idTok)
      val keys = scan.withColumn("bucket", DiffEngine.bucketOf(scan, col("token"), 16))
      val plan = BucketPlan.decide(SortedMap.empty, priorStatus = BucketPlan.byBucket(
        doneBuckets.map(b => (b, BucketPlan.StatusDone)).toDF("bucket", "status")))
      plan.restrict(keys, lineitemSpec, 16, idTok)
        .groupBy("bucket").agg(count(lit(1)).as("n_pending"),
          min(col("token")).as("min_token"))
    },
      oracle = s"""WITH keys AS (
         |  SELECT DISTINCT l_orderkey, CAST(l_orderkey AS BIGINT) AS token,
         |         CAST(l_orderkey % 16 AS BIGINT) AS bucket
         |  FROM lineitem
         |),
         |j AS (SELECT * FROM (VALUES ${doneBuckets.map(b => s"($b, 'done')").mkString(", ")})
         |  AS t(bucket, status)),
         |p AS (
         |  SELECT k.* FROM keys k LEFT JOIN j ON k.bucket = j.bucket
         |  WHERE j.status IS NULL
         |)
         |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pending,
         |       CAST(MIN(token) AS BIGINT) AS min_token
         |FROM p GROUP BY bucket""".stripMargin),
    // O3: reverse-order read — last clustering row of sampled partitions
    Query("diff_reverse_read", (s, dir) =>
      DiffEngine.reverseRead(
        li(s, dir).filter(col("l_orderkey") % 20 === 0), lineitemSpec)
        .filter(col("rev_rank") === 1)
        .select("l_orderkey", "l_linenumber", "l_quantity"),
      oracle = """SELECT l_orderkey, l_linenumber, l_quantity FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity,
        |         ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber DESC) AS rn
        |  FROM lineitem WHERE l_orderkey % 20 = 0
        |) WHERE rn = 1""".stripMargin),
    // O3 wired: sampled reverse-read validation. The sample here is a
    // DuckDB-mirrorable key predicate (l_orderkey % 10 = 0) rather than
    // the engine's xxhash64 sampler — same sampled-subset semantics, and
    // the oracle can reproduce it exactly
    Query("diff_reverse_validation", (s, dir) =>
      DiffEngine.reverseValidation(
        li(s, dir).filter(col("l_orderkey") % 10 === 0),
        Perturb.lineitemTarget(li(s, dir)).filter(col("l_orderkey") % 10 === 0),
        lineitemSpec, probability = 1.0, idTok)
        .agg(count(lit(1)).as("n_checked"),
          sum(when(!col("agree"), 1L).otherwise(0L)).as("n_disagree")),
      oracle = OracleSql.reverseValidation(lineitemSpec,
        s"SELECT * FROM (${Perturb.lineitemSrcSql}) WHERE l_orderkey % 10 = 0",
        s"SELECT * FROM (${Perturb.lineitemTargetSql}) WHERE l_orderkey % 10 = 0")),
    // O19: schema auto-discovery — intersect minus disallowed, with one
    // side missing a table (region) and "events" disallowed
    Query("schema_intersect", (s, dir) => {
      import s.implicits._
      val srcTables = ParquetSource(dir).listTables(s)
      val tgtTables = srcTables.filterNot(_ == "region")
      SchemaOps.intersect(srcTables, tgtTables, Set("events"))
        .toDF("table_name")
    },
      // fixed corpus ⇒ the expected intersection is a constant set:
      // all tables minus region (absent on target) minus events (disallowed)
      oracle = """SELECT * FROM (VALUES ('customer'), ('documents'), ('embeddings'),
        |  ('lineitem'), ('nation'), ('orders'), ('part'), ('supplier'))
        |  AS t(table_name)""".stripMargin),
    // O22: mismatch summary across a two-table job (group-merge of
    // DBService.java:215-228) — one per-table diff each
    Query("api_mismatch_summary", (s, dir) => {
      val m1 = DiffEngine.mismatchesFromPartitions(
        tablePs(s, dir, "lineitem"), lineitemSpec, buckets = 100)
      val m2 = DiffEngine.mismatchesFromPartitions(
        tablePs(s, dir, "orders"), ordersSpec, buckets = 100)
      m1.select("table_name", "mismatch_type")
        .unionByName(m2.select("table_name", "mismatch_type"))
        .groupBy("table_name", "mismatch_type").agg(count(lit(1)).as("n"))
    },
      oracle = s"""SELECT table_name, mismatch_type, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |  SELECT table_name, mismatch_type FROM (${OracleSql.mismatches(lineitemSpec,
              Perturb.lineitemSrcSql, Perturb.lineitemTargetSql, 100)})
         |  UNION ALL
         |  SELECT table_name, mismatch_type FROM (${OracleSql.mismatches(ordersSpec,
              Perturb.ordersSrcSql, Perturb.ordersTargetSql, 100)})
         |) GROUP BY table_name, mismatch_type""".stripMargin),
    // O15: quarantine — null partition keys diverted with origin + reason
    Query("diff_quarantine", (s, dir) => {
      val withNulls = li(s, dir).withColumn("l_orderkey",
        when(col("l_partkey") % 97 === 0, lit(null)).otherwise(col("l_orderkey")))
      val split = graft.engine.Quarantine.split(withNulls, lineitemSpec, "source")
      split.errors.groupBy("origin", "error").agg(count(lit(1)).as("n"))
        .unionByName(
          split.valid.agg(count(lit(1)).as("n"))
            .withColumn("origin", lit("source"))
            .withColumn("error", lit("VALID"))
            .select("origin", "error", "n"))
    },
      oracle = """SELECT 'source' AS origin, 'null_pk_l_orderkey' AS error,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem WHERE l_partkey % 97 = 0
        |UNION ALL
        |SELECT 'source' AS origin, 'VALID' AS error,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem WHERE l_partkey % 97 <> 0""".stripMargin),
    // O22/O8: per-table job results (job_results rows of a two-table job):
    // each table's counter rows summed as the runner sums its journal
    Query("api_results_by_table", (s, dir) =>
      DiffEngine.rangeStats(li(s, dir), Perturb.lineitemTarget(li(s, dir)),
        lineitemSpec, DiffOptions(), idTok).unionByName(
        DiffEngine.rangeStats(ord(s, dir), Perturb.ordersTarget(ord(s, dir)),
          ordersSpec, DiffOptions(), idTok)),
      oracle = s"""SELECT * FROM (${OracleSql.rangeStats(lineitemSpec,
           Perturb.lineitemSrcSql, Perturb.lineitemTargetSql)})
         |UNION ALL
         |SELECT * FROM (${OracleSql.rangeStats(ordersSpec,
           Perturb.ordersSrcSql, Perturb.ordersTargetSql)})""".stripMargin),
  )
}
