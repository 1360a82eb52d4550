package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.DiffOptions
import graft.engine.{DiffEngine, OracleSql, Perturb, Tables}
import graft.functions.{CassandraRandomPartitioner => RP}

/** Diff-engine operator queries (SURVEY §2 O1/O4-O8, O11, O13, O14), each
  * with a DuckDB oracle generated from the same TableSpec.
  */
object DiffQueries {

  import Perturb.{lineitemSpec, ordersSpec}

  private def li(s: SparkSession, dir: String) = Tables.load(s, dir, "lineitem")
  private def ord(s: SparkSession, dir: String) = Tables.load(s, dir, "orders")
  private val idTok = DiffEngine.identityToken _

  def all: Seq[Query] = Seq(
    // O4+O5+O6+O7+O8: full RangeStats over the wide (clustered) shape
    Query("diff_range_stats", (s, dir) =>
      DiffEngine.rangeStats(li(s, dir), Perturb.lineitemTarget(li(s, dir)),
        lineitemSpec, DiffOptions(), idTok),
      oracle = OracleSql.rangeStats(lineitemSpec,
        Perturb.lineitemSrcSql, Perturb.lineitemTargetSql)),
    // TOLERANCE diff: |src − tgt| <= 0.01 on l_extendedprice counts as
    // matched — the replica-float-drift mode; small jitters (+0.005)
    // vanish, big ones (+1.0) stay mismatched
    Query("diff_range_stats_tolerance", (s, dir) =>
      DiffEngine.rangeStats(li(s, dir),
        Perturb.lineitemTargetJitter(li(s, dir)),
        lineitemSpec, DiffOptions(), idTok,
        tolerances = Map("l_extendedprice" -> 0.01)),
      oracle = OracleSql.rangeStats(lineitemSpec,
        Perturb.lineitemSrcSql, Perturb.lineitemTargetJitterSql,
        tolerances = Map("l_extendedprice" -> 0.01))),
    // same over the narrow shape (no clustering — reference narrow1)
    Query("diff_range_stats_narrow", (s, dir) =>
      DiffEngine.rangeStats(ord(s, dir), Perturb.ordersTarget(ord(s, dir)),
        ordersSpec, DiffOptions(), idTok),
      oracle = OracleSql.rangeStats(ordersSpec,
        Perturb.ordersSrcSql, Perturb.ordersTargetSql)),
    // O7: per-partition stats + classification
    Query("diff_partition_stats", (s, dir) =>
      DiffEngine.partitionStats(li(s, dir), Perturb.lineitemTarget(li(s, dir)),
        lineitemSpec, idTok),
      oracle = OracleSql.partitionStats(lineitemSpec,
        Perturb.lineitemSrcSql, Perturb.lineitemTargetSql)),
    // O7 fail-fast variant: bit-exact prefix counters of the reference's
    // positional partition walk (stops at the first clustering divergence)
    Query("diff_ordered_stats", (s, dir) =>
      DiffEngine.orderedPartitionStats(li(s, dir),
        Perturb.lineitemTarget(li(s, dir)), lineitemSpec, idTok),
      oracle = OracleSql.orderedPartitionStats(lineitemSpec,
        Perturb.lineitemSrcSql, Perturb.lineitemTargetSql)),
    // O14: mismatch journal rows
    Query("diff_mismatches", (s, dir) =>
      DiffEngine.mismatches(li(s, dir), Perturb.lineitemTarget(li(s, dir)),
        lineitemSpec, DiffOptions(buckets = 100), idTok),
      oracle = OracleSql.mismatches(lineitemSpec,
        Perturb.lineitemSrcSql, Perturb.lineitemTargetSql, buckets = 100)),
    // Merkle-style digest prefilter, phase 1: per-bucket digest verdicts
    // (64 buckets so the output exposes both clean and dirty buckets).
    // The oracle recomputes each verdict from a first-principles multiset
    // comparison, so a digest false-match trips the hash gate.
    Query("diff_digest_buckets", (s, dir) =>
      DiffEngine.digestCompare(li(s, dir), Perturb.lineitemTarget(li(s, dir)),
        lineitemSpec, buckets = 64, idTok),
      oracle = OracleSql.digestBuckets(lineitemSpec,
        Perturb.lineitemSrcSql, Perturb.lineitemTargetSql, buckets = 64)),
    // two-level Merkle tree over the bucket digests: super-node verdicts
    // first, bucket verdicts only under dirty supers — a clean super
    // prunes `fanout` bucket comparisons in one row. Runs against the
    // LOCALIZED corruption target (damage in one super only — the
    // one-bad-SSTable shape), so 7 of 8 supers prune and the output is
    // 8 super rows + the 8 bucket rows under the dirty super. The
    // oracle recomputes EVERY verdict (both levels) from
    // first-principles multiset comparison
    Query("diff_digest_tree", (s, dir) =>
      DiffEngine.digestTree(li(s, dir),
        Perturb.lineitemTargetLocalized(li(s, dir)),
        lineitemSpec, buckets = 64, fanout = 8, idTok),
      oracle = OracleSql.digestTree(lineitemSpec,
        Perturb.lineitemSrcSql, Perturb.lineitemTargetLocalizedSql,
        buckets = 64, fanout = 8)),
    // three-replica reconciliation: source vs the drop/mutate/insert
    // replica vs the float-jitter replica in ONE pass — classifies
    // every key into repair-decision categories incl. the B=C≠A
    // "source is the stale one" verdict a pairwise diff cannot express
    Query("diff_three_way", (s, dir) =>
      DiffEngine.threeWayDiff(li(s, dir),
        Perturb.lineitemTarget(li(s, dir)),
        Perturb.lineitemTargetJitter(li(s, dir)),
        lineitemSpec),
      // same tagged full joins and category ladder
      oracle = DiffEngine.threeWayDiffSql(
        Perturb.lineitemSrcSql, Perturb.lineitemTargetSql,
        Perturb.lineitemTargetJitterSql, lineitemSpec)),
    // both phases end-to-end: digests narrow to dirty buckets, the full
    // mismatch diff runs over those only — and must find EXACTLY the
    // same mismatch set as the unfiltered diff (same oracle as
    // diff_mismatches), proving the prefilter drops nothing
    Query("diff_digest_mismatches", (s, dir) =>
      DiffEngine.digestDiff(li(s, dir), Perturb.lineitemTarget(li(s, dir)),
        lineitemSpec, DiffOptions(buckets = 100), digestBuckets = 4096, idTok),
      oracle = OracleSql.mismatches(lineitemSpec,
        Perturb.lineitemSrcSql, Perturb.lineitemTargetSql, buckets = 100)),
    // the headline RangeStats through the prefilter: clean buckets are
    // credited arithmetically, only dirty buckets join — bit-identical
    // output to diff_range_stats (same oracle)
    Query("diff_digest_range_stats", (s, dir) =>
      DiffEngine.digestRangeStats(li(s, dir), Perturb.lineitemTarget(li(s, dir)),
        lineitemSpec, DiffOptions(), digestBuckets = 4096, idTok),
      oracle = OracleSql.rangeStats(lineitemSpec,
        Perturb.lineitemSrcSql, Perturb.lineitemTargetSql)),
    // cross-run incremental diff: "yesterday's" journal (digests +
    // mismatches vs the stale target) lets today's run re-diff only the
    // buckets the cell mutation touched and replay the rest — the result
    // must equal a full diff of the current pair (diff_mismatches oracle)
    Query("diff_incremental", (s, dir) => {
      val src = li(s, dir)
      val stale = Perturb.lineitemTargetStale(src)
      val priorDigests = DiffEngine.sideDigests(src, stale, lineitemSpec,
        buckets = 4096, idTok)
      val priorMismatches = DiffEngine.mismatches(src, stale, lineitemSpec,
        DiffOptions(buckets = 100), idTok)
      DiffEngine.incrementalDiff(src, Perturb.lineitemTarget(src),
        lineitemSpec, priorDigests, priorMismatches,
        DiffOptions(buckets = 100), digestBuckets = 4096, token = idTok)
    },
      oracle = OracleSql.mismatches(lineitemSpec,
        Perturb.lineitemSrcSql, Perturb.lineitemTargetSql, buckets = 100)),
    // O1+O4: partition-key scan + presence classification counts
    Query("diff_key_classify", (s, dir) =>
      DiffEngine.keyDiff(li(s, dir), Perturb.lineitemTarget(li(s, dir)),
        lineitemSpec, idTok)
        .groupBy("classification").agg(count(lit(1)).as("n")),
      oracle = OracleSql.keyClassify(lineitemSpec,
        Perturb.lineitemSrcSql, Perturb.lineitemTargetSql)),
    // O5: row-level presence counts
    Query("diff_row_classify", (s, dir) => {
      val rl = DiffEngine.rowLevel(li(s, dir), Perturb.lineitemTarget(li(s, dir)),
        lineitemSpec)
      rl.agg(
        sum(when(col("__in_src") && col("__in_tgt"), 1L).otherwise(0L)).as("matched_rows"),
        sum(when(col("__in_src") && !col("__in_tgt"), 1L).otherwise(0L)).as("rows_only_in_source"),
        sum(when(col("__in_tgt") && !col("__in_src"), 1L).otherwise(0L)).as("rows_only_in_target"))
    },
      oracle = OracleSql.rowClassify(lineitemSpec,
        Perturb.lineitemSrcSql, Perturb.lineitemTargetSql)),
    // O6: per-regular-column matched/mismatched value counts (single pass
    // + stack unpivot)
    Query("diff_cell_values", (s, dir) => {
      val rl = DiffEngine.rowLevel(li(s, dir), Perturb.lineitemTarget(li(s, dir)),
        lineitemSpec)
      val both = col("__in_src") && col("__in_tgt")
      val aggs = lineitemSpec.regular.flatMap { c =>
        Seq(
          sum(when(both && col(s"__match_$c"), 1L).otherwise(0L)).as(s"m_$c"),
          sum(when(both && !col(s"__match_$c"), 1L).otherwise(0L)).as(s"mm_$c"))
      }
      val one = rl.agg(aggs.head, aggs.tail: _*)
      val stack = lineitemSpec.regular
        .map(c => s"'$c', m_$c, mm_$c").mkString(", ")
      one.selectExpr(s"stack(${lineitemSpec.regular.size}, $stack) as " +
        "(column_name, matched_values, mismatched_values)")
    },
      oracle = OracleSql.cellValues(lineitemSpec,
        Perturb.lineitemSrcSql, Perturb.lineitemTargetSql)),
    // O11+O13: per-bucket progress with highest-seen token
    Query("diff_bucket_progress", (s, dir) =>
      DiffEngine.bucketProgress(li(s, dir), Perturb.lineitemTarget(li(s, dir)),
        lineitemSpec, DiffOptions(buckets = 16), idTok),
      oracle = OracleSql.bucketProgress(lineitemSpec,
        Perturb.lineitemSrcSql, Perturb.lineitemTargetSql, buckets = 16)),
    // wide shape with TWO clustering columns (ts nanos + event_id)
    Query("diff_range_stats_events", (s, dir) => {
      val ev = Tables.load(s, dir, "events") // ts stays raw nanos long
      DiffEngine.rangeStats(ev, Perturb.eventsTarget(ev),
        Perturb.eventsSpec, DiffOptions(), idTok)
    },
      oracle = OracleSql.rangeStats(Perturb.eventsSpec,
        Perturb.eventsSrcSql, Perturb.eventsTargetSql)),
    // array<float> regular column: nested null-safe equality
    Query("diff_range_stats_embeddings", (s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      DiffEngine.rangeStats(e, Perturb.embeddingsTarget(e),
        Perturb.embeddingsSpec, DiffOptions(), idTok)
    },
      oracle = OracleSql.rangeStats(Perturb.embeddingsSpec,
        Perturb.embeddingsSrcSql, Perturb.embeddingsTargetSql)),
    // repair-script generation: the reconciliation step downstream of
    // the mismatch sink — INSERT/UPDATE/DELETE CQL text, hash-gated
    // string-for-string against the oracle's rendering
    Query("diff_repair", (s, dir) =>
      graft.engine.Repair.repairStatements(li(s, dir),
        Perturb.lineitemTarget(li(s, dir)), lineitemSpec),
      oracle = OracleSql.repair(lineitemSpec,
        Map("l_quantity" -> "double", "l_extendedprice" -> "double",
          "l_discount" -> "double", "l_tax" -> "double",
          "l_returnflag" -> "string", "l_linestatus" -> "string",
          "l_shipdate" -> "timestamp"),
        Perturb.lineitemSrcSql, Perturb.lineitemTargetSql)),
    // the CLOSED repair loop: diff → changeset → MERGE must reproduce
    // the target exactly — the oracle for the reconciled frame is the
    // perturbed target ITSELF, so any divergence anywhere in the
    // diff/changeset/merge chain hash-mismatches
    Query("diff_reconcile", (s, dir) =>
      graft.engine.Repair.reconcile(li(s, dir),
        Perturb.lineitemTarget(li(s, dir)), lineitemSpec),
      // closure property: the reconciled frame IS the perturbed target
      oracle = s"SELECT * FROM (${Perturb.lineitemTargetSql})"),
    // RandomPartitioner tokens, value-checked cross-engine: the key scan
    // computes the 127-bit md5 token of every (string-serialized) orders
    // key, and the oracle recomputes it in DuckDB from the md5 hex digest
    Query("diff_random_token", (s, dir) =>
      DiffEngine.keyScan(ord(s, dir), ordersSpec,
        cols => RP.tokenColumn(cols.map(_.cast("string")))),
      oracle = randomTokenOracleSql),
    // the full diff spine running on RandomPartitioner tokens (keyScan →
    // join → partitionStats → RangeStats); counters are token-independent
    // so the narrow-shape oracle checks the run end-to-end
    Query("diff_range_stats_random", (s, dir) =>
      DiffEngine.rangeStats(ord(s, dir), Perturb.ordersTarget(ord(s, dir)),
        ordersSpec, DiffOptions(), cols => RP.tokenColumn(cols)),
      oracle = OracleSql.rangeStats(ordersSpec,
        Perturb.ordersSrcSql, Perturb.ordersTargetSql)),
    // partition-size profile of the source table: log2 histogram of
    // rows-per-partition-key — the skew signal that sizes bucket splits
    // and flags wide partitions before a diff run; two partial-
    // aggregating exchanges, the second over ≤64 histogram rows
    Query("diff_partition_sizes", (s, dir) =>
      li(s, dir).groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_rows"))
        .groupBy((length(bin(col("n_rows"))) - 1).cast("long")
          .as("log2_bucket"))
        .agg(count(lit(1)).as("n_partitions"), max(col("n_rows"))
          .as("max_rows")),
      oracle = """WITH p AS (
        |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT CAST(length(bin(n_rows)) - 1 AS BIGINT) AS log2_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_partitions, MAX(n_rows) AS max_rows
        |FROM p GROUP BY log2_bucket""".stripMargin),
    // the wide-partition report itself: top-10 partition keys by row
    // count (per-partition heaps — TakeOrderedAndProject, no global sort)
    Query("diff_largest_partitions", (s, dir) =>
      li(s, dir).groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_rows"))
        .orderBy(col("n_rows").desc, col("l_orderkey")).limit(10),
      oracle = """WITH p AS (
        |  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey, n_rows FROM p
        |ORDER BY n_rows DESC, l_orderkey LIMIT 10""".stripMargin),
  )

  /** DuckDB mirror of the RandomPartitioner token: md5 hex digest read as
    * a signed big-endian 128-bit value, abs'd via UHUGEINT arithmetic,
    * zero-padded to 39 digits. String keys serialize as their UTF-8
    * bytes on both engines, so md5(CAST(pk AS VARCHAR)) sees exactly the
    * bytes the Spark expression hashes.
    */
  private def randomTokenOracleSql: String =
    """SELECT o_orderkey, lpad(CAST(
      |  CASE WHEN hi >= CAST(9223372036854775808 AS UBIGINT)
      |       THEN (CAST('340282366920938463463374607431768211455' AS UHUGEINT) - v) + 1
      |       ELSE v END AS VARCHAR), 39, '0') AS token
      |FROM (
      |  SELECT o_orderkey,
      |    CAST('0x' || substr(d, 1, 16) AS UBIGINT) AS hi,
      |    CAST(CAST('0x' || substr(d, 1, 16) AS UBIGINT) AS UHUGEINT)
      |        * CAST('18446744073709551616' AS UHUGEINT)
      |      + CAST(CAST('0x' || substr(d, 17, 16) AS UBIGINT) AS UHUGEINT) AS v
      |  FROM (SELECT DISTINCT o_orderkey, md5(CAST(o_orderkey AS VARCHAR)) AS d
      |        FROM orders)
      |)""".stripMargin
}
