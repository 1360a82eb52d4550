package graft.engine

import graft.core.TableSpec

/** Generates ANSI-SQL (DuckDB-compatible) oracles for the diff pipeline,
  * from the same [[TableSpec]] that drives the Spark plan. Keeping the SQL
  * generated — not hand-written per query — means the oracle and the engine
  * can only diverge on semantics, never on column lists.
  *
  * All counter outputs are CAST to BIGINT so DuckDB's HUGEINT sums compare
  * equal to Spark's LongType.
  */
object OracleSql {

  /** The row-level full-outer join CTE body (reference semantics O4+O5+O6:
    * presence flags + null-safe per-column equality,
    * PartitionComparator.java:102-134).
    *
    * Emits CTEs `src`, `tgt`, `rl` — callers append their own final select.
    */
  def rowLevelCtes(spec: TableSpec, srcSql: String, tgtSql: String,
      prefix: String = "", reverseOcc: Boolean = false,
      tolerances: Map[String, Double] = Map.empty): String = {
    val keys = spec.primaryKey
    val on = (keys.map(k => s"s.$k = t.$k") :+ "s.__occ = t.__occ").mkString(" AND ")
    val keySel = keys.map(k => s"COALESCE(s.$k, t.$k) AS $k").mkString(", ")
    // tolerance columns mirror DiffEngine.rowLevel: |s − t| <= eps
    // matched, null semantics unchanged
    val matches = spec.regular.map { c =>
      tolerances.get(c) match {
        case Some(eps) =>
          s"((s.$c IS NULL AND t.$c IS NULL) OR (s.$c IS NOT NULL " +
            s"AND t.$c IS NOT NULL AND abs(CAST(s.$c AS DOUBLE) - " +
            s"CAST(t.$c AS DOUBLE)) <= $eps)) AS match_$c"
        case None => s"(s.$c IS NOT DISTINCT FROM t.$c) AS match_$c"
      }
    }
    val srcVals = spec.regular.map(c => s"s.$c AS src_$c")
    val tgtVals = spec.regular.map(c => s"t.$c AS tgt_$c")
    val cols = (Seq(keySel, "(s.__one IS NOT NULL) AS in_src",
      "(t.__one IS NOT NULL) AS in_tgt") ++ matches ++ srcVals ++ tgtVals)
      .mkString(",\n         ")
    // duplicate-full-PK occurrence index — mirrors
    // DiffEngine.withOccurrence (row_number over the full PK ordered by
    // the regular columns, nulls first; reverseOcc = the inverse collation)
    val occOrder =
      (if (spec.regular.nonEmpty) spec.regular else keys)
        .map(c => if (reverseOcc) s"$c DESC NULLS LAST" else s"$c ASC NULLS FIRST")
        .mkString(", ")
    val occ =
      s"ROW_NUMBER() OVER (PARTITION BY ${keys.mkString(", ")} ORDER BY $occOrder) AS __occ"
    s"""${prefix}src AS ($srcSql),
       |${prefix}tgt AS ($tgtSql),
       |${prefix}rl AS (
       |  SELECT $cols
       |  FROM (SELECT *, 1 AS __one, $occ FROM ${prefix}src) s
       |  FULL OUTER JOIN (SELECT *, 1 AS __one, $occ FROM ${prefix}tgt) t ON $on
       |)""".stripMargin
  }

  /** Per-partition stats CTE `ps` + classification CTE `cls`
    * (reference O7: PartitionStats.java:22-28).
    */
  def partitionCtes(spec: TableSpec, srcSql: String, tgtSql: String,
      prefix: String = "", reverseOcc: Boolean = false,
      tolerances: Map[String, Double] = Map.empty): String = {
    val pk = spec.pk.mkString(", ")
    val matchedVals =
      if (spec.regular.isEmpty) "0"
      else spec.regular.map(c => s"CASE WHEN match_$c THEN 1 ELSE 0 END").mkString(" + ")
    val mismatchedVals =
      if (spec.regular.isEmpty) "0"
      else spec.regular.map(c => s"CASE WHEN match_$c THEN 0 ELSE 1 END").mkString(" + ")
    s"""${rowLevelCtes(spec, srcSql, tgtSql, prefix, reverseOcc, tolerances)},
       |${prefix}ps AS (
       |  SELECT $pk,
       |         bool_or(in_src) AS in_src, bool_or(in_tgt) AS in_tgt,
       |         CAST(SUM(CASE WHEN in_src AND in_tgt THEN 1 ELSE 0 END) AS BIGINT) AS matched_rows,
       |         CAST(SUM(CASE WHEN in_src AND NOT in_tgt THEN 1 ELSE 0 END) AS BIGINT) AS rows_only_in_source,
       |         CAST(SUM(CASE WHEN in_tgt AND NOT in_src THEN 1 ELSE 0 END) AS BIGINT) AS rows_only_in_target,
       |         CAST(SUM(CASE WHEN in_src AND in_tgt THEN $matchedVals ELSE 0 END) AS BIGINT) AS matched_values,
       |         CAST(SUM(CASE WHEN in_src AND in_tgt THEN $mismatchedVals ELSE 0 END) AS BIGINT) AS mismatched_values
       |  FROM ${prefix}rl GROUP BY $pk
       |),
       |${prefix}cls AS (
       |  SELECT *,
       |         CASE WHEN NOT in_tgt THEN 'ONLY_IN_SOURCE'
       |              WHEN NOT in_src THEN 'ONLY_IN_TARGET'
       |              WHEN rows_only_in_source + rows_only_in_target > 0
       |                   OR mismatched_values > 0 THEN 'PARTITION_MISMATCH'
       |              ELSE 'MATCHED' END AS classification
       |  FROM ${prefix}ps
       |)""".stripMargin
  }

  /** Full RangeStats oracle (O8) — one row: the seven counters and the
    * skipped count.
    * `skippedSql` supplies the skipped-partition count subquery (defaults
    * to 0 when no token filters are active).
    */
  def rangeStats(spec: TableSpec, srcSql: String, tgtSql: String,
      skippedSql: String = "SELECT CAST(0 AS BIGINT) AS skipped_partitions",
      tolerances: Map[String, Double] = Map.empty): String = {
    s"""WITH ${partitionCtes(spec, srcSql, tgtSql, tolerances = tolerances)}
       |SELECT
       |  CAST(COALESCE(SUM(CASE WHEN classification = 'MATCHED' THEN 1 ELSE 0 END), 0) AS BIGINT) AS matched_partitions,
       |  CAST(COALESCE(SUM(CASE WHEN classification = 'PARTITION_MISMATCH' THEN 1 ELSE 0 END), 0) AS BIGINT) AS mismatched_partitions,
       |  CAST(COALESCE(SUM(CASE WHEN classification = 'ONLY_IN_SOURCE' THEN 1 ELSE 0 END), 0) AS BIGINT) AS only_in_source,
       |  CAST(COALESCE(SUM(CASE WHEN classification = 'ONLY_IN_TARGET' THEN 1 ELSE 0 END), 0) AS BIGINT) AS only_in_target,
       |  CAST(COALESCE(SUM(CASE WHEN in_src AND in_tgt THEN matched_rows ELSE 0 END), 0) AS BIGINT) AS matched_rows,
       |  CAST(COALESCE(SUM(CASE WHEN in_src AND in_tgt THEN matched_values ELSE 0 END), 0) AS BIGINT) AS matched_values,
       |  CAST(COALESCE(SUM(CASE WHEN in_src AND in_tgt THEN mismatched_values ELSE 0 END), 0) AS BIGINT) AS mismatched_values,
       |  (SELECT skipped_partitions FROM ($skippedSql)) AS skipped_partitions,
       |  '${spec.table}' AS table_name
       |FROM cls""".stripMargin
  }

  /** Per-partition stats oracle — the `cls` CTE verbatim, with token
    * (identity token on the first pk column, matching
    * DiffEngine.identityToken used by oracle-checked queries).
    */
  def partitionStats(spec: TableSpec, srcSql: String, tgtSql: String): String =
    s"""WITH ${partitionCtes(spec, srcSql, tgtSql)}
       |SELECT ${spec.pk.mkString(", ")}, in_src, in_tgt, matched_rows,
       |       rows_only_in_source, rows_only_in_target, matched_values,
       |       mismatched_values, classification,
       |       CAST(${spec.pk.head} AS BIGINT) AS token
       |FROM cls""".stripMargin

  /** Fail-fast ordered per-partition stats oracle — mirrors
    * DiffEngine.orderedPartitionStats (the reference's positional walk
    * with prefix-only counters, PartitionComparator.java:60-83): rank
    * rows per side in (clustering, regular) order, zip positionally with
    * a full-outer join, cut at the first failing position, count only the
    * prefix. Identity token on the first pk column.
    */
  def orderedPartitionStats(spec: TableSpec, srcSql: String, tgtSql: String): String = {
    val pk = spec.pk.mkString(", ")
    val keySel = spec.pk.map(k => s"COALESCE(s.$k, t.$k) AS $k").mkString(", ")
    val on = (spec.pk.map(k => s"s.$k = t.$k") :+ "s.__pos = t.__pos").mkString(" AND ")
    // pk-only spec: no clustering/regular columns to order by — mirror the
    // Spark side's fallback (DiffEngine.orderedPartitionStats orders by pk)
    // instead of emitting an empty, syntactically invalid ORDER BY
    val orderCols =
      if ((spec.clustering ++ spec.regular).isEmpty) spec.pk
      else spec.clustering ++ spec.regular
    val order = orderCols.map(c => s"$c ASC NULLS FIRST").mkString(", ")
    val rank =
      s"ROW_NUMBER() OVER (PARTITION BY $pk ORDER BY $order) AS __pos"
    val clOk = (Seq("s.__one IS NOT NULL", "t.__one IS NOT NULL") ++
      spec.clustering.map(c => s"(s.$c IS NOT DISTINCT FROM t.$c)")).mkString(" AND ")
    val matchedVals =
      if (spec.regular.isEmpty) "0"
      else spec.regular.map(c =>
        s"CASE WHEN s.$c IS NOT DISTINCT FROM t.$c THEN 1 ELSE 0 END").mkString(" + ")
    val mismatchedVals =
      if (spec.regular.isEmpty) "0"
      else spec.regular.map(c =>
        s"CASE WHEN s.$c IS NOT DISTINCT FROM t.$c THEN 0 ELSE 1 END").mkString(" + ")
    s"""WITH src AS ($srcSql),
       |tgt AS ($tgtSql),
       |j AS (
       |  SELECT $keySel,
       |         COALESCE(s.__pos, t.__pos) AS __pos,
       |         (s.__one IS NOT NULL) AS in_src,
       |         (t.__one IS NOT NULL) AS in_tgt,
       |         ($clOk) AS cl_ok,
       |         $matchedVals AS mv,
       |         $mismatchedVals AS mm
       |  FROM (SELECT *, 1 AS __one, $rank FROM src) s
       |  FULL OUTER JOIN (SELECT *, 1 AS __one, $rank FROM tgt) t ON $on
       |),
       |c AS (
       |  SELECT *,
       |         MIN(CASE WHEN NOT cl_ok THEN __pos END)
       |           OVER (PARTITION BY $pk) AS cutoff
       |  FROM j
       |)
       |SELECT $pk,
       |       bool_or(in_src) AS in_src, bool_or(in_tgt) AS in_tgt,
       |       (MIN(cutoff) IS NULL) AS all_clusterings_match,
       |       CAST(SUM(CASE WHEN cutoff IS NULL OR __pos < cutoff THEN 1 ELSE 0 END) AS BIGINT) AS matched_rows,
       |       CAST(SUM(CASE WHEN cutoff IS NULL OR __pos < cutoff THEN mv ELSE 0 END) AS BIGINT) AS matched_values,
       |       CAST(SUM(CASE WHEN cutoff IS NULL OR __pos < cutoff THEN mm ELSE 0 END) AS BIGINT) AS mismatched_values,
       |       CAST(${spec.pk.head} AS BIGINT) AS token
       |FROM c GROUP BY $pk""".stripMargin
  }

  /** Digest-prefilter phase-1 oracle: ground-truth per-bucket verdicts.
    * The engine answers `digest_match` from hash digests; the oracle
    * recomputes the answer from first principles — a bucket matches iff
    * the two sides' row MULTISETS in that bucket are identical (group
    * both sides by every column + bucket, full-join on null-safe
    * equality, flag any count disagreement). A digest collision — the
    * engine saying "match" where the multisets differ — fails the hash
    * gate here. Identity token, matching the engine's oracle queries.
    */
  def digestBuckets(spec: TableSpec, srcSql: String, tgtSql: String,
      buckets: Int): String = {
    val all = spec.primaryKey ++ spec.regular
    val cols = all.mkString(", ")
    val on = (Seq("s.bucket = t.bucket") ++
      all.map(c => s"s.$c IS NOT DISTINCT FROM t.$c")).mkString(" AND ")
    s"""WITH src AS ($srcSql), tgt AS ($tgtSql),
       |sm AS (SELECT CAST(${spec.pk.head} % $buckets AS BIGINT) AS bucket, $cols, COUNT(*) AS c
       |       FROM src GROUP BY ALL),
       |tm AS (SELECT CAST(${spec.pk.head} % $buckets AS BIGINT) AS bucket, $cols, COUNT(*) AS c
       |       FROM tgt GROUP BY ALL),
       |dirty AS (
       |  SELECT DISTINCT COALESCE(s.bucket, t.bucket) AS bucket
       |  FROM sm s FULL OUTER JOIN tm t ON $on
       |  WHERE s.c IS DISTINCT FROM t.c
       |),
       |sc AS (SELECT CAST(${spec.pk.head} % $buckets AS BIGINT) AS bucket,
       |              CAST(COUNT(*) AS BIGINT) AS src_rows FROM src GROUP BY 1),
       |tc AS (SELECT CAST(${spec.pk.head} % $buckets AS BIGINT) AS bucket,
       |              CAST(COUNT(*) AS BIGINT) AS tgt_rows FROM tgt GROUP BY 1)
       |SELECT COALESCE(sc.bucket, tc.bucket) AS bucket,
       |       COALESCE(src_rows, 0) AS src_rows,
       |       COALESCE(tgt_rows, 0) AS tgt_rows,
       |       (d.bucket IS NULL) AS digest_match
       |FROM sc FULL OUTER JOIN tc ON sc.bucket = tc.bucket
       |LEFT JOIN dirty d ON COALESCE(sc.bucket, tc.bucket) = d.bucket""".stripMargin
  }

  /** Two-level digest-tree oracle: every verdict — super and bucket —
    * recomputed from first-principles multiset comparison (a super is
    * clean iff ALL its buckets' multisets match); bucket rows emitted
    * only under first-principles-dirty supers. A digest collision at
    * either level in the engine would hash-mismatch here.
    */
  def digestTree(spec: TableSpec, srcSql: String, tgtSql: String,
      buckets: Int, fanout: Int): String = {
    val all = spec.primaryKey ++ spec.regular
    val cols = all.mkString(", ")
    val on = (Seq("s.bucket = t.bucket") ++
      all.map(c => s"s.$c IS NOT DISTINCT FROM t.$c")).mkString(" AND ")
    s"""WITH src AS ($srcSql), tgt AS ($tgtSql),
       |sm AS (SELECT CAST(${spec.pk.head} % $buckets AS BIGINT) AS bucket, $cols, COUNT(*) AS c
       |       FROM src GROUP BY ALL),
       |tm AS (SELECT CAST(${spec.pk.head} % $buckets AS BIGINT) AS bucket, $cols, COUNT(*) AS c
       |       FROM tgt GROUP BY ALL),
       |dirty AS (
       |  SELECT DISTINCT COALESCE(s.bucket, t.bucket) AS bucket
       |  FROM sm s FULL OUTER JOIN tm t ON $on
       |  WHERE s.c IS DISTINCT FROM t.c
       |),
       |sc AS (SELECT CAST(${spec.pk.head} % $buckets AS BIGINT) AS bucket,
       |              CAST(COUNT(*) AS BIGINT) AS src_rows FROM src GROUP BY 1),
       |tc AS (SELECT CAST(${spec.pk.head} % $buckets AS BIGINT) AS bucket,
       |              CAST(COUNT(*) AS BIGINT) AS tgt_rows FROM tgt GROUP BY 1),
       |b AS (
       |  SELECT COALESCE(sc.bucket, tc.bucket) AS bucket,
       |         COALESCE(src_rows, 0) AS src_rows,
       |         COALESCE(tgt_rows, 0) AS tgt_rows,
       |         (d.bucket IS NULL) AS digest_match
       |  FROM sc FULL OUTER JOIN tc ON sc.bucket = tc.bucket
       |  LEFT JOIN dirty d ON COALESCE(sc.bucket, tc.bucket) = d.bucket),
       |l0 AS (
       |  SELECT 0 AS level, bucket // $fanout AS node,
       |         CAST(SUM(src_rows) AS BIGINT) AS src_rows,
       |         CAST(SUM(tgt_rows) AS BIGINT) AS tgt_rows,
       |         bool_and(digest_match) AS digest_match
       |  FROM b GROUP BY 2)
       |SELECT level, node, src_rows, tgt_rows, digest_match FROM l0
       |UNION ALL
       |SELECT 1 AS level, bucket AS node, src_rows, tgt_rows, digest_match
       |FROM b
       |WHERE bucket // $fanout IN (SELECT node FROM l0 WHERE NOT digest_match)""".stripMargin
  }

  /** Mismatch-sink oracle (O14). */
  def mismatches(spec: TableSpec, srcSql: String, tgtSql: String, buckets: Int): String =
    s"""WITH ${partitionCtes(spec, srcSql, tgtSql)}
       |SELECT '${spec.table}' AS table_name,
       |       CAST(${spec.pk.head} % $buckets AS BIGINT) AS bucket,
       |       CAST(${spec.pk.head} AS BIGINT) AS token,
       |       classification AS mismatch_type,
       |       ${spec.pk.mkString(", ")}
       |FROM cls WHERE classification <> 'MATCHED'""".stripMargin

  /** Repair-script oracle — mirrors [[Repair.repairStatements]]: builds
    * the identical CQL text in DuckDB from the row-level CTE, so the
    * statement strings themselves are hash-gated. `types` maps column →
    * logical type ("string" | "double" | "timestamp" | integer default),
    * the single rendering contract both engines follow.
    */
  def repair(spec: TableSpec, types: Map[String, String],
      srcSql: String, tgtSql: String): String = {
    def render(e: String, col: String): String = {
      val r = types.getOrElse(col, "") match {
        case "string" => s"'''' || replace($e, '''', '''''') || ''''"
        case "double" | "float" => s"printf('%.2f', $e)"
        case "timestamp" => s"'''' || strftime($e, '%Y-%m-%d %H:%M:%S') || ''''"
        case _ => s"CAST($e AS VARCHAR)"
      }
      s"CASE WHEN $e IS NULL THEN 'NULL' ELSE $r END"
    }
    val keys = spec.primaryKey
    val whereSql = keys
      .map(k => s"'$k = ' || ${render(k, k)}")
      .mkString(" || ' AND ' || ")
    val insertCols = (keys ++ spec.regular).mkString(", ")
    val insertVals = (keys.map(k => render(k, k)) ++
      spec.regular.map(c => render(s"src_$c", c))).mkString(" || ', ' || ")
    val setList = spec.regular
      .map(c => s"CASE WHEN NOT match_$c THEN '$c = ' || ${render(s"src_$c", c)} END")
      .mkString(",\n              ", ",\n              ", "")
    val anyMismatch = spec.regular.map(c => s"NOT match_$c").mkString(" OR ")
    s"""WITH ${rowLevelCtes(spec, srcSql, tgtSql)},
       |acts AS (
       |  SELECT ${keys.mkString(", ")},
       |         CASE WHEN in_src AND NOT in_tgt THEN 'INSERT'
       |              WHEN in_tgt AND NOT in_src THEN 'DELETE'
       |              WHEN $anyMismatch THEN 'UPDATE' END AS action,
       |         'INSERT INTO ${spec.table} ($insertCols) VALUES (' ||
       |           $insertVals || ');' AS ins,
       |         'DELETE FROM ${spec.table} WHERE ' || $whereSql || ';' AS del,
       |         'UPDATE ${spec.table} SET ' ||
       |           concat_ws(', '$setList) ||
       |           ' WHERE ' || $whereSql || ';' AS upd
       |  FROM rl
       |)
       |SELECT ${keys.mkString(", ")}, action,
       |       CASE action WHEN 'INSERT' THEN ins
       |                   WHEN 'DELETE' THEN del
       |                   ELSE upd END AS statement
       |FROM acts WHERE action IS NOT NULL""".stripMargin
  }

  /** Partition-key-level classification counts oracle (O1 + O4). */
  def keyClassify(spec: TableSpec, srcSql: String, tgtSql: String): String = {
    val pk = spec.pk.mkString(", ")
    val on = spec.pk.map(k => s"s.$k = t.$k").mkString(" AND ")
    s"""WITH src AS ($srcSql), tgt AS ($tgtSql),
       |sk AS (SELECT DISTINCT $pk FROM src),
       |tk AS (SELECT DISTINCT $pk FROM tgt),
       |j AS (
       |  SELECT CASE WHEN t.${spec.pk.head} IS NULL THEN 'ONLY_IN_SOURCE'
       |              WHEN s.${spec.pk.head} IS NULL THEN 'ONLY_IN_TARGET'
       |              ELSE 'MATCHED' END AS classification
       |  FROM sk s FULL OUTER JOIN tk t ON $on
       |)
       |SELECT classification, CAST(COUNT(*) AS BIGINT) AS n
       |FROM j GROUP BY classification""".stripMargin
  }

  /** Row-level classification counts oracle (O5). */
  def rowClassify(spec: TableSpec, srcSql: String, tgtSql: String): String =
    s"""WITH ${rowLevelCtes(spec, srcSql, tgtSql)}
       |SELECT
       |  CAST(COALESCE(SUM(CASE WHEN in_src AND in_tgt THEN 1 ELSE 0 END), 0) AS BIGINT) AS matched_rows,
       |  CAST(COALESCE(SUM(CASE WHEN in_src AND NOT in_tgt THEN 1 ELSE 0 END), 0) AS BIGINT) AS rows_only_in_source,
       |  CAST(COALESCE(SUM(CASE WHEN in_tgt AND NOT in_src THEN 1 ELSE 0 END), 0) AS BIGINT) AS rows_only_in_target
       |FROM rl""".stripMargin

  /** Per-regular-column matched/mismatched value counts oracle (O6) —
    * one output row per regular column via UNION ALL.
    */
  def cellValues(spec: TableSpec, srcSql: String, tgtSql: String): String = {
    val perCol = spec.regular.map { c =>
      s"""SELECT '$c' AS column_name,
         |  CAST(COALESCE(SUM(CASE WHEN in_src AND in_tgt AND match_$c THEN 1 ELSE 0 END), 0) AS BIGINT) AS matched_values,
         |  CAST(COALESCE(SUM(CASE WHEN in_src AND in_tgt AND NOT match_$c THEN 1 ELSE 0 END), 0) AS BIGINT) AS mismatched_values
         |FROM rl""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH ${rowLevelCtes(spec, srcSql, tgtSql)}\n$perCol"
  }

  /** Per-bucket progress oracle (O11 + O13): stats + highest token per
    * bucket, identity token = first pk column.
    */
  def bucketProgress(spec: TableSpec, srcSql: String, tgtSql: String, buckets: Int): String =
    s"""WITH ${partitionCtes(spec, srcSql, tgtSql)}
       |SELECT CAST(${spec.pk.head} % $buckets AS BIGINT) AS bucket,
       |  CAST(SUM(CASE WHEN classification = 'MATCHED' THEN 1 ELSE 0 END) AS BIGINT) AS matched_partitions,
       |  CAST(SUM(CASE WHEN classification = 'PARTITION_MISMATCH' THEN 1 ELSE 0 END) AS BIGINT) AS mismatched_partitions,
       |  CAST(SUM(CASE WHEN classification = 'ONLY_IN_SOURCE' THEN 1 ELSE 0 END) AS BIGINT) AS only_in_source,
       |  CAST(SUM(CASE WHEN classification = 'ONLY_IN_TARGET' THEN 1 ELSE 0 END) AS BIGINT) AS only_in_target,
       |  CAST(SUM(CASE WHEN in_src AND in_tgt THEN matched_rows ELSE 0 END) AS BIGINT) AS matched_rows,
       |  CAST(SUM(CASE WHEN in_src AND in_tgt THEN matched_values ELSE 0 END) AS BIGINT) AS matched_values,
       |  CAST(SUM(CASE WHEN in_src AND in_tgt THEN mismatched_values ELSE 0 END) AS BIGINT) AS mismatched_values,
       |  CAST(MAX(${spec.pk.head}) AS BIGINT) AS last_token,
       |  '${spec.table}' AS table_name
       |FROM cls GROUP BY CAST(${spec.pk.head} % $buckets AS BIGINT)""".stripMargin

  /** Reverse-read validation oracle (O3 wired): the forward and reverse
    * per-partition stats blocks side by side, counting partitions whose
    * counters or classification disagree. Mirrors
    * DiffEngine.reverseValidation at probability 1.0 (the deterministic
    * sampler passes every partition).
    */
  def reverseValidation(spec: TableSpec, srcSql: String, tgtSql: String): String = {
    val on = spec.pk.map(k => s"f.$k = r.$k").mkString(" AND ")
    val stats = Seq("matched_rows", "rows_only_in_source",
      "rows_only_in_target", "matched_values", "mismatched_values",
      "classification")
    val agree = stats.map(c => s"f.$c = r.$c").mkString(" AND ")
    s"""WITH ${partitionCtes(spec, srcSql, tgtSql, prefix = "f_")},
       |${partitionCtes(spec, srcSql, tgtSql, prefix = "r_", reverseOcc = true)}
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_checked,
       |       CAST(COALESCE(SUM(CASE WHEN $agree THEN 0 ELSE 1 END), 0) AS BIGINT) AS n_disagree
       |FROM f_cls f JOIN r_cls r ON $on""".stripMargin
  }
}
