package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.TableSpec

/** Repair-statement generation — the reconciliation step downstream of
  * the diff. The reference stops at REPORTING divergence (mismatch
  * journal rows, JobMetadataDb.java:246-263); the standard operator
  * follow-up is to replay those keys against the target as CQL. This
  * emits that script from the same row-level frame the mismatch sink
  * uses, treating the source as the side of truth:
  *
  *   - row only in source        → `INSERT` of the full source row
  *   - row only in target        → `DELETE` by full primary key
  *   - present in both, values differ → `UPDATE SET` of exactly the
  *     mismatched regular columns
  *
  * Statement text is deterministic and engine-independent: values render
  * type-driven (doubles as fixed 2-decimal `%.2f`, timestamps at second
  * resolution, strings quote-escaped, `NULL` unquoted), so the emitted
  * script — not just its row count — is oracle-checkable. The 2-decimal
  * double rendering is exact for currency-style inputs; callers with
  * full-precision doubles should widen the format.
  *
  * Scale shape: one pass over the row-level join, statements built as
  * codegen'd string expressions; nothing leaves the executors — the
  * script is a DataFrame to write wherever repairs are replayed from.
  */
object Repair {

  import DiffEngine.{matchCol, srcCol, InSrc, InTgt}

  /** The reconciliation changeset AS DATAFLOW (here the TARGET is the
    * side of truth — the mirror image of [[repairStatements]]'s CQL
    * script, for file-based snapshots that are replayed with
    * [[graft.functions.Merge.applyChangeset]] instead of a CQL
    * session): one row per divergent full primary key,
    *
    *   - key only in target           → upsert (insert) of the target row
    *   - key only in source           → delete
    *   - both present, any value diff → upsert with the target payload
    *   - identical                    → no row
    *
    * The closure property `applyChangeset(src, changeset) == tgt` is
    * what makes diff→merge a complete repair loop; it is asserted
    * end-to-end by the `diff_reconcile` oracle query (the reconciled
    * frame must hash-match the perturbed target itself) and
    * spec-tested on the perturbation corpus. Duplicate full-PK rows are
    * identified by the SAME deterministic occurrence index the diff
    * engine pairs them with ([[DiffEngine.withOccurrence]]), so the
    * changeset key (primaryKey + occurrence) is always unique.
    *
    * Scale shape: ONE full-outer shuffle join on the full primary key —
    * the diff engine's O4 shape; only divergent keys survive, so the
    * changeset is mismatch-sized, not corpus-sized.
    */
  def reconcileChangeset(src: DataFrame, tgt: DataFrame,
      spec: TableSpec): DataFrame = {
    val keys = spec.primaryKey :+ DiffEngine.Occ
    val payload = src.columns.filterNot(keys.contains)
    // rename the target side up front — tgt routinely derives from src
    // (a perturbed/evolved copy), and alias resolution on shared
    // lineage silently mis-binds the join (see Merge.applyChangeset)
    val s = DiffEngine.withOccurrence(src, spec).withColumn("__sp", lit(true))
    val t = DiffEngine.withOccurrence(tgt, spec).withColumn("__tp", lit(true))
    val tr = t.select(t.columns.map(n => col(n).as(s"__t_$n")): _*)
    val cond = keys.map(k => col(k) <=> col(s"__t_$k")).reduce(_ && _)
    val anyDiff = payload.map(p => !(col(p) <=> col(s"__t_$p")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val op = when(col("__t___tp").isNull, lit("delete"))
      .when(col("__sp").isNull || anyDiff, lit("upsert"))
      .otherwise(lit(null).cast("string"))
    s.join(tr, cond, "full_outer")
      .withColumn("op", op)
      .filter(col("op").isNotNull)
      .select(keys.map(k => coalesce(col(s"__t_$k"), col(k)).as(k)) ++
        payload.map(p => col(s"__t_$p").as(p)) :+ col("op"): _*)
  }

  /** `src` reconciled onto `tgt`: [[reconcileChangeset]] applied via
    * [[graft.functions.Merge.applyChangeset]] on the occurrence-
    * extended key — returns a frame equal to `tgt` as a multiset (the
    * occurrence column is internal and dropped).
    */
  def reconcile(src: DataFrame, tgt: DataFrame, spec: TableSpec): DataFrame =
    graft.functions.Merge.applyChangeset(
        DiffEngine.withOccurrence(src, spec),
        reconcileChangeset(src, tgt, spec),
        spec.primaryKey :+ DiffEngine.Occ)
      .drop(DiffEngine.Occ)

  /** Render a value column as CQL literal text. */
  private def render(c: Column, dt: DataType): Column = {
    val rendered = dt match {
      case StringType =>
        concat(lit("'"), regexp_replace(c, "'", "''"), lit("'"))
      case DoubleType | FloatType => format_string("%.2f", c)
      case TimestampType | TimestampNTZType =>
        concat(lit("'"), date_format(c, "yyyy-MM-dd HH:mm:ss"), lit("'"))
      case _ => c.cast("string")
    }
    when(c.isNull, lit("NULL")).otherwise(rendered)
  }

  /** The repair script for one table pair. Output: primary-key columns,
    * `action` ∈ {INSERT, UPDATE, DELETE}, `statement` (terminated CQL).
    * Matched rows produce nothing; a cell within its column's ε in
    * `tolerances` is matched, as the diff counts it.
    */
  def repairStatements(src: DataFrame, tgt: DataFrame, spec0: TableSpec,
      tolerances: Map[String, Double] = Map.empty): DataFrame = {
    val spec = spec0.bind(src)
    val types: Map[String, DataType] =
      src.schema.fields.map(f => f.name -> f.dataType).toMap
    val rl = DiffEngine.rowLevel(src, tgt, spec, tolerances = tolerances)

    val whereClause = concat_ws(" AND ",
      spec.primaryKey.map(k =>
        concat(lit(s"$k = "), render(col(k), types(k)))): _*)
    val insertCols = spec.primaryKey ++ spec.regular
    val insertVals = concat_ws(", ",
      (spec.primaryKey.map(k => render(col(k), types(k))) ++
        spec.regular.map(c => render(col(srcCol(c)), types(c)))): _*)
    val insertStmt = concat(
      lit(s"INSERT INTO ${spec.table} (${insertCols.mkString(", ")}) VALUES ("),
      insertVals, lit(");"))
    val deleteStmt = concat(
      lit(s"DELETE FROM ${spec.table} WHERE "), whereClause, lit(";"))
    // SET list carries exactly the mismatched columns (concat_ws skips
    // the nulls the matched columns leave behind)
    val setList = concat_ws(", ",
      spec.regular.map(c =>
        when(!col(matchCol(c)),
          concat(lit(s"$c = "), render(col(srcCol(c)), types(c))))): _*)
    val updateStmt = concat(
      lit(s"UPDATE ${spec.table} SET "), setList,
      lit(" WHERE "), whereClause, lit(";"))
    val anyMismatch = spec.regular
      .map(c => !col(matchCol(c)))
      .reduceOption(_ || _).getOrElse(lit(false))

    rl.withColumn("action",
        when(col(InSrc) && !col(InTgt), lit("INSERT"))
          .when(col(InTgt) && !col(InSrc), lit("DELETE"))
          .when(anyMismatch, lit("UPDATE")))
      .filter(col("action").isNotNull)
      .withColumn("statement",
        when(col("action") === "INSERT", insertStmt)
          .when(col("action") === "DELETE", deleteStmt)
          .otherwise(updateStmt))
      .select(spec.primaryKey.map(col) :+ col("action") :+ col("statement"): _*)
  }
}
