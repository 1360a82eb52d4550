package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-role schema of one table under comparison.
  *
  * Mirrors the reference's `TableSpec` (spark-job/.../TableSpec.java:36-89):
  * a table plus partition-key columns, clustering columns and regular
  * (value) columns. Unlike the reference — which fetches this from live
  * cluster metadata — roles are declared (or inferred from the DataFrame
  * schema: every non-key column is regular).
  *
  * @param table      qualified table name ("keyspace.table" in the reference,
  *                   see common/.../KeyspaceTablePair.java:29-51)
  * @param pk         partition-key columns (define the "partition" grouping)
  * @param clustering row-ordering columns within a partition (may be empty =
  *                   the reference's "narrow" shape, one row per partition)
  * @param regular    compared value columns; empty ⇒ inferred at bind time
  * @param uniqueKey  declare that (pk ++ clustering) is unique — skips the
  *                   duplicate-occurrence window (and its shuffle) in the
  *                   row-level diff
  */
final case class TableSpec(
    table: String,
    pk: Seq[String],
    clustering: Seq[String] = Nil,
    regular: Seq[String] = Nil,
    uniqueKey: Boolean = false) {

  /** Full primary key = row identity (pk ++ clustering). */
  def primaryKey: Seq[String] = pk ++ clustering

  /** Resolve regular columns against an actual DataFrame schema, mirroring
    * the reference's name-only validation (`equalsNamesOnly`,
    * TableSpec.java:91-95).
    */
  def bind(df: DataFrame): TableSpec = {
    val keySet = primaryKey.toSet
    val missing = primaryKey.filterNot(df.columns.contains)
    require(missing.isEmpty, s"table $table: key columns not in schema: ${missing.mkString(",")}")
    if (regular.nonEmpty) this
    else copy(regular = df.columns.toSeq.filterNot(keySet))
  }

  /** Name-only schema equality check between the two sides
    * (reference: Differ.java:287-291).
    */
  def validateSides(src: DataFrame, tgt: DataFrame): Unit = {
    val s = src.columns.toSet
    val t = tgt.columns.toSet
    require(
      primaryKey.forall(c => s(c) && t(c)),
      s"table $table: primary key ${primaryKey.mkString(",")} must exist on both sides")
    val sr = s -- primaryKey
    val tr = t -- primaryKey
    require(sr == tr, s"table $table: regular column mismatch src-only=${(sr -- tr).mkString(",")} tgt-only=${(tr -- sr).mkString(",")}")
  }
}

/** Row/partition classification — the reference's `MismatchType`
  * (spark-job/.../MismatchType.java:22-28) plus the non-mismatch outcomes.
  */
object Classification {
  val OnlyInSource = "ONLY_IN_SOURCE"
  val OnlyInTarget = "ONLY_IN_TARGET"
  val PartitionMismatch = "PARTITION_MISMATCH"
  val Matched = "MATCHED"
}

/** Options governing one diff run — the data-path subset of the reference's
  * `JobConfiguration` (common/.../JobConfiguration.java:33-110).
  *
  * @param buckets        journal-sharding bucket count (localconfig.yaml:9-10)
  * @param disallowedTokens reject-list of exact tokens — partitions whose
  *                       token is in this set are counted `skipped`
  *                       (common/.../SpecificTokens.java:30-61)
  * @param specificTokens accept-list: when non-empty, ONLY these tokens are
  *                       compared (everything else never enters the scan —
  *                       split pruning, DiffJob.java:235-238)
  * @param samplingNum/samplingDen deterministic partition sampling: keep a
  *                       partition iff `pmod(token, den) < num`. The
  *                       reference seeds a Random per job
  *                       (Differ.java:238-252); a per-key modulus is the
  *                       reproducible distributed equivalent.
  */
final case class DiffOptions(
    buckets: Int = 100,
    disallowedTokens: Seq[Long] = Nil,
    specificTokens: Seq[Long] = Nil,
    samplingNum: Int = 1,
    samplingDen: Int = 1,
    reverseReadProbability: Double = 0.0) {
  require(buckets > 0, "buckets must be positive")
  require(samplingNum >= 0 && samplingDen > 0 && samplingNum <= samplingDen,
    "sampling must satisfy 0 <= num <= den")
  require(reverseReadProbability >= 0.0 && reverseReadProbability <= 1.0,
    "reverse_read_probability must be in [0, 1]")
  def samplingEnabled: Boolean = samplingNum < samplingDen
  /** Whether a token list or the sampler is set, so partitions can be
    * skipped and the skipped count needs its own key scan.
    */
  def filtersTokens: Boolean =
    disallowedTokens.nonEmpty || specificTokens.nonEmpty || samplingEnabled
}
