package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.DiffOptions
import graft.engine.{DiffEngine, Perturb, Tables}
import graft.queries.{AnalyticsQueries, DiffQueries, OpsQueries, TextQueries, VectorQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries live in [[graft.queries]] modules; every oracle-checked diff
  * query compares a source table against a deterministic perturbed copy
  * ([[graft.engine.Perturb]]) so the DuckDB oracle can derive the
  * identical target. Oracle queries use the identity token (pk itself) so
  * token/bucket math is engine-independent; the engine's scale default is
  * `xxhash64`.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = Tables.load(spark, dir, "lineitem")
    DiffEngine.rangeStats(li, Perturb.lineitemTarget(li),
      Perturb.lineitemSpec, DiffOptions(), DiffEngine.identityToken)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    DiffQueries.queries ++ OpsQueries.queries ++ AnalyticsQueries.queries ++
      TextQueries.queries ++ VectorQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    DiffQueries.oracles ++ OpsQueries.oracles ++ AnalyticsQueries.oracles ++
      TextQueries.oracles ++ VectorQueries.oracles

  /** Local-iteration filter of Bench and Verify: env `SPARK_GRAFT_ONLY`
    * names the queries to run, comma-separated; unset, every query runs.
    */
  def selected(name: String): Boolean = only.forall(_.contains(name))

  private lazy val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
}
