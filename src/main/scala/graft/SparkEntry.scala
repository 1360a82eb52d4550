package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.DiffOptions
import graft.engine.{DiffEngine, Perturb, Tables}
import graft.queries.{AnalyticsQueries, DiffQueries, OpsQueries, Query, TextQueries,
  VectorQueries}

/** Driver contract — see SURVEY.md §7.
  *
  * Queries live in [[graft.queries]] modules, one [[graft.queries.Query]]
  * record each, its plan next to its DuckDB oracle; every oracle-checked diff
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

  /** Every registered query with its DuckDB oracle: one per implemented
    * operator from SURVEY.md §2 plus the pipeline queries.
    */
  lazy val registered: Seq[Query] = distinct(DiffQueries.all ++
    OpsQueries.all ++ AnalyticsQueries.all ++ TextQueries.all ++ VectorQueries.all)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registered.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  def oracleSql: Map[String, String] = registered.map(q => q.name -> q.oracle).toMap

  /** `records`, failing on a name declared twice: keyed by name, one of
    * them would silently drop out of the gate.
    */
  private[graft] def distinct(records: Seq[Query]): Seq[Query] = {
    val twice = records.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, s"query names declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    records
  }

  /** Local-iteration filter of Bench and Verify: env `SPARK_GRAFT_ONLY`
    * names the queries to run, comma-separated; unset, every query runs.
    */
  def selected(name: String): Boolean = only.forall(_.contains(name))

  private lazy val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(onlyNames(_, queries.keySet))

  /** The names a `SPARK_GRAFT_ONLY` value selects. A name that matches no
    * query fails, and so does a value that names none: a selection that
    * checks nothing must not pass for a green gate.
    */
  private[graft] def onlyNames(value: String, known: Set[String]): Set[String] = {
    val names = value.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = (names -- known).toSeq.sorted
    require(names.nonEmpty, s"SPARK_GRAFT_ONLY names no query: '$value'")
    require(unknown.isEmpty, s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    names
  }
}
