package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Query

/** The query registry behind the driver contract: one record per name,
  * each with its oracle, and a `SPARK_GRAFT_ONLY` selection that names
  * only registered queries.
  */
class QueryRegistrySpec extends AnyFunSuite {

  test("registered names are distinct and every query has an oracle") {
    val names = SparkEntry.registered.map(_.name)
    assert(names.distinct.size === names.size)
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.registered.forall(_.oracle.trim.nonEmpty))
  }

  test("a name declared twice fails, naming it") {
    def q(name: String) = Query(name, (s, _) => s.range(1).select(lit(1)), "SELECT 1")
    val err = intercept[IllegalArgumentException](
      SparkEntry.distinct(Seq(q("a"), q("b"), q("a"), q("c"), q("b"))))
    assert(err.getMessage.contains("declared twice: a, b"), err.getMessage)
    assert(SparkEntry.distinct(Seq(q("a"), q("b"))).map(_.name) === Seq("a", "b"))
  }

  test("SPARK_GRAFT_ONLY: known names select, unknown names and no names fail") {
    val known = Set("q1_agg", "diff_range_stats", "text_stats")
    assert(SparkEntry.onlyNames(" q1_agg, diff_range_stats,,", known) ===
      Set("q1_agg", "diff_range_stats"))
    val unknown = intercept[IllegalArgumentException](
      SparkEntry.onlyNames("q1_agg,typo,diff_rnage_stats", known))
    assert(unknown.getMessage.contains("unknown queries: diff_rnage_stats, typo"),
      unknown.getMessage)
    for (v <- Seq("", " , "))
      assert(intercept[IllegalArgumentException](SparkEntry.onlyNames(v, known))
        .getMessage.contains("names no query"), v)
  }
}
