package graft

import graft.functions.CassandraMurmur3

class GraftSessionSpec extends SparkSpec {

  test("the test session runs every shared engine setting the tools ship") {
    GraftSession.engine.foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, s"setting $k")
    }
    // GraftExtensions is installed: its SQL functions resolve
    val token = spark.sql("SELECT cassandra_murmur3_token(CAST(1 AS BIGINT))")
      .collect()(0).getLong(0)
    assert(token === CassandraMurmur3.token(CassandraMurmur3.serializeLong(1L)))
  }
}
