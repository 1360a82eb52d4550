package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark plan over a scale-factor directory,
  * and the ANSI SQL DuckDB runs on the same parquet tables to check it.
  */
final case class Query(name: String, run: (SparkSession, String) => DataFrame,
    oracle: String)
