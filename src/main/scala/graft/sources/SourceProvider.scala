package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge

/** Pluggable table source — the reference's reflection-loaded
  * `ClusterProvider` (common/.../ClusterProvider.java:34-44) re-shaped to
  * "anything that yields a DataFrame for a table name". A
  * Cassandra-connector implementation slots in beside the parquet one
  * without touching the engine.
  */
trait SourceProvider extends Serializable {
  def table(spark: SparkSession, name: String): DataFrame
  /** Catalog listing, for schema auto-discovery (O19). */
  def listTables(spark: SparkSession): Seq[String]
}

/** Directory-of-parquet source: `<root>/<table>.parquet`. The table's
  * schema is the footer schema of one of its visible data files, read on
  * the driver — what Spark's `mergeSchema = false` inference reads, in a
  * job of its own — and partition columns are discovered as usual. A
  * directory with no data file is left to Spark's inference, and its
  * error.
  */
final case class ParquetSource(root: String) extends SourceProvider {
  override def table(spark: SparkSession, name: String): DataFrame = {
    val dir = s"$root/$name.parquet"
    val one = GraftParquetBridge.dataFiles(Paths.get(dir), limit = 1)
    val reader = spark.read
    GraftParquetBridge.footerSchema(spark, GraftParquetBridge.footers(spark, one))
      .fold(reader)(reader.schema).parquet(dir)
  }
  override def listTables(spark: SparkSession): Seq[String] = {
    val dir = new java.io.File(root)
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet")).sorted.toSeq
  }
}

/** O19: schema auto-discovery — the intersection of the two sides'
  * table sets minus a keyspace/table reject-list (Schema.java:27-75,
  * invoked DiffJob.java:104-116). A table on one side only is left out
  * instead of failing the job, like the reference.
  */
object SchemaOps {
  def intersect(src: Seq[String], tgt: Seq[String], disallowed: Set[String] = Set.empty): Seq[String] =
    (src.toSet & tgt.toSet -- disallowed).toSeq.sorted
}
