package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[parquet]` footer readers behind Spark's own
  * `mergeSchema` inference. Inference runs them inside a Spark job;
  * called here they run on the driver, so a reader that already listed
  * its files learns their schema without one.
  */
object GraftParquetBridge {

  /** The merge of `files`' footer schemas — what `mergeSchema = true`
    * infers for them — or None for no files.
    */
  def footerSchema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(state.newHadoopConf(), files,
        state.conf.ignoreCorruptFiles),
      spark)
  }
}
