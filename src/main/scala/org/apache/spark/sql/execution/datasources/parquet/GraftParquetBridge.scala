package org.apache.spark.sql.execution.datasources.parquet

import java.nio.file.{Files, Path}

import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.util.ThreadUtils

/** Bridge to the `private[parquet]` footer readers and the file writer
  * behind Spark's own parquet reads and writes. Spark runs them inside
  * jobs; called here they run on the driver, so a reader that already
  * listed its files learns their schema without a job, and rows the
  * driver already holds are written without one.
  */
object GraftParquetBridge {

  private def state(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState

  /** The parquet data files under `base` that Spark's file index would
    * see — outside hidden (`.`/`_`-prefixed) dirs such as a journal's
    * `_schema` sidecar and other writers' `.staging-*` dirs — at most
    * `limit` of them. Hidden subtrees are never entered, and an entry
    * that vanishes mid-walk (a concurrent writer dropping its staging
    * dir) is skipped; so is a missing `base`.
    */
  def dataFiles(base: Path, limit: Int = Int.MaxValue): Seq[FileStatus] = {
    import java.nio.file.{FileVisitResult, NoSuchFileException, SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    val found = ListBuffer.empty[FileStatus]
    def hidden(p: Path): Boolean = p != base && {
      val n = p.getFileName.toString
      n.startsWith(".") || n.startsWith("_")
    }
    Files.walkFileTree(base, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path,
          a: BasicFileAttributes): FileVisitResult =
        if (hidden(d)) FileVisitResult.SKIP_SUBTREE
        else FileVisitResult.CONTINUE
      override def visitFile(f: Path,
          a: BasicFileAttributes): FileVisitResult =
        if (!hidden(f) && f.toString.endsWith(".parquet")) {
          found += new FileStatus(a.size, false, 1, 0L,
            a.lastModifiedTime.toMillis, new HPath(f.toUri))
          if (found.size >= limit) FileVisitResult.TERMINATE
          else FileVisitResult.CONTINUE
        } else FileVisitResult.CONTINUE
      override def visitFileFailed(f: Path,
          e: java.io.IOException): FileVisitResult = e match {
        case _: NoSuchFileException => FileVisitResult.CONTINUE
        case _ => throw e
      }
    })
    found.toList
  }

  /** The footers of `files`, row groups and their column statistics
    * included (Spark's own `readParquetFootersInParallel` skips the row
    * groups: it needs only the schema).
    */
  def footers(spark: SparkSession, files: Seq[FileStatus]): Seq[Footer] = {
    val conf = state(spark).newHadoopConf()
    ThreadUtils.parmap(files, "readingParquetFooters", 8) { f =>
      new Footer(f.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.NO_FILTER))
    }
  }

  /** The merge of `footers`' schemas — what `mergeSchema = true` infers
    * for their files — or None for no footers.
    */
  def footerSchema(spark: SparkSession, footers: Seq[Footer]): Option[StructType] =
    ParquetFileFormat.readSchema(footers, spark)

  /** Does the top-level `column` hold one value in every row of
    * `footers`? True when each non-empty row group records it with no
    * nulls and min == max, and all of them the same value — read from the
    * statistics, without touching a row.
    */
  def singleValue(footers: Seq[Footer], column: String): Boolean = {
    val groups = footers.flatMap(_.getParquetMetadata.getBlocks.asScala)
      .filter(_.getRowCount > 0)
    val stats = groups.map(_.getColumns.asScala
      .find(_.getPath.toDotString == column).map(_.getStatistics))
    stats.forall(_.exists(s => s.isNumNullsSet && s.getNumNulls == 0 &&
        s.hasNonNullValue && s.genericGetMin == s.genericGetMax)) &&
      stats.flatten.map(_.genericGetMin).distinct.size <= 1
  }

  /** Write `rows` (of `schema`) under `dir` on the driver, laid out as
    * Spark's writer lays out the same rows of one task: one
    * `part-00000-<uuid>-c000.<codec>.parquet` file, or with `partitionBy`
    * one `part-00000-<uuid>.c000.<codec>.parquet` per distinct partition
    * value in its escaped `<col>=<value>` directory, the partition
    * columns left out of the file. An unpartitioned write always leaves
    * one file, empty or not; a partitioned write of no rows leaves none.
    * Returns the files written.
    */
  def writeRows(spark: SparkSession, dir: String, schema: StructType,
      rows: Seq[InternalRow], partitionBy: Seq[String] = Nil): Int = {
    val st = state(spark)
    val tz = Option(st.conf.sessionLocalTimeZone)
    val partIdx = partitionBy.map(schema.fieldIndex)
    val dataIdx = schema.indices.filterNot(partIdx.contains)
    val dataSchema = StructType(dataIdx.map(schema(_)))
    val partStrings = partIdx.map(i =>
      Cast(BoundReference(i, schema(i).dataType, schema(i).nullable),
        StringType, tz))
    def partDir(r: InternalRow): String =
      partitionBy.zip(partStrings).map { case (c, e) =>
        ExternalCatalogUtils.getPartitionPathString(c,
          Option(e.eval(r)).map(_.toString).orNull)
      }.mkString("/")
    val groups =
      if (partitionBy.isEmpty) Seq("" -> rows) else rows.groupBy(partDir).toSeq
    val job = Job.getInstance(st.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(st.conf, job, dataSchema,
      new ParquetOptions(Map.empty[String, String], st.conf))
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    val name = s"part-00000-${java.util.UUID.randomUUID}" +
      (if (partitionBy.isEmpty) "-c000" else ".c000") +
      factory.getFileExtension(ctx)
    groups.foreach { case (sub, rs) =>
      val w = factory.newInstance(
        if (sub.isEmpty) s"$dir/$name" else s"$dir/$sub/$name", dataSchema, ctx)
      try rs.foreach(r =>
        w.write(new GenericInternalRow(dataIdx.map(i => r.get(i, schema(i).dataType)).toArray)))
      finally w.close()
    }
    groups.size
  }
}
