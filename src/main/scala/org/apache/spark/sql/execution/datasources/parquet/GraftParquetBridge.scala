package org.apache.spark.sql.execution.datasources.parquet

import java.nio.file.{Files, Path}

import scala.collection.mutable.{LinkedHashMap, ListBuffer}
import scala.concurrent.{ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, PartitioningAwareFileIndex,
  PartitionSpec}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.util.ThreadUtils

/** Bridge to the `private[parquet]` footer readers, the vectorized row
  * reader and the file writer behind Spark's own parquet reads and
  * writes. Spark runs them inside jobs; called here they run on the
  * driver, so a reader that already listed its files learns their schema
  * (and may read their rows) without a job, and rows the driver already
  * holds are written without one.
  */
object GraftParquetBridge {

  private def state(spark: SparkSession) = spark.asInstanceOf[ClassicSession].sessionState

  /** The session's SQL configuration. */
  def conf(spark: SparkSession): SQLConf = state(spark).conf

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

  // one pool for every footer read of the process: `ThreadUtils.parmap`
  // would start (and stop) a pool per call
  private lazy val footerPool = ExecutionContext.fromExecutorService(
    ThreadUtils.newDaemonCachedThreadPool("readingParquetFooters", 8))

  /** The footers of `files`, in their order, row groups and their column
    * statistics included (Spark's own `readParquetFootersInParallel`
    * skips the row groups: it needs only the schema).
    */
  def footers(spark: SparkSession, files: Seq[FileStatus]): Seq[Footer] = {
    val conf = state(spark).newHadoopConf()
    files.map(f => Future(new Footer(f.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.NO_FILTER)))(footerPool))
      .map(ThreadUtils.awaitResult(_, Duration.Inf))
  }

  /** The rows of the parquet `files` under `root`, read on the driver into
    * a local relation: what `spark.read.options(options).schema(schema)
    * .parquet(root)` reads, in the same columns. Spark's file index logic
    * takes the partition columns from the files' `<col>=<value>`
    * directories (typed by `schema` where it names them, else inferred),
    * and Spark's vectorized parquet reader reads each file from its
    * footer, one of `footers` (aligned with `files`), so no footer is read
    * twice. The hadoop configuration is built once per call and never
    * broadcast.
    */
  def readLocal(spark: SparkSession, root: Path, files: Seq[FileStatus],
      footers: Seq[Footer], schema: StructType,
      options: Map[String, String]): DataFrame = {
    val session = spark.asInstanceOf[ClassicSession]
    val sqlConf = conf(spark)
    val index = new ListedFileIndex(session, options, schema,
      new HPath(root.toString), files)
    val partitionSchema = index.partitionSchema
    val dataSchema = StructType(schema.filterNot(f =>
      partitionSchema.exists(p => sqlConf.resolver(p.name, f.name)))).asNullable
    val output = StructType(dataSchema ++ partitionSchema).asNullable
    val hadoopConf = index.readConf
    SetupHadoopConf.invoke(Format, hadoopConf, sqlConf, dataSchema)
    val ctx = new TaskAttemptContextImpl(hadoopConf, new TaskAttemptID())
    val footerOf = footers.map(f => f.getFile -> f.getParquetMetadata).toMap
    val toUnsafe = UnsafeProjection.create(output)
    val rows = index.listFiles(Nil, Nil).flatMap { dir =>
      dir.files.flatMap { fs =>
        val file = fs.fileStatus
        val footer = footerOf(file.getPath)
        val meta = footer.getFileMetaData.getKeyValueMetaData
        val datetime = DataSourceUtils.datetimeRebaseSpec(meta.get,
          sqlConf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString)
        val int96 = DataSourceUtils.int96RebaseSpec(meta.get,
          sqlConf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ).toString)
        val count = footer.getBlocks.asScala.map(_.getRowCount).sum
        // no zone: int96 timestamp conversion (off by default) applies
        // only to files that writers other than Spark produced
        val reader = new VectorizedParquetRecordReader(null,
          datetime.mode.toString, datetime.timeZone, int96.mode.toString,
          int96.timeZone, false,
          math.max(1L, math.min(count, sqlConf.parquetVectorizedReaderBatchSize.toLong)).toInt)
        try {
          val input = HadoopInputFile.fromStatus(file, hadoopConf)
          reader.initialize(new FileSplit(file.getPath, 0, file.getLen, Array.empty[String]),
            ctx, Some(input), Some(input.newStream()), Some(footer))
          reader.initBatch(partitionSchema, dir.values)
          val out = ListBuffer.empty[InternalRow]
          while (reader.nextKeyValue())
            out += toUnsafe(reader.getCurrentValue.asInstanceOf[InternalRow]).copy()
          out
        } finally reader.close()
      }
    }
    Dataset.ofRows(session, LocalRelation(DataTypeUtils.toAttributes(output), rows))
  }

  private val Format = new ParquetFileFormat

  /** ParquetFileFormat's own reader set-up of a hadoop configuration (the
    * requested schema and the session flags its schema converter reads),
    * which `readLocal` runs. It is `private` to the class, so the package
    * of this bridge does not reach it and it is looked up by name and
    * signature. The lookup runs when this object is first used, so a
    * Spark version that renames the method or changes its parameters
    * fails there, with this message, and not inside a read.
    */
  val SetupHadoopConf: java.lang.reflect.Method =
    try {
      val m = classOf[ParquetFileFormat].getDeclaredMethod("setupHadoopConf",
        classOf[Configuration], classOf[SQLConf], classOf[StructType])
      m.setAccessible(true)
      m
    } catch {
      case e: NoSuchMethodException => throw new IllegalStateException(
        "this Spark version has no ParquetFileFormat.setupHadoopConf(" +
          "Configuration, SQLConf, StructType), which GraftParquetBridge.readLocal runs", e)
    }

  /** A file index over files already listed: Spark's partition discovery
    * and file selection, with no listing of its own.
    */
  private final class ListedFileIndex(spark: ClassicSession,
      options: Map[String, String], schema: StructType, root: HPath,
      files: Seq[FileStatus])
      extends PartitioningAwareFileIndex(spark, options, Some(schema)) {
    override val rootPaths: Seq[HPath] = Seq(root)
    override val leafFiles: LinkedHashMap[HPath, FileStatus] =
      LinkedHashMap.from(files.map(f => f.getPath -> f))
    override val leafDirToChildrenFiles: Map[HPath, Array[FileStatus]] =
      files.toArray.groupBy(_.getPath.getParent)
    override lazy val partitionSpec: PartitionSpec = inferPartitioning()
    override def refresh(): Unit = ()
    /** The index's own configuration, the session's plus `options`. */
    def readConf: Configuration = hadoopConf
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
