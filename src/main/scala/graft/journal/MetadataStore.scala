package graft.journal

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge.dataFiles
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.RangeStats

/** The job journal — the reference's 12-table `cassandradiff` metadata
  * keyspace (JobMetadataDb.java:493-652) as parquet tables under one root.
  * Cassandra-specific artifacts (bucket fan-out to dodge wide partitions,
  * per-index duplicate tables) disappear: each logical table is one
  * partitioned parquet dataset and every "index" is a filter Spark pushes
  * down.
  *
  * Layout (datasets but `job_summary`, `table_params` and `errors` are
  * partitioned by `job_id`):
  *   <root>/job_summary/     job params + start metadata (job_summary +
  *                           job_start_index tables, JobMetadataDb.java:496-544)
  *   <root>/table_params/    per-table column roles, so a re-run rebuilds
  *                           the stored table specs
  *   <root>/task_status/     per (table, bucket) progress: running stats +
  *                           last_token watermark (job_status,
  *                           JobMetadataDb.java:546-570; checkpoint
  *                           RangeComparator.java:231-241)
  *   <root>/mismatches/      one row per mismatched partition
  *                           (JobMetadataDb.java:572-585)
  *   <root>/errors/          per-partition error detail, newest run per
  *                           table served (JobMetadataDb.java:587-607)
  *   <root>/job_results/     final per-table RangeStats
  *                           (JobMetadataDb.java:609-617)
  *   <root>/bucket_digests/  per-bucket side digests of incremental runs
  *   <root>/repair_scripts/  per-token repair statements (`repair = true`)
  *   <root>/reverse_checks/  reverse-read verdict disagreements
  *   <root>/running_jobs/<escaped job_id>.lock   the concurrency lock
  *                           (O21), holding its owner
  *
  * Reads run no Spark job to learn a schema: a read lists the dataset's
  * visible parquet files and merges their footer schemas on the driver.
  * A read of at most [[MetadataStore.DriverReadRows]] rows reads them on
  * the driver too, into a local relation, so a collect of its filtered or
  * projected rows runs no Spark job (see `load`).
  * [[latest]] reads one job's `job_id=<id>` directory only, so jobs
  * whose token columns differ in type share a root, and skips its window
  * when the footers' statistics show one run wrote the directory. Rows
  * the driver holds are written by the driver.
  */
final class MetadataStore(val root: String,
    retry: RetryPolicy = RetryPolicy.NoRetry)(implicit spark: SparkSession) {

  private def path(table: String): String = s"$root/$table"

  /** Append `df` to the journal dataset `table` in one pass over `df`.
    * A dynamic-partition write of an EMPTY frame emits no files at all,
    * leaving a directory spark.read cannot infer a schema from (the
    * healthy outcomes — clean diff ⇒ empty mismatches, agreeing reverse
    * checks — hit exactly this). So when the append published no part
    * file, the schema is recorded in a `_schema` sidecar instead
    * (underscore-prefixed dirs are invisible to Spark's file index, so
    * later real appends are unaffected); `read` falls back to it when the
    * dataset holds no data files.
    */
  def write(table: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit =
    if (appendAtomic(table, df, partitionBy) == 0) writeSchemaMarker(table, df)

  /** Concurrent writers of the same empty dataset each stage the marker
    * in a write-unique hidden dir and rename it into place; the first
    * rename wins and the others drop their copy (every copy carries the
    * same schema). The marker is one zero-row file written on the driver.
    */
  private def writeSchemaMarker(table: String, df: DataFrame): Unit = {
    val marker = Paths.get(path(table), "_schema")
    if (!Files.exists(marker)) {
      val staged =
        Paths.get(path(table), s".schema-${java.util.UUID.randomUUID}")
      retry.retry(s"journal schema marker $table") {
        stage(staged)(GraftParquetBridge.writeRows(spark, staged.toString,
          df.schema, Nil))
      }
      // the marker is its one parquet file, without the local file
      // system's hidden checksum file
      val written = Files.list(staged)
      try written.iterator().asScala
        .filter(_.getFileName.toString.startsWith(".")).foreach(Files.delete)
      finally written.close()
      // a rename onto another writer's marker fails as the platform
      // reports it (on Linux a plain FileSystemException, "Directory not
      // empty"); the marker then exists and this copy is dropped
      try Files.move(staged, marker)
      catch {
        case _: java.nio.file.FileSystemException if Files.exists(marker) =>
          deleteRecursively(staged)
      }
    }
  }

  /** `body` writing into an emptied `dir`: a retried attempt replaces
    * its own partial output instead of adding to it.
    */
  private def stage[T](dir: Path)(body: => T): T = {
    if (Files.exists(dir)) deleteRecursively(dir)
    Files.createDirectories(dir)
    body
  }

  /** Retry-safe append. A raw `SaveMode.Append` is NOT idempotent under
    * [[RetryPolicy]]: an attempt that dies after (or during) job commit can
    * leave committed part files behind, and the retry then appends a second
    * copy of every row — silently inflating the counters the results API
    * serves (the reference retries idempotent CQL upserts, so this hazard
    * is file-sink-specific). Instead each append OVERWRITES a write-unique
    * hidden staging dir — an arbitrary-failure retry replaces its own
    * partial output rather than adding to the live dataset — and only a
    * fully-successful attempt is published by renaming the staged part
    * files into the dataset (driver-local metadata moves, no data rewrite;
    * dot-prefixed dirs are invisible to Spark's file index, so a crashed
    * attempt's leftover staging is inert until cleaned). Returns the
    * number of parquet part files published.
    *
    * Rows the driver already holds (the optimized plan is a local
    * relation: job summaries, table params, task status, job results)
    * are written on the driver, in the layout Spark's writer gives one
    * task's rows; every other frame goes through a Spark write job.
    */
  private def appendAtomic(table: String, df: DataFrame,
      partitionBy: Seq[String]): Int = {
    val staging =
      Paths.get(path(table), s".staging-${java.util.UUID.randomUUID}")
    retry.retry(s"journal write $table") {
      df.queryExecution.optimizedPlan match {
        case local: LocalRelation => stage(staging)(GraftParquetBridge
          .writeRows(spark, staging.toString, local.schema, local.data, partitionBy))
        case _ =>
          val w = df.write.mode(SaveMode.Overwrite)
          (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
            .parquet(staging.toString)
      }
    }
    // an unpartitioned append of no rows still stages one zero-row file;
    // like an empty partitioned append it publishes none, and `write`
    // records the schema marker instead
    if (partitionBy.isEmpty && footers(dataFiles(staging))
        .forall(_.getParquetMetadata.getBlocks.asScala.forall(_.getRowCount == 0))) {
      deleteRecursively(staging)
      return 0
    }
    // the publish is retried too, and is naturally resumable: each moved
    // file leaves the staging tree, so a re-attempt only moves the
    // remainder (REPLACE_EXISTING covers a rename that half-completed).
    // A PROCESS crash mid-publish can still leave a partial append — the
    // runner's write ordering is what bounds that blast radius (digests
    // last, so a torn run re-compares instead of replaying).
    retry.retry(s"journal publish $table") {
      publish(staging, Paths.get(path(table)))
    }
  }

  /** Move staged parquet files (keeping their partition subdirs) into the
    * live dataset, then drop the staging tree; returns how many were
    * moved. Part-file names carry a per-write UUID, so renames cannot
    * collide with existing data.
    */
  private def publish(staging: Path, dest: Path): Int = {
    Files.createDirectories(dest)
    val walk = Files.walk(staging)
    val parts =
      try {
        walk.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).toList
      } finally walk.close()
    parts.foreach { f =>
      val target = dest.resolve(staging.relativize(f))
      Files.createDirectories(target.getParent)
      Files.move(f, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    deleteRecursively(staging)
    parts.size
  }

  private def deleteRecursively(dir: Path): Unit = {
    val walk = Files.walk(dir)
    val all =
      try {
        walk.iterator().asScala.toList
      } finally walk.close()
    all.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
  }

  /** Every row of the dataset `table`. Its visible parquet files are
    * listed once and their footer schemas merged on the driver (the
    * schema `mergeSchema = true` infers, so rows journaled by an older
    * engine version with fewer columns read as nulls), and the dataset is
    * read with that schema: no read runs a schema-inference job. A
    * dataset whose appends were all empty reads as its `_schema` marker,
    * through the marker's own footer.
    */
  def read(table: String): DataFrame = {
    val base = Paths.get(path(table))
    val files = dataFiles(base)
    val marker = base.resolve("_schema")
    val (dir, read) =
      if (files.isEmpty && Files.exists(marker)) (marker, dataFiles(marker))
      else (base, files)
    load(dir, read, footers(read))
  }

  /** [[read]]: every read merges its files' footer schemas, so the flag
    * changes nothing; it stays for callers written against the
    * inferring reader.
    */
  def read(table: String, mergeSchema: Boolean): DataFrame = read(table)

  private def footers(files: Seq[FileStatus]): Seq[Footer] =
    GraftParquetBridge.footers(spark, files)

  /** `dir` read with the merged schema of `footers` (those of its visible
    * parquet `files`) plus `extra` columns. This is the one place a read
    * chooses between the driver and Spark. Files whose footers count at
    * most [[MetadataStore.DriverReadRows]] rows are read on the driver
    * into a local relation: filters and projections fold into it, and
    * collecting them runs no Spark job. Larger reads are Spark scans,
    * which read only the columns and row groups a query needs; so is
    * every read whose bytes × `spark.sql.files.fileCompressionFactor`
    * exceed `spark.sql.autoBroadcastJoinThreshold` (Spark's own bound on
    * a relation to collect), and every read while it is -1. With no files
    * Spark infers, and fails as it would on any unreadable directory.
    */
  private def load(dir: Path, files: Seq[FileStatus], footers: Seq[Footer],
      extra: Seq[StructField] = Nil,
      options: Map[String, String] = Map.empty): DataFrame = {
    val conf = GraftParquetBridge.conf(spark)
    val threshold = conf.autoBroadcastJoinThreshold
    def rows = footers.flatMap(_.getParquetMetadata.getBlocks.asScala).map(_.getRowCount).sum
    GraftParquetBridge.footerSchema(spark, footers).map(s => StructType(s ++ extra)) match {
      case Some(schema) if threshold >= 0 &&
          files.map(_.getLen).sum * conf.fileCompressionFactor <= threshold &&
          rows <= MetadataStore.DriverReadRows =>
        GraftParquetBridge.readLocal(spark, dir, files, footers, schema, options)
      case schema =>
        val reader = spark.read.options(options)
        schema.fold(reader)(reader.schema).parquet(dir.toString)
    }
  }

  /** `jobId`'s rows of a dataset partitioned by `job_id`: only its
    * `job_id=<id>` directory (Spark's partition-path escaping) is listed
    * and read, so jobs whose columns differ in type (a `random` job's
    * string tokens next to an `xxhash64` job's bigints) share a root.
    * `job_id` stays a string column. A job with no rows reads as an
    * empty frame shaped like the dataset's newest file. Also returns
    * whether every row was journaled by one run: its files' footer
    * statistics hold a single, non-null `run_ts`.
    */
  private def readJob(dataset: String, jobId: String): (DataFrame, Boolean) = {
    val base = Paths.get(path(dataset))
    val dir = base.resolve(
      ExternalCatalogUtils.getPartitionPathString("job_id", jobId))
    val jobCol = StructField("job_id", StringType)
    val files = dataFiles(dir)
    val parts = footers(files)
    if (parts.nonEmpty)
      (load(dir, files, parts, Seq(jobCol), Map("basePath" -> base.toString)),
        GraftParquetBridge.singleValue(parts, "run_ts"))
    else {
      val newest = dataFiles(base) match {
        case Seq() => dataFiles(base.resolve("_schema"))
        case all => Seq(all.maxBy(_.getModificationTime))
      }
      val empty = GraftParquetBridge.footerSchema(spark, footers(newest)) match {
        case Some(s) => spark.createDataFrame(java.util.Collections.emptyList[Row](),
          StructType(s.filterNot(_.name == jobCol.name) :+ jobCol))
        case None => load(base, Nil, Nil)
      }
      (empty, true)
    }
  }

  /** Is there a readable dataset — data files, or the schema marker of
    * one whose appends were all empty? A directory holding only other
    * writers' in-flight staging does not count.
    */
  def exists(table: String): Boolean = {
    val base = Paths.get(path(table))
    Files.exists(base.resolve("_schema")) || dataFiles(base, limit = 1).nonEmpty
  }

  /** Every row of each key's newest run among `jobId`'s rows of the
    * job-partitioned `dataset` — the reference's CQL upsert
    * (re-recording a key overwrites it, JobMetadataDb.java:552-559) read
    * over an append-only journal. Only the job's own directory is read.
    * `keys` name the upsert key minus `job_id`. All rows of the newest
    * run are kept (a repair token carries one statement per clustering
    * row), and a row with a null `run_ts` loses to any stamped row. A
    * filter on `keys` applied to the result is pushed below the window.
    * A directory one run wrote needs no window (every row is its key's
    * newest) and is returned as read.
    */
  def latest(dataset: String, jobId: String, keys: Seq[String]): DataFrame =
    readJob(dataset, jobId) match {
      case (rows, true) => rows
      case (rows, false) => newestRun(rows, keys)
    }

  /** [[latest]] over a dataset that is not partitioned by `job_id`
    * (`errors`): the dataset is read whole and filtered to `jobId`. A
    * dataset journaled before its rows were stamped has no `run_ts`
    * column, and its job's rows are served as they are.
    */
  def latestUnpartitioned(dataset: String, jobId: String,
      keys: Seq[String]): DataFrame = {
    val rows = read(dataset).filter(col("job_id") === jobId)
    if (rows.columns.contains("run_ts")) newestRun(rows, keys) else rows
  }

  /** Each key's newest run; a null `run_ts` loses to any stamped row. */
  private def newestRun(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(coalesce(col("run_ts"), lit(0L)).desc)
    rows.withColumn("__rank", dense_rank().over(w)).filter(col("__rank") === 1)
      .drop("__rank")
  }

  /** O21: the `running_jobs` LWT lock (`INSERT ... IF NOT EXISTS`,
    * JobMetadataDb.java:359-376) emulated with an atomic file create.
    * The lock file is named by the escaped job id (Spark's partition-path
    * escaping, so any id names one file inside `running_jobs`) and holds
    * its owner: host, pid and start time. Returns true iff this caller
    * acquired the lock.
    */
  def acquireRunLock(jobId: String): Boolean = {
    Files.createDirectories(lockFile(jobId).getParent)
    val owner = s"host=${java.net.InetAddress.getLocalHost.getHostName} " +
      s"pid=${ProcessHandle.current.pid} started=${java.time.Instant.now}"
    try {
      Files.write(lockFile(jobId), owner.getBytes("UTF-8"), StandardOpenOption.CREATE_NEW)
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }

  /** The owner written into `jobId`'s lock, if it is held. */
  def runLockOwner(jobId: String): Option[String] =
    try Some(new String(Files.readAllBytes(lockFile(jobId)), "UTF-8"))
    catch { case _: java.nio.file.NoSuchFileException => None }

  /** O21: `markNotRunning` / lock release (JobMetadataDb.java:461-490). */
  def releaseRunLock(jobId: String): Unit = Files.deleteIfExists(lockFile(jobId))

  def isRunning(jobId: String): Boolean = Files.exists(lockFile(jobId))

  private def lockFile(jobId: String): Path = Paths.get(root, "running_jobs",
    ExternalCatalogUtils.escapePathName(jobId) + MetadataStore.LockSuffix)
}

object MetadataStore {
  private val LockSuffix = ".lock"

  /** The most rows a journal read decodes on the driver. The driver
    * decodes every column of every row, one row at a time, and a window
    * or aggregate over its rows ships them into tasks; a Spark scan reads
    * only the columns and row groups a query needs, in parallel, at a
    * fixed cost of 70-140 ms a call. Measured on a 4-core VM (sf0.01
    * orders rows replicated, driver ms against Spark ms): collecting a
    * job's mismatches 35/70 at 4815 rows and 72/70 at 16371;
    * `jobResults`' newest-run window 113/134 at 944 rows and 147/142 at
    * 7866; `jobErrors` 114/139 at 1636 rows and 193/133 at 17496.
    */
  val DriverReadRows: Long = 4096

  /** The job id a `running_jobs` lock file name stands for. */
  def lockedJobId(fileName: String): String =
    ExternalCatalogUtils.unescapePathName(fileName.stripSuffix(LockSuffix))

  /** Typed view of a job_results/task_status counter row. */
  def toRangeStats(row: org.apache.spark.sql.Row): RangeStats = RangeStats(
    matchedPartitions = row.getAs[Long]("matched_partitions"),
    mismatchedPartitions = row.getAs[Long]("mismatched_partitions"),
    onlyInSource = row.getAs[Long]("only_in_source"),
    onlyInTarget = row.getAs[Long]("only_in_target"),
    matchedRows = row.getAs[Long]("matched_rows"),
    matchedValues = row.getAs[Long]("matched_values"),
    mismatchedValues = row.getAs[Long]("mismatched_values"),
    skippedPartitions =
      if (row.schema.fieldNames.contains("skipped_partitions"))
        row.getAs[Long]("skipped_partitions") else 0L)
}
