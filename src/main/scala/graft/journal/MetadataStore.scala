package graft.journal

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.RangeStats

/** The job journal — the reference's 12-table `cassandradiff` metadata
  * keyspace (JobMetadataDb.java:493-652) as parquet tables under one root.
  * Cassandra-specific artifacts (bucket fan-out to dodge wide partitions,
  * per-index duplicate tables) disappear: each logical table is one
  * partitioned parquet dataset and every "index" is a filter Spark pushes
  * down.
  *
  * Layout:
  *   <root>/job_summary/     job params + start metadata (job_summary +
  *                           job_start_index tables, JobMetadataDb.java:496-544)
  *   <root>/task_status/     per (table, bucket) progress: running stats +
  *                           last_token watermark (job_status,
  *                           JobMetadataDb.java:546-570; checkpoint
  *                           RangeComparator.java:231-241)
  *   <root>/mismatches/      one row per mismatched partition
  *                           (JobMetadataDb.java:572-585)
  *   <root>/errors/          per-partition error detail
  *                           (JobMetadataDb.java:587-607)
  *   <root>/job_results/     final per-table RangeStats
  *                           (JobMetadataDb.java:609-617)
  *   <root>/running_jobs/<job_id>.lock   the concurrency lock (O21)
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
    * same schema).
    */
  private def writeSchemaMarker(table: String, df: DataFrame): Unit = {
    val marker = Paths.get(path(table), "_schema")
    if (!Files.exists(marker)) {
      val staged =
        Paths.get(path(table), s".schema-${java.util.UUID.randomUUID}")
      retry.retry(s"journal schema marker $table") {
        df.limit(0).write.mode(SaveMode.Overwrite).parquet(staged.toString)
      }
      try Files.move(staged, marker)
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
            _: java.nio.file.DirectoryNotEmptyException =>
          deleteRecursively(staged)
      }
    }
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
    */
  private def appendAtomic(table: String, df: DataFrame,
      partitionBy: Seq[String]): Int = {
    val staging =
      Paths.get(path(table), s".staging-${java.util.UUID.randomUUID}")
    retry.retry(s"journal write $table") {
      val w = df.write.mode(SaveMode.Overwrite)
      (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
        .parquet(staging.toString)
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
        import scala.jdk.CollectionConverters._
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
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toList
      } finally walk.close()
    all.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
  }

  def read(table: String): DataFrame = read(table, mergeSchema = false)

  /** `mergeSchema` widens the read across journal rows written by older
    * engine versions with fewer columns (schema evolution tolerance).
    */
  def read(table: String, mergeSchema: Boolean): DataFrame = {
    val base = Paths.get(path(table))
    val marker = base.resolve("_schema")
    if (Files.exists(marker) && !hasDataFiles(base))
      spark.read.parquet(marker.toString)
    else
      spark.read.option("mergeSchema", mergeSchema.toString)
        .parquet(path(table))
  }

  /** Any parquet data file Spark's file index would actually see — i.e.
    * outside the `_schema` sidecar and outside hidden (`.`/`_`-prefixed)
    * dirs such as other writers' `.staging-*` dirs? Hidden subtrees are
    * never entered, and an entry that vanishes mid-walk (a concurrent
    * writer dropping its staging dir) is skipped.
    */
  private def hasDataFiles(base: Path): Boolean = {
    import java.nio.file.{FileVisitResult, NoSuchFileException, SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    var found = false
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
          found = true; FileVisitResult.TERMINATE
        } else FileVisitResult.CONTINUE
      override def visitFileFailed(f: Path,
          e: java.io.IOException): FileVisitResult = e match {
        case _: NoSuchFileException => FileVisitResult.CONTINUE
        case _ => throw e
      }
    })
    found
  }

  /** Is there a readable dataset — data files, or the schema marker of
    * one whose appends were all empty? A directory holding only other
    * writers' in-flight staging does not count.
    */
  def exists(table: String): Boolean = {
    val base = Paths.get(path(table))
    Files.exists(base.resolve("_schema")) || hasDataFiles(base)
  }

  /** Every row of each key's newest run among `jobId`'s rows of
    * `dataset` — the reference's CQL upsert (re-recording a key
    * overwrites it, JobMetadataDb.java:552-559) read over an append-only
    * journal. `keys` name the upsert key minus `job_id`. All rows of the
    * newest run are kept (a repair token carries one statement per
    * clustering row), and a row with a null `run_ts` loses to any stamped
    * row. A filter on `keys` applied to the result is pushed below the
    * window.
    */
  def latest(dataset: String, jobId: String, keys: Seq[String],
      mergeSchema: Boolean = false): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(coalesce(col("run_ts"), lit(0L)).desc)
    read(dataset, mergeSchema).filter(col("job_id") === jobId)
      .withColumn("__rank", dense_rank().over(w)).filter(col("__rank") === 1)
      .drop("__rank")
  }

  /** O21: the `running_jobs` LWT lock (`INSERT ... IF NOT EXISTS`,
    * JobMetadataDb.java:359-376) emulated with an atomic file create.
    * Returns true iff this caller acquired the lock.
    */
  def acquireRunLock(jobId: String): Boolean = {
    val dir = Paths.get(root, "running_jobs")
    Files.createDirectories(dir)
    try { Files.createFile(dir.resolve(s"$jobId.lock")); true }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }

  /** O21: `markNotRunning` / lock release (JobMetadataDb.java:461-490). */
  def releaseRunLock(jobId: String): Unit =
    Files.deleteIfExists(Paths.get(root, "running_jobs", s"$jobId.lock"))

  def isRunning(jobId: String): Boolean =
    Files.exists(Paths.get(root, "running_jobs", s"$jobId.lock"))
}

object MetadataStore {
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
