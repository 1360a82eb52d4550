package graft.cli

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.api.{DiffJobConfig, DiffRunner}
import graft.sources.{ParquetSource, SchemaOps, SourceProvider}

/** spark-submit entry — the reference's `DiffJob.main <config.yaml>`
  * (DiffJob.java:60-71) re-shaped: YAML config names the two sides (any
  * SourceProvider; parquet roots here), the tables, and the run options;
  * the diff executes as declarative DataFrame plans and the journal lands
  * under the metadata root.
  *
  * Usage: runMain graft.cli.DiffJobMain <config.yaml>
  */
object DiffJobMain {

  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: DiffJobMain <config.yaml>")
    val config = JobConfig.load(args(0))
    implicit val spark: SparkSession = GraftSession.builder()
      .appName("graft-diff")
      // spark-submit injects spark.master; default for direct invocation
      .config("spark.master", sys.props.getOrElse("spark.master", "local[*]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val source = providerFor(config, "source")
    val target = providerFor(config, "target")
    val metadataRoot = config.clusterConfig.get("metadata")
      .flatMap(_.get("path"))
      .getOrElse(s"/tmp/graft-metadata/${config.metadataKeyspace}")

    // table list: configured, or auto-discovered as the intersection of
    // both catalogs minus disallowed keyspaces (DiffJob.java:104-116)
    val tables =
      if (config.keyspaceTables.nonEmpty) config.keyspaceTables
      else SchemaOps.intersect(
        source.listTables(spark), target.listTables(spark),
        config.disallowedKeyspaces.toSet)

    val jobId = config.jobId.getOrElse(java.util.UUID.randomUUID().toString)
    // resolve roles: registry entry, else pk = first column of the actual
    // schema (the documented fallback for unknown tables)
    val specs = tables.map { t =>
      val spec = JobConfig.tableSpec(t)
      if (spec.pk.nonEmpty) spec
      else spec.copy(pk = Seq(source.table(spark, spec.table).columns.head))
    }
    val results = new DiffRunner(source, target,
      DiffJobConfig(
        jobId = jobId,
        tables = specs,
        options = config.toDiffOptions,
        metadataRoot = metadataRoot,
        partitioner = config.partitioner,
        retry = config.retryPolicy,
        digestFirst = config.digestFirst,
        repair = config.generateRepair,
        tolerances = config.tolerances.map { case (t, m) =>
          t.split('.').last -> m }))
      .run()

    // the reference's end-of-job summary line (DiffJob.java:190)
    println(s"FINISHED: ${results.map { case (t, s) =>
      s"$t=Matched Partitions - ${s.matchedPartitions}, Mismatched Partitions - ${s.mismatchedPartitions}"
    }.mkString("{", ", ", "}")}")
    spark.stop()
  }

  private def providerFor(config: JobConfig, side: String): SourceProvider = {
    val cc = config.clusterConfig.getOrElse(side,
      throw new IllegalArgumentException(s"cluster_config.$side missing"))
    cc.getOrElse("impl", "parquet") match {
      case "parquet" | "graft.sources.ParquetSource" =>
        ParquetSource(cc.getOrElse("path",
          throw new IllegalArgumentException(s"cluster_config.$side.path required for parquet")))
      case other =>
        // reflection-loaded provider, mirroring ClusterProvider.java:34-44
        Class.forName(other).getDeclaredConstructor(classOf[String])
          .newInstance(cc.getOrElse("path", "")).asInstanceOf[SourceProvider]
    }
  }
}
