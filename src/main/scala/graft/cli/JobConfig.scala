package graft.cli

import java.nio.file.{Files, Paths}
import java.util.{List => JList, Map => JMap}

import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.Yaml

import graft.core.{DiffOptions, TableSpec}

/** YAML job configuration — key-for-key parity with the reference's
  * `YamlJobConfiguration` (common/.../YamlJobConfiguration.java:35-51;
  * example: spark-job/localconfig.yaml). Keys that configured the
  * hand-rolled execution engine are accepted and recorded but are
  * no-ops here because Spark owns that concern; each is marked below.
  *
  * | key                            | here                                |
  * |--------------------------------|-------------------------------------|
  * | keyspace_tables                | diffed table list ("ks.tbl")        |
  * | disallowed_keyspaces           | auto-discovery reject list (O19/O20)|
  * | splits                        | n/a — Spark partitioning (noted)     |
  * | buckets                        | journal shard count (O11/O13)       |
  * | rate_limit                     | n/a — file sources (noted)          |
  * | job_id                         | job identity / resume key (O21)     |
  * | partitioner                    | token fn: xxhash64|murmur3|random   |
  * | token_scan_fetch_size          | n/a — columnar reader (noted)       |
  * | partition_read_fetch_size      | n/a — columnar reader (noted)       |
  * | read_timeout_millis            | n/a — task retry owns timeouts      |
  * | reverse_read_probability       | sampled reverse validation pass (O3)|
  * | consistency_level              | n/a — no CQL reads (noted)          |
  * | metadata_options.keyspace      | journal root subdir                 |
  * | metadata_options.ttl           | journal retention (recorded)        |
  * | cluster_config.source/target   | SourceProvider specs (impl + path)  |
  * | specific_tokens                | accept-list (O9)                    |
  * | disallowed_tokens              | reject-list (O9)                    |
  * | retry_options                  | journal-write backoff policy (O17)  |
  * | partition_sampling_probability | sampling num/den (O10)              |
  *
  * Engine extensions (no reference counterpart; default off):
  *
  * | digest_first                   | per-bucket digest prefilter — the  |
  * |                                | wide join reads only dirty buckets |
  * | generate_repair                | journal a CQL repair script served |
  * |                                | by GET /jobs/{id}/repair           |
  * | tolerances                     | per-table per-column ε: a float    |
  * |                                | cell within ε of its pair matches; |
  * |                                | rejected with digest_first         |
  */
final case class JobConfig(
    keyspaceTables: Seq[String],
    disallowedKeyspaces: Seq[String],
    splits: Int,
    buckets: Int,
    rateLimit: Int,
    jobId: Option[String],
    partitioner: String,
    reverseReadProbability: Double,
    metadataKeyspace: String,
    metadataTtl: Long,
    specificTokens: Seq[Long],
    disallowedTokens: Seq[Long],
    partitionSamplingProbability: Double,
    clusterConfig: Map[String, Map[String, String]],
    retryPolicy: graft.journal.RetryPolicy = graft.journal.RetryPolicy.NoRetry,
    digestFirst: Boolean = false,
    generateRepair: Boolean = false,
    // engine extension: per-table per-column ε tolerance for float
    // replica drift (`tolerances: {ks.table: {col: 0.01}}`); exact
    // comparison when absent. Incompatible with digest_first (digests
    // hash exact values — DiffRunner rejects the combination).
    tolerances: Map[String, Map[String, Double]] = Map.empty) {

  /** Sampling probability → deterministic per-key modulus (O10): keep a
    * partition iff pmod(token, den) < num with num/den ≈ p.
    */
  def samplingFraction: (Int, Int) = {
    val den = 1000
    val num = math.round(partitionSamplingProbability * den).toInt
    (math.min(num, den), den)
  }

  def toDiffOptions: DiffOptions = {
    val (num, den) = samplingFraction
    DiffOptions(
      buckets = buckets,
      disallowedTokens = disallowedTokens,
      specificTokens = specificTokens,
      samplingNum = num,
      samplingDen = den,
      reverseReadProbability = reverseReadProbability)
  }
}

object JobConfig {

  def load(path: String): JobConfig =
    loadString(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))

  def loadString(yaml: String): JobConfig =
    fromYamlMap(new Yaml().load[JMap[String, Object]](yaml))

  private def fromYamlMap(m0: JMap[String, Object]): JobConfig = {
    val m = Option(m0).map(_.asScala).getOrElse(
      scala.collection.mutable.Map.empty[String, Object])

    def str(k: String): Option[String] = m.get(k).map(_.toString)
    def num(k: String, dflt: Long): Long =
      m.get(k).map(_.toString.trim.toDouble.toLong).getOrElse(dflt)
    def dbl(k: String, dflt: Double): Double =
      m.get(k).map(_.toString.trim.toDouble).getOrElse(dflt)
    def strList(k: String): Seq[String] = m.get(k) match {
      case Some(l: JList[_]) => l.asScala.map(_.toString).toSeq
      case _ => Nil
    }
    // reference format: comma-separated string of exact tokens
    def tokenList(k: String): Seq[Long] = str(k) match {
      case Some(s) if s.trim.nonEmpty =>
        s.split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
      case _ => Nil
    }

    val metadata = m.get("metadata_options") match {
      case Some(mo: JMap[_, _]) =>
        mo.asScala.map { case (k, v) => k.toString -> v }.toMap
      case _ => Map.empty[String, Any]
    }
    // retry_options (O17): `impl` selects the strategy exactly as the
    // reference's RetryStrategyProvider.create does by class name
    // (RetryStrategyProvider.java:44-66) — an Exponential impl reads
    // base_delay_ms / total_delay_ms (defaults 1 s / 30 min,
    // ExponentialRetryStrategyProvider.java:46-48); anything else, or no
    // retry_options at all, is NoRetry (the reference's fallback).
    val retryPolicy = m.get("retry_options") match {
      case Some(ro: JMap[_, _]) =>
        val opts = ro.asScala.map { case (k, v) => k.toString -> v.toString }.toMap
        if (opts.get("impl").exists(_.contains("Exponential")))
          graft.journal.RetryPolicy(
            opts.get("base_delay_ms").map(_.toLong)
              .getOrElse(graft.journal.RetryPolicy.Exponential.baseDelayMs),
            opts.get("total_delay_ms").map(_.toLong)
              .getOrElse(graft.journal.RetryPolicy.Exponential.totalDelayMs))
        else graft.journal.RetryPolicy.NoRetry
      case _ => graft.journal.RetryPolicy.NoRetry
    }
    val tolerances = m.get("tolerances") match {
      case Some(tm: JMap[_, _]) =>
        tm.asScala.map { case (tbl, v) =>
          tbl.toString -> (v match {
            case vm: JMap[_, _] =>
              vm.asScala.map { case (c, e) =>
                c.toString -> e.toString.trim.toDouble }.toMap
            case _ => Map.empty[String, Double]
          })
        }.toMap
      case _ => Map.empty[String, Map[String, Double]]
    }
    val clusters = m.get("cluster_config") match {
      case Some(cc: JMap[_, _]) =>
        cc.asScala.map { case (k, v) =>
          k.toString -> (v match {
            case vm: JMap[_, _] =>
              vm.asScala.map { case (a, b) => a.toString -> b.toString }.toMap
            case _ => Map.empty[String, String]
          })
        }.toMap
      case _ => Map.empty[String, Map[String, String]]
    }

    JobConfig(
      keyspaceTables = strList("keyspace_tables"),
      disallowedKeyspaces = strList("disallowed_keyspaces"),
      splits = num("splits", 10000).toInt,           // default YamlJobConfiguration.java:35
      buckets = num("buckets", 100).toInt,           // default :38
      rateLimit = num("rate_limit", 10000).toInt,    // default :39
      jobId = str("job_id"),
      // the reference reads the partitioner from cluster metadata
      // (TokenHelper.forPartitioner); over files it is config, defaulting
      // to the engine's cheap xxhash64
      partitioner = str("partitioner").getOrElse("xxhash64"),
      reverseReadProbability = dbl("reverse_read_probability", 0.5),
      metadataKeyspace = metadata.get("keyspace").map(_.toString).getOrElse("cassandradiff"),
      metadataTtl = metadata.get("ttl").map(_.toString.toLong).getOrElse(31536000L),
      specificTokens = tokenList("specific_tokens"),
      disallowedTokens = tokenList("disallowed_tokens"),
      partitionSamplingProbability = dbl("partition_sampling_probability", 1.0),
      clusterConfig = clusters,
      retryPolicy = retryPolicy,
      digestFirst = m.get("digest_first").exists(_.toString.trim.toBoolean),
      generateRepair = m.get("generate_repair").exists(_.toString.trim.toBoolean),
      tolerances = tolerances)
  }

  /** "ks.tbl" → TableSpec with roles from the role registry or inferred
    * (pk = first column) — the reference discovers roles from cluster
    * metadata (TableSpec.make); over files the roles come from config
    * (`pk`/`clustering` keys per table) or the built-in corpus registry.
    */
  def tableSpec(name: String): TableSpec = {
    val bare = name.split('.').last
    KnownSpecs.getOrElse(bare, TableSpec(bare, Seq.empty))
  }

  /** Role registry for the driver corpus (FIXTURES.md table roles). */
  val KnownSpecs: Map[String, TableSpec] = Map(
    "lineitem" -> graft.engine.Perturb.lineitemSpec,
    "orders" -> graft.engine.Perturb.ordersSpec,
    "customer" -> TableSpec("customer", Seq("c_custkey")),
    "part" -> TableSpec("part", Seq("p_partkey")),
    "supplier" -> TableSpec("supplier", Seq("s_suppkey")),
    "nation" -> TableSpec("nation", Seq("n_nationkey")),
    "region" -> TableSpec("region", Seq("r_regionkey")),
    "events" -> graft.engine.Perturb.eventsSpec,
    "documents" -> TableSpec("documents", Seq("doc_id")),
    "embeddings" -> graft.engine.Perturb.embeddingsSpec)
}
