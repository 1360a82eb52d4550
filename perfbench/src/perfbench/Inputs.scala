package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The inputs of one run, as `perfbench/gen.py` wrote them: parquet roots
  * of both sides, the workload's `digest_first` setting, and the expected
  * values its edit script implies.
  */
object Inputs {

  /** Journal buckets of every job (the YAML `buckets` value). */
  val Buckets = 100

  val CounterNames: Seq[String] = Seq("matched_partitions",
    "mismatched_partitions", "only_in_source", "only_in_target",
    "matched_rows", "matched_values", "mismatched_values")

  final case class TableExpect(table: String, counters: Map[String, Long],
      types: Map[String, Long], statusRows: Long)

  final case class Generated(srcDir: String, tgtDir: String,
      digestFirst: Boolean, tables: Seq[TableExpect], inputRows: Long,
      dirtyBuckets: Seq[Int], keyStride: Long, editedPartitions: Long,
      sourcePartitions: Long, pipelineDir: Option[String])

  /** Wait for `<work>/inputs.json` (written atomically by the generator)
    * and load it.
    */
  def await(work: Path, timeoutS: Double): Generated = {
    val file = work.resolve("inputs.json")
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!Files.exists(file)) {
      require(System.nanoTime() < deadline, s"no inputs after $timeoutS s")
      Thread.sleep(20)
    }
    val j = new ObjectMapper().readTree(file.toFile)
    def longs(n: JsonNode): Map[String, Long] =
      n.fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    Generated(
      srcDir = j.get("source").asText, tgtDir = j.get("target").asText,
      digestFirst = j.get("digest_first").asBoolean,
      tables = j.get("tables").elements().asScala.map(t => TableExpect(
        t.get("table").asText, longs(t.get("counters")), longs(t.get("types")),
        t.get("status_rows").asLong)).toSeq,
      inputRows = j.get("input_rows").asLong,
      dirtyBuckets = j.get("dirty_buckets").elements().asScala.map(_.asInt).toSeq,
      keyStride = j.get("key_stride").asLong,
      editedPartitions = j.get("edited_partitions").asLong,
      sourcePartitions = j.get("source_partitions").asLong,
      pipelineDir = Option(j.get("pipeline_input")).map(_.asText))
  }

  def dirBytes(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val walk = Files.walk(root)
      try {
        val files = walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.map(Files.size).sum, files.size.toLong)
      } finally walk.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      val all = try walk.iterator().asScala.toList finally walk.close()
      all.sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
    }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.toList.foreach { p =>
      val dest = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else Files.copy(p, dest)
    }
    finally walk.close()
  }
}
