package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.SparkSession

import graft.api.{DiffApiServer, DiffJobConfig, DiffRunner}
import graft.core.DiffOptions
import graft.engine.Perturb
import graft.journal.MetadataStore
import graft.sources.{ParquetSource, SourceProvider}

class ApiServerSpec extends SparkSpec with NoLeakedPersists {

  test("HTTP results server serves journal queries as JSON") {
    implicit val s: SparkSession = spark
    val root = tempDir("graft-api")
    val src = ParquetSource(Sf)
    val tgt = new SourceProvider {
      def table(sp: SparkSession, name: String) = Perturb.ordersTarget(src.table(sp, name))
      def listTables(sp: SparkSession) = src.listTables(sp)
    }
    new DiffRunner(src, tgt, DiffJobConfig("api-job", Seq(Perturb.ordersSpec),
      DiffOptions(buckets = 4), metadataRoot = root, repair = true)).run()

    val srv = new DiffApiServer(new MetadataStore(root), port = 0) // ephemeral
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String): (Int, String) = {
        val r = client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        (r.statusCode(), r.body())
      }
      val (c1, results) = get("/jobs/api-job/results")
      assert(c1 === 200)
      assert(results.contains("\"matched_partitions\""))
      val (c2, mism) = get("/jobs/api-job/mismatches")
      assert(c2 === 200 && mism.contains("ONLY_IN_TARGET"))
      val (c3, recent) = get("/jobs/recent")
      assert(c3 === 200 && recent.contains("api-job"))
      val (c4, _) = get("/nope")
      assert(c4 === 404)
      val (c5, byKs) = get("/jobs/by-keyspace/orders")
      assert(c5 === 200 && byKs.contains("api-job"))
      // the engine-extension reconciliation endpoint: full + per-table
      val (c6, repair) = get("/jobs/api-job/repair")
      assert(c6 === 200 && repair.contains("\"statement\""))
      val (c7, repairT) = get("/jobs/api-job/repair/orders")
      assert(c7 === 200 && repairT.contains("INSERT"))
      val (c8, repairNone) = get("/jobs/api-job/repair/nope")
      assert(c8 === 200 && !repairNone.contains("\"statement\""))
    } finally srv.stop()
  }
}
