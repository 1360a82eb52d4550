package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.journal.MetadataStore

/** Entry point 3 of the reference (SURVEY §3.3): the results HTTP server
  * (`DiffAPIServer.main` → CXF JAX-RS on :8089,
  * api-server/.../DiffAPIServer.java:34-58). Re-expressed with the JDK's
  * built-in HTTP server (zero dependencies) over [[ResultsApi]] —
  * each endpoint is the corresponding DataFrame query rendered as JSON.
  *
  * Routes (mirroring DiffJobsResource.java:60-201):
  *   GET /jobs/running                     GET /jobs/recent
  *   GET /jobs/{id}                        GET /jobs/{id}/results
  *   GET /jobs/{id}/status                 GET /jobs/{id}/mismatches
  *   GET /jobs/{id}/errors                 GET /jobs/{id}/errors/summary
  *   GET /jobs/{id}/errors/ranges
  *   GET /jobs/by-start-date/{from}/{to}   GET /jobs/by-source-cluster/{c}
  *   GET /jobs/by-target-cluster/{c}       GET /jobs/by-keyspace/{ks}
  * plus the engine-extension reconciliation endpoint:
  *   GET /jobs/{id}/repair                 GET /jobs/{id}/repair/{table}
  */
final class DiffApiServer(store: MetadataStore, port: Int = 8089)(implicit spark: SparkSession) {

  private val api = new ResultsApi(store)
  private var server: HttpServer = _

  /** DataFrame → JSON array string (Spark's per-row JSON encoder). */
  private def toJson(df: DataFrame, limit: Int = 10000): String =
    df.limit(limit).toJSON.collect().mkString("[", ",", "]")

  private def route(path: String): Option[DataFrame] = {
    val p = path.stripPrefix("/").stripSuffix("/").split("/").toList
    p match {
      case "jobs" :: "running" :: Nil => Some(api.runningJobs())
      case "jobs" :: "recent" :: Nil => Some(api.recentJobs())
      case "jobs" :: "by-start-date" :: from :: to :: Nil => Some(api.jobsByStartDate(from, to))
      case "jobs" :: "by-start-date" :: from :: Nil =>
        Some(api.jobsByStartDate(from, "9999-12-31"))
      case "jobs" :: "by-source-cluster" :: c :: Nil => Some(api.jobsBySourceCluster(c))
      case "jobs" :: "by-target-cluster" :: c :: Nil => Some(api.jobsByTargetCluster(c))
      case "jobs" :: "by-keyspace" :: ks :: Nil => Some(api.jobsByKeyspace(ks))
      case "jobs" :: id :: Nil => Some(api.job(id))
      case "jobs" :: id :: "results" :: Nil => Some(api.jobResults(id))
      case "jobs" :: id :: "status" :: Nil => Some(api.jobStatus(id))
      case "jobs" :: id :: "mismatches" :: Nil => Some(api.jobMismatches(id))
      case "jobs" :: id :: "mismatches" :: "summary" :: Nil => Some(api.mismatchSummary(id))
      case "jobs" :: id :: "errors" :: Nil => Some(api.jobErrors(id))
      case "jobs" :: id :: "errors" :: "summary" :: Nil => Some(api.errorSummary(id))
      case "jobs" :: id :: "errors" :: "ranges" :: Nil => Some(api.errorRanges(id))
      case "jobs" :: id :: "repair" :: Nil => Some(api.jobRepair(id))
      case "jobs" :: id :: "repair" :: t :: Nil => Some(api.jobRepair(id, Some(t)))
      case _ => None
    }
  }

  private def handle(ex: HttpExchange): Unit = {
    val (code, body) =
      try route(ex.getRequestURI.getPath) match {
        case Some(df) => (200, toJson(df))
        case None => (404, """{"error":"unknown route"}""")
      } catch {
        case e: Throwable =>
          (500, s"""{"error":${graft.core.JsonUtil.quote(e.getMessage)}}""")
      }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.setExecutor(null) // request thread = caller thread; queries are Spark jobs anyway
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)
}

object DiffApiServer {
  /** `runMain graft.api.DiffApiServer <metadataRoot> [port]` — the
    * standalone server main, like the reference's DiffAPIServer.main.
    */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: DiffApiServer <metadataRoot> [port]")
    implicit val spark: SparkSession = GraftSession.builder()
      .appName("graft-api")
      .config("spark.master", sys.props.getOrElse("spark.master", "local[4]"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val port = if (args.length > 1) args(1).toInt else 8089
    val srv = new DiffApiServer(new MetadataStore(args(0)), port)
    srv.start()
    println(s"graft results api listening on :$port")
    Thread.currentThread().join()
  }
}
