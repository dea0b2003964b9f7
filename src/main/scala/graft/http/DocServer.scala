package graft.http

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicReference

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.TableState

/** Thin HTTP serving layer over the §2.12 document DataFrames — the
  * reference's mongoose REST surface (`main/stream_procs_api_http.c:86-302`,
  * routing `:113-173`, status mapping `:230-291`) re-expressed as JDK
  * `HttpServer` routes over the SAME queries that already hash-match the
  * reference's JSON shapes (ts9–ts12, k5/k6, f11). The engine stays
  * Spark-side: every response body is a collected single-document (or
  * small-list) DataFrame — the serving layer is the one place where
  * `collect()` IS the semantics (a GET returns one control-plane
  * document; the data plane never flows through here).
  *
  * Route table (base URL `stream_procs_api_http.h:37`):
  *  - `GET  /api/1.0/stream_procs.json`                    → k6 list doc
  *  - `POST /api/1.0/stream_procs.json?proc_name=...`      → 201 envelope
  *  - `GET  /api/1.0/stream_procs/<id>`                    → ts10 instance doc
  *  - `GET  /api/1.0/stream_procs/<id>/program_processors` → ts9 docs
  *  - `GET  /api/1.0/stream_procs/<id>/es_processors`      → ts11 docs
  *  - `GET  /api/1.0/stats/cpu_stats.json`                 → ts12 flot doc
  *  - anything else                                        → 404 envelope
  *
  * Documents are computed lazily once per server instance and memoized:
  * the reference rebuilds per request from continuously-maintained state
  * (`psi_thr` 1 s refresh); here the batch relations ARE that state, so
  * one materialization per instance is the equivalent read path. Call
  * [[DocServer#refresh]] to drop the memo (the PUT/reconfigure analog).
  *
  * A live server ([[DocServer.startLive]]) answers program_processors
  * from `live`, the streaming PSI register: the document is rendered
  * once per micro-batch by the compose query, so a GET returns the
  * latest published string and runs no Spark job.
  */
final class DocServer private (
    s: SparkSession, d: String, val server: HttpServer,
    live: Option[AtomicReference[TableState.Register]] = None) {

  import DocServer._

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The known instance id — the single-instance deployment shape the
    * reference daemon also presents (`id_str` in `mpeg2_sp.c:828-876`). */
  val instanceId = "mpeg2_sp-0"

  def port: Int = server.getAddress.getPort

  def refresh(): Unit = memo.clear()

  private def doc(key: String)(build: => DataFrame): String =
    memo.computeIfAbsent(key, { _ =>
      val rows = build.collect().map(_.getString(0))
      // "[]"-suffixed keys are list endpoints (one JSON doc per row);
      // the rest are single-document queries (exactly one row)
      if (key.endsWith("[]")) rows.mkString("[", ",", "]")
      else rows.headOption.getOrElse("{}")
    })

  private def body(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    if (code == 204 || bytes.isEmpty) {
      ex.sendResponseHeaders(code, -1L) // no-content responses
      ex.getResponseBody.close()
    } else {
      ex.sendResponseHeaders(code, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
  }

  private def envelope(code: Int, status: String, message: String): String =
    graft.operators.Relational.envelopeFmt.format(code, status, message)

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val query = Option(ex.getRequestURI.getQuery).getOrElse("")
    val method = ex.getRequestMethod
    try {
      (method, route(path)) match {
        case ("GET", ProcsList) =>
          body(ex, 200, doc("k6")(
            graft.operators.Settings.k6InstanceList(s, d).select("doc")))
        case ("POST", ProcsList) =>
          // create: settings arrive as the query string (`:125-141`);
          // proc_name mandatory → einval/404 without it, 201 with it
          if (query.split('&').exists(_.startsWith("proc_name=")))
            body(ex, 201, envelope(201, "Created", "success"))
          else body(ex, 404, envelope(404, "Not Found", "einval"))
        case ("GET", Instance(id)) if id == instanceId || id == "0" =>
          body(ex, 200, doc("ts10")(
            graft.operators.TsQueries.ts10InstanceDoc(s, d).select("doc")))
        case ("GET", ProgramProcs(id)) if id == instanceId || id == "0" =>
          // live mode serves the document the compose query published
          // with the landed batch, so a GET one trigger after a version
          // bump reads the new table (the psi_thr 1 s convergence
          // contract); nothing is published before the first table
          live match {
            case Some(reg) => Option(reg.get) match {
              case Some(r) => body(ex, 200, r.programsDoc)
              case None => body(ex, 404, envelope(404, "Not Found", "error"))
            }
            case None => body(ex, 200, doc("ts9[]")(
              graft.operators.TsQueries.ts9ProgramProcDoc(s, d).select("doc")))
          }
        case ("GET", EsProcs(id)) if id == instanceId || id == "0" =>
          body(ex, 200, doc("ts11[]")(
            graft.operators.TsQueries.ts11EsProcDoc(s, d).select("doc")))
        case ("GET", Stats) =>
          body(ex, 200, doc("ts12")(
            graft.operators.Relational.ts12StatsDoc(s, d).select("doc")))
        case ("PUT", Instance(id)) if id == instanceId || id == "0" =>
          // reconfigure: body is JSON ∨ query-string (`mpeg2_sp.c:
          // 715-717`), parsed by the SAME dual-format column expression
          // the P9 gate checks; the parsed settings echo back as `data`
          // and the document memo drops (state refresh on reconfigure)
          val raw = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          val payload = if (raw.nonEmpty) raw else query
          import org.apache.spark.sql.functions.{col, to_json}
          import s.implicits._
          val parsed = Seq(payload).toDF("b")
            .select(to_json(
              graft.operators.Settings.parseSettings(col("b"))).as("j"))
            .collect().head.getString(0)
          refresh()
          body(ex, 200,
            "{\"code\":200,\"status\":\"OK\",\"message\":\"success\"," +
              s""""data":$parsed}""")
        case ("GET", _) =>
          body(ex, 404, envelope(404, "Not Found", "enotfound"))
        case ("PUT", _) =>
          // reference PUT on missing resource → 204 (f11 mapping row)
          body(ex, 204, "")
        case _ =>
          body(ex, 404, envelope(404, "Not Found", "error"))
      }
    } catch {
      case e: Throwable =>
        body(ex, 404, envelope(404, "Not Found", "error"))
        System.err.println(s"[docserver] $method $path failed: $e")
    }
  }

  def stop(): Unit = server.stop(0)
}

object DocServer {

  private sealed trait Route
  private case object ProcsList extends Route
  private final case class Instance(id: String) extends Route
  private final case class ProgramProcs(id: String) extends Route
  private final case class EsProcs(id: String) extends Route
  private case object Stats extends Route
  private case object Unknown extends Route

  private val Base = "/api/1.0"
  private val InstanceRe =
    s"^$Base/stream_procs/([^/]+?)(?:\\.json)?$$".r
  private val ProgProcsRe =
    s"^$Base/stream_procs/([^/]+)/program_processors(?:\\.json)?$$".r
  private val EsProcsRe =
    s"^$Base/stream_procs/([^/]+)/es_processors(?:\\.json)?$$".r

  /** The same routing predicates f10 models as data
    * (`stream_procs_api_http.c:113-173`; id extraction `:153-155`). */
  private def route(path: String): Route = path match {
    case p if p == s"$Base/stream_procs.json" => ProcsList
    case p if p.startsWith(s"$Base/stats/") && p.endsWith("_stats.json") =>
      Stats
    case ProgProcsRe(id) => ProgramProcs(id)
    case EsProcsRe(id) => EsProcs(id)
    case InstanceRe(id) => Instance(id)
    case _ => Unknown
  }

  /** A loopback JDK server on `port` (0 = ephemeral, for tests) with
    * Nagle's algorithm off. The JDK server writes the headers and the
    * body of a response as separate segments; with Nagle on, the body
    * waits for the client's delayed ACK, about 40 ms per response. The
    * JDK reads the property once, when its first server is created. */
  private[http] def bind(port: Int): HttpServer = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }

  private def serve(srv: DocServer): DocServer = {
    srv.server.createContext("/", (ex: HttpExchange) => srv.handle(ex))
    srv.server.setExecutor(null) // serve on the dispatcher thread
    srv.server.start()
    srv
  }

  /** Bind and start on `port` (0 = ephemeral, for tests). */
  def start(s: SparkSession, d: String, port: Int = 0): DocServer =
    serve(new DocServer(s, d, bind(port)))

  /** Live mode: serve against STREAMING state. The completed-table
    * stream composes into an in-memory register (R4/R5,
    * [[TableState.composeToRegister]]) that publishes the programs
    * document with every landed batch, so a GET issued one trigger
    * after a PAT/PMT version bump returns the new document without any
    * manual `refresh()` call. The other routes read `d`, as in
    * [[start]]; nothing is written under it. Returns the server and the
    * running compose query (caller stops both). */
  def startLive(s: SparkSession,
      tables: org.apache.spark.sql.Dataset[TableState.CompleteTable],
      d: String, port: Int = 0)
      : (DocServer, org.apache.spark.sql.streaming.StreamingQuery) = {
    val register = new AtomicReference[TableState.Register]()
    val srv = serve(new DocServer(s, d, bind(port), Some(register)))
    (srv, TableState.composeToRegister(tables, register))
  }
}
