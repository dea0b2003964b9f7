package graft.http

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.DriverManager
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
  *  - `PUT /db/<coll>`, `GET|DELETE /db/<coll>/<sys_id>`   → doc store
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
  *
  * Started with a JDBC `store` URL, the server also serves under `/db`
  * the reference's dbdriver document lifecycle
  * (`dbdriver/apps/dbdriver_apps_procs_docs.c:186-350`): PUT extracts
  * `sys_id` (`:181-185`; missing → 400, the CHECK_DO reject), deletes
  * and inserts in one transaction (`:208-300`), then re-reads by key and
  * compares, the `bson_compare` gate (`:303-336`): 201 when equal, 500
  * when not. GET returns the stored document with the key projected
  * away, as the reference excludes `_id` (`:316-319`); DELETE removes at
  * most one. A deployer swaps the Derby URL for a server-mode store.
  */
final class DocServer private (
    s: SparkSession, d: String, val server: HttpServer,
    live: Option[AtomicReference[TableState.Register]] = None,
    store: Option[String] = None) {

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

  private def url: String = store.get // /db routes match only with one

  /** The reference's full upsert cycle for one document. */
  private def putDoc(coll: String, rawJson: String): (Int, String) = {
    val canonical =
      try canonicalJson(rawJson)
      catch { case _: Throwable =>
        return (400, envelope(400, "Bad Request", "malformed document"))
      }
    val sysId = sysIdOf(canonical).getOrElse(
      return (400, envelope(400, "Bad Request", "missing sys_id")))
    import s.implicits._
    val df = Seq((sysId, canonical)).toDF("sys_id", "doc")
    graft.sinks.JdbcSink.ensureTable(url, coll, df.schema)
    // delete-then-insert in one transaction (the reference's
    // mongoc_coll_delete_doc + mongoc_coll_insert_doc pair)
    graft.sinks.JdbcSink.upsertByKey(df, "sys_id", url, coll)
    // readback-verify: re-query by key, compare canonical forms (the
    // bson_compare gate — a store that mangled the document fails LOUD)
    if (graft.sinks.JdbcSink.verifyUpsert(df, "sys_id", url, coll) == 0L)
      (201, envelope(201, "Created", "created"))
    else (500, envelope(500, "Internal Server Error", "readback verify failed"))
  }

  private def getDoc(coll: String, sysId: String): (Int, String) = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.prepareStatement(
        s"SELECT doc FROM $coll WHERE sys_id = ?")
      st.setString(1, sysId)
      val rs = st.executeQuery()
      val out = if (rs.next()) (200, rs.getString(1))
        else (404, envelope(404, "Not Found", "not found"))
      st.close()
      out
    } catch {
      // Derby 42X05 = table never created: no document was ever PUT
      case e: java.sql.SQLException if e.getSQLState == "42X05" =>
        (404, envelope(404, "Not Found", "not found"))
    } finally conn.close()
  }

  private def deleteDoc(coll: String, sysId: String): (Int, String) = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.prepareStatement(
        s"DELETE FROM $coll WHERE sys_id = ?")
      st.setString(1, sysId)
      val n = st.executeUpdate()
      st.close()
      if (n > 0) (204, "") else (404, envelope(404, "Not Found", "not found"))
    } catch {
      case e: java.sql.SQLException if e.getSQLState == "42X05" =>
        (404, envelope(404, "Not Found", "not found"))
    } finally conn.close()
  }

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val query = Option(ex.getRequestURI.getQuery).getOrElse("")
    val method = ex.getRequestMethod
    try {
      val (code, json) = (method, route(path)) match {
        case ("GET", ProcsList) =>
          (200, doc("k6")(
            graft.operators.Settings.k6InstanceList(s, d).select("doc")))
        case ("POST", ProcsList) =>
          // create: settings arrive as the query string (`:125-141`);
          // proc_name mandatory → einval/404 without it, 201 with it
          if (query.split('&').exists(_.startsWith("proc_name=")))
            (201, envelope(201, "Created", "success"))
          else (404, envelope(404, "Not Found", "einval"))
        case ("GET", Instance(id)) if id == instanceId || id == "0" =>
          (200, doc("ts10")(
            graft.operators.TsQueries.ts10InstanceDoc(s, d).select("doc")))
        case ("GET", ProgramProcs(id)) if id == instanceId || id == "0" =>
          // live mode serves the document the compose query published
          // with the landed batch, so a GET one trigger after a version
          // bump reads the new table (the psi_thr 1 s convergence
          // contract); nothing is published before the first table
          live match {
            case Some(reg) => Option(reg.get) match {
              case Some(r) => (200, r.programsDoc)
              case None => (404, envelope(404, "Not Found", "error"))
            }
            case None => (200, doc("ts9[]")(
              graft.operators.TsQueries.ts9ProgramProcDoc(s, d).select("doc")))
          }
        case ("GET", EsProcs(id)) if id == instanceId || id == "0" =>
          (200, doc("ts11[]")(
            graft.operators.TsQueries.ts11EsProcDoc(s, d).select("doc")))
        case ("GET", Stats) =>
          (200, doc("ts12")(
            graft.operators.Relational.ts12StatsDoc(s, d).select("doc")))
        case ("PUT", Instance(id)) if id == instanceId || id == "0" =>
          // reconfigure: body is JSON ∨ query-string (`mpeg2_sp.c:
          // 715-717`), parsed by the SAME dual-format column expression
          // the P9 gate checks; the parsed settings echo back as `data`
          // and the document memo drops (state refresh on reconfigure)
          val raw = requestBody(ex)
          val payload = if (raw.nonEmpty) raw else query
          import org.apache.spark.sql.functions.{col, to_json}
          import s.implicits._
          val parsed = Seq(payload).toDF("b")
            .select(to_json(
              graft.operators.Settings.parseSettings(col("b"))).as("j"))
            .collect().head.getString(0)
          refresh()
          (200, "{\"code\":200,\"status\":\"OK\",\"message\":\"success\"," +
            s""""data":$parsed}""")
        case ("PUT" | "POST", DbDoc(c, None)) if store.isDefined =>
          putDoc(c, requestBody(ex))
        case ("GET", DbDoc(c, Some(id))) if store.isDefined => getDoc(c, id)
        case ("DELETE", DbDoc(c, Some(id))) if store.isDefined =>
          deleteDoc(c, id)
        case ("GET", _) =>
          (404, envelope(404, "Not Found", "enotfound"))
        case ("PUT", _) if !path.startsWith(Db) =>
          // reference PUT on missing resource → 204 (f11 row); not /db's
          (204, "")
        case _ =>
          (404, envelope(404, "Not Found", "error"))
      }
      body(ex, code, json)
    } catch {
      case _: BodyTooLarge =>
        body(ex, 413, envelope(413, "Payload Too Large", "body too large"))
      case e: Throwable =>
        // a store failure is a server fault; the reference answers 404
        if (path.startsWith(Db)) body(ex, 500,
          envelope(500, "Internal Server Error", "internal error"))
        else body(ex, 404, envelope(404, "Not Found", "error"))
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
  private final case class DbDoc(coll: String, id: Option[String]) extends Route
  private case object Unknown extends Route

  private val Base = "/api/1.0"
  private val InstanceRe =
    s"^$Base/stream_procs/([^/]+?)(?:\\.json)?$$".r
  private val ProgProcsRe =
    s"^$Base/stream_procs/([^/]+)/program_processors(?:\\.json)?$$".r
  private val EsProcsRe =
    s"^$Base/stream_procs/([^/]+)/es_processors(?:\\.json)?$$".r

  // collection names are whitelisted to identifier characters — they
  // become SQL table names, never raw caller text
  private val Db = "/db/"
  private val DbRe = s"^$Db([A-Za-z][A-Za-z0-9_]{0,63})(?:/([^/]+))?$$".r

  /** The same routing predicates f10 models as data
    * (`stream_procs_api_http.c:113-173`; id extraction `:153-155`). */
  private def route(path: String): Route = path match {
    case p if p == s"$Base/stream_procs.json" => ProcsList
    case p if p.startsWith(s"$Base/stats/") && p.endsWith("_stats.json") =>
      Stats
    case ProgProcsRe(id) => ProgramProcs(id)
    case EsProcsRe(id) => EsProcs(id)
    case InstanceRe(id) => Instance(id)
    case DbRe(coll, id) => DbDoc(coll, Option(id))
    case _ => Unknown
  }

  private val MaxBody = 1 << 20 // settings documents are under 1 KiB
  private final class BodyTooLarge extends RuntimeException

  /** The body as UTF-8; past [[MaxBody]] bytes, [[BodyTooLarge]] (413). */
  private def requestBody(ex: HttpExchange): String = {
    val bytes = ex.getRequestBody.readNBytes(MaxBody + 1)
    if (bytes.length > MaxBody) throw new BodyTooLarge
    new String(bytes, UTF_8)
  }

  // built on the first store request: a live-only server never needs it
  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .configure(com.fasterxml.jackson.databind.SerializationFeature
      .ORDER_MAP_ENTRIES_BY_KEYS, true)

  /** Canonical form: parse + re-serialize with sorted keys — the
    * document-order-insensitive equality BSON comparison gives the
    * reference. Throws on malformed input. */
  private[http] def canonicalJson(raw: String): String = {
    val node = mapper.readTree(raw)
    require(node != null && node.isObject, "document must be an object")
    mapper.writeValueAsString(mapper.treeToValue(node, classOf[Object]))
  }

  /** `sys_id` extraction (`dbdriver_apps_procs_docs.c:181-185`):
    * present, a string, non-empty. */
  private[http] def sysIdOf(json: String): Option[String] = {
    val n = mapper.readTree(json).get("sys_id")
    if (n != null && n.isTextual && n.asText.nonEmpty) Some(n.asText)
    else None
  }

  /** A loopback JDK server on `port` (0 = ephemeral, for tests) with
    * Nagle's algorithm off. The JDK server writes the headers and the
    * body of a response as separate segments; with Nagle on, the body
    * waits for the client's delayed ACK, about 40 ms per response. The
    * JDK reads the property once, when its first server is created. */
  private def bind(port: Int): HttpServer = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }

  private def serve(srv: DocServer): DocServer = {
    srv.server.createContext("/", (ex: HttpExchange) => srv.handle(ex))
    srv.server.setExecutor(null) // serve on the dispatcher thread
    srv.server.start()
    srv
  }

  /** Bind and start on `port` (0 = ephemeral, for tests); a JDBC
    * `store` URL adds the `/db` routes, else they answer 404. */
  def start(s: SparkSession, d: String, port: Int = 0,
      store: Option[String] = None): DocServer =
    serve(new DocServer(s, d, bind(port), store = store))

  /** Live mode: serve against STREAMING state. The completed-table
    * stream composes into an in-memory register (R4/R5,
    * [[TableState.composeToRegister]]) that publishes the programs
    * document with every landed batch, so a GET issued one trigger
    * after a PAT/PMT version bump returns the new document without any
    * manual `refresh()` call. The compose query runs its state at one
    * shuffle partition whatever `s`'s count, and leaves the conf of
    * `tables`' session as found ([[TableState.composeToRegister]]).
    * Over the live chain (`sectionsStream` then `latestTablesStream`,
    * each of which coalesces its input to that partition) a trigger is
    * then one stage with no shuffle; without its coalesce, each stateful
    * operator would get a hash exchange in front of it. Each
    * trigger writes only under the query's temporary checkpoint: an
    * offset-log and a commit-log entry and one `.delta` per state store,
    * through [[graft.streaming.LocalCheckpointFileManager]], which starts
    * no `chmod` or `readlink` process as Hadoop's local `FileContext`
    * does. The other routes read `d`, as in [[start]]; nothing is
    * written under it. Returns the server and the running compose query
    * (caller stops both); if either fails to start, neither is left
    * running. */
  def startLive(s: SparkSession,
      tables: org.apache.spark.sql.Dataset[TableState.CompleteTable],
      d: String, port: Int = 0)
      : (DocServer, org.apache.spark.sql.streaming.StreamingQuery) = {
    val register = new AtomicReference[TableState.Register]()
    val q = TableState.composeToRegister(tables, register)
    try (serve(new DocServer(s, d, bind(port), Some(register))), q)
    catch { case e: Throwable => q.stop(); throw e }
  }
}
