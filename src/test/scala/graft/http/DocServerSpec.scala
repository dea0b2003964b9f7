package graft.http

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.BeforeAndAfterAll

import graft.SparkSuite

/** End-to-end drive of the §2.12 REST surface: a live DocServer on an
  * ephemeral port, hit with the JDK HttpClient, responses compared
  * against the SAME DataFrames the correctness gate hash-checks —
  * proving the reference's mongoose API (`stream_procs_api_http.c`)
  * is reachable end-to-end, not just shape-matched in parquet. */
class DocServerSpec extends SparkSuite with BeforeAndAfterAll {

  private var started: Option[DocServer] = None
  private lazy val srv = {
    val s = DocServer.start(spark, sf)
    started = Some(s)
    s
  }
  private lazy val client = HttpClient.newHttpClient()

  override def afterAll(): Unit =
    try started.foreach(_.stop()) finally super.afterAll()

  private def get(path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${srv.port}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${srv.port}$path"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())

  test("GET /stream_procs.json serves the k6 list document verbatim") {
    val r = get("/api/1.0/stream_procs.json")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get
      == "application/json")
    val want = graft.operators.Settings.k6InstanceList(spark, sf)
      .collect().head.getString(0)
    assert(r.body() == want)
    assert(r.body().startsWith("{\"stream_procs\":["))
  }

  test("GET /stream_procs/<id> serves the ts10 instance document") {
    val r = get("/api/1.0/stream_procs/mpeg2_sp-0")
    assert(r.statusCode() == 200)
    val want = graft.operators.TsQueries.ts10InstanceDoc(spark, sf)
      .select("doc").collect().head.getString(0)
    assert(r.body() == want)
    // the numeric-id form routes to the same instance (`:153-155`)
    assert(get("/api/1.0/stream_procs/0").body() == want)
  }

  test("GET program_processors / es_processors serve the ts9/ts11 lists") {
    val pp = get("/api/1.0/stream_procs/mpeg2_sp-0/program_processors")
    assert(pp.statusCode() == 200)
    val ts9 = graft.operators.TsQueries.ts9ProgramProcDoc(spark, sf)
      .select("doc").collect().map(_.getString(0))
    assert(pp.body() == ts9.mkString("[", ",", "]"))
    assert(ts9.nonEmpty)
    val es = get("/api/1.0/stream_procs/mpeg2_sp-0/es_processors")
    assert(es.statusCode() == 200)
    val ts11 = graft.operators.TsQueries.ts11EsProcDoc(spark, sf)
      .select("doc").collect().map(_.getString(0))
    assert(es.body() == ts11.mkString("[", ",", "]"))
    assert(ts11.nonEmpty)
  }

  test("GET /stats/cpu_stats.json serves the ts12 flot document") {
    val r = get("/api/1.0/stats/cpu_stats.json")
    assert(r.statusCode() == 200)
    val want = graft.operators.Relational.ts12StatsDoc(spark, sf)
      .collect().head.getString(0)
    assert(r.body() == want)
    assert(r.body().contains("\"time_window\":60"))
  }

  test("POST create maps to 201/404 envelopes per the f11 status table") {
    val created = post("/api/1.0/stream_procs.json?proc_name=mpeg2_sp")
    assert(created.statusCode() == 201)
    assert(created.body() ==
      "{\"code\":201,\"status\":\"Created\",\"message\":\"success\"," +
        "\"data\":null}")
    val invalid = post("/api/1.0/stream_procs.json?tag=x")
    assert(invalid.statusCode() == 404)
    assert(invalid.body().contains("\"message\":\"einval\""))
  }

  test("PUT reconfigure parses JSON and query-string bodies identically") {
    def put(path: String, payload: String): HttpResponse[String] =
      client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.port}$path"))
          .PUT(HttpRequest.BodyPublishers.ofString(payload)).build(),
        HttpResponse.BodyHandlers.ofString())
    val asJson = put("/api/1.0/stream_procs/mpeg2_sp-0",
      """{"tag":"tv1","input_url":"udp://239.0.0.1:2000","cbr":1}""")
    val asQs = put("/api/1.0/stream_procs/mpeg2_sp-0",
      "tag=tv1&input_url=udp://239.0.0.1:2000&cbr=1")
    assert(asJson.statusCode() == 200 && asQs.statusCode() == 200)
    // the dual-parse invariant (P9): both encodings land identically
    assert(asJson.body() == asQs.body())
    assert(asJson.body().contains("\"tag\":\"tv1\""))
    assert(asJson.body().contains("\"cbr\":1"))
    // PUT on a missing resource → 204, the f11 table's enotfound row
    assert(put("/api/1.0/stream_procs/nope-9", "tag=x")
      .statusCode() == 204)
  }

  test("unknown routes and ids get the 404 enotfound envelope") {
    val miss = get("/api/1.0/stream_procs/nope-7")
    assert(miss.statusCode() == 404)
    assert(miss.body() ==
      "{\"code\":404,\"status\":\"Not Found\"," +
        "\"message\":\"enotfound\",\"data\":null}")
    assert(get("/nowhere").statusCode() == 404)
  }
}
