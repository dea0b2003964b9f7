package graft.http

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll

import graft.SparkSuite

/** End-to-end drive of the document-store PROTOCOL adapter: a live
  * DocServer's `/db` routes on an ephemeral port over an embedded-Derby
  * store, driven through the reference's EXACT document lifecycle
  * (`dbdriver_apps_procs_docs.c:186-350`): extract sys_id → delete if
  * present → insert → readback-verify, then re-read and delete over
  * the wire. The spec uses the reference's own settings-document shape
  * (proc settings keyed by `sys_id`, the dbdriver's collection
  * payload). */
class DocStoreSpec extends SparkSuite with BeforeAndAfterAll {

  private lazy val url = {
    val db = Files.createTempDirectory("graft-docstore").toString + "/ds"
    s"jdbc:derby:$db;create=true"
  }
  private var started: Option[DocServer] = None
  private lazy val srv = {
    val s = DocServer.start(spark, sf, store = Some(url))
    started = Some(s)
    s
  }
  private lazy val client = HttpClient.newHttpClient()

  override def afterAll(): Unit =
    try started.foreach(_.stop()) finally super.afterAll()

  private def req(method: String, path: String, payload: String = "",
      port: Int = srv.port): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port$path"))
    val withM = method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m, HttpRequest.BodyPublishers.ofString(payload))
    }
    client.send(withM.build(), HttpResponse.BodyHandlers.ofString())
  }

  // the reference's settings-document shape for a processor instance
  private val doc =
    """{"sys_id":"mpeg2_sp-0","proc_name":"mpeg2_sp",
      |"tag":"channel-1","input_url":"udp://224.0.0.1:2000",
      |"flag_clear_logs_register":false}""".stripMargin.replace("\n", "")

  test("PUT runs the full delete/insert/readback-verify cycle: 201, " +
    "and GET returns the canonical document with the key projected " +
    "away from storage internals") {
    val r = req("PUT", "/db/procs_docs", doc)
    assert(r.statusCode() == 201, r.body())
    val g = req("GET", "/db/procs_docs/mpeg2_sp-0")
    assert(g.statusCode() == 200)
    // canonical = parsed + sorted keys (the bson_compare-insensitive
    // form); the same document with shuffled key order must GET equal
    assert(g.body() == DocServer.canonicalJson(doc))
    val shuffled =
      """{"input_url":"udp://224.0.0.1:2000","tag":"channel-1",
        |"flag_clear_logs_register":false,"proc_name":"mpeg2_sp",
        |"sys_id":"mpeg2_sp-0"}""".stripMargin.replace("\n", "")
    assert(DocServer.canonicalJson(shuffled) == g.body())
  }

  test("re-PUT of the same sys_id replaces the document (the " +
    "reference's delete-then-insert), never duplicates") {
    assert(req("PUT", "/db/procs_docs", doc).statusCode() == 201)
    val v2 = doc.replace("channel-1", "channel-2")
    assert(req("PUT", "/db/procs_docs", v2).statusCode() == 201)
    val g = req("GET", "/db/procs_docs/mpeg2_sp-0")
    assert(g.statusCode() == 200)
    assert(g.body() == DocServer.canonicalJson(v2))
    assert(g.body().contains("channel-2") && !g.body().contains("channel-1"))
    // at most one row per sys_id in the store itself
    val n = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "procs_docs").load()
      .filter(org.apache.spark.sql.functions.col("sys_id")
        === "mpeg2_sp-0").count()
    assert(n == 1L)
  }

  test("document without a sys_id is rejected 400 (the reference's " +
    "CHECK_DO gate), malformed JSON likewise") {
    assert(req("PUT", "/db/procs_docs",
      """{"proc_name":"x"}""").statusCode() == 400)
    assert(req("PUT", "/db/procs_docs",
      """{"sys_id":""}""").statusCode() == 400)
    assert(req("PUT", "/db/procs_docs", "{nope").statusCode() == 400)
  }

  test("DELETE is at-most-one and idempotent at the wire: 204 then " +
    "404; GET of a deleted document is 404") {
    assert(req("PUT", "/db/procs_docs", doc).statusCode() == 201)
    assert(req("DELETE", "/db/procs_docs/mpeg2_sp-0").statusCode() == 204)
    assert(req("GET", "/db/procs_docs/mpeg2_sp-0").statusCode() == 404)
    assert(req("DELETE", "/db/procs_docs/mpeg2_sp-0").statusCode() == 404)
  }

  test("collections are isolated tables; hostile collection names " +
    "never reach SQL") {
    assert(req("PUT", "/db/other_coll", doc).statusCode() == 201)
    assert(req("GET", "/db/other_coll/mpeg2_sp-0").statusCode() == 200)
    // fresh collection does not see other collections' documents
    assert(req("GET", "/db/empty_coll/mpeg2_sp-0").statusCode() == 404)
    // non-identifier collection names fall off the route table
    assert(req("PUT", "/db/bad;drop", doc).statusCode() == 404)
    assert(req("GET", "/db/1abc/x").statusCode() == 404)
  }

  test("the k5 registry documents round-trip through the adapter " +
    "(the real K2 payload, end-to-end over the wire)") {
    import org.apache.spark.sql.functions._
    val regs = graft.operators.Settings.k5InstanceCreate(spark, sf)
      .filter(col("proc_id").isNotNull)
      .select(col("proc_id"), col("tag"), col("input_url"))
      .limit(5).collect()
    assert(regs.nonEmpty)
    regs.foreach { r =>
      val d =
        s"""{"sys_id":"proc-${r.getAs[Long]("proc_id")}",""" +
          s""""tag":"${r.getAs[String]("tag")}",""" +
          s""""input_url":"${r.getAs[String]("input_url")}"}"""
      assert(req("PUT", "/db/registry", d).statusCode() == 201)
      val g = req("GET", s"/db/registry/proc-${r.getAs[Long]("proc_id")}")
      assert(g.statusCode() == 200)
      assert(g.body() == DocServer.canonicalJson(d))
    }
  }

  test("one port serves both surfaces: the k6 document and the store") {
    val k6 = req("GET", "/api/1.0/stream_procs.json")
    assert(k6.statusCode() == 200)
    assert(k6.body() == graft.operators.Settings.k6InstanceList(spark, sf)
      .collect().head.getString(0))
    assert(req("PUT", "/db/procs_docs", doc).statusCode() == 201)
    assert(req("GET", "/db/procs_docs/mpeg2_sp-0").statusCode() == 200)
  }

  test("/db errors answer the shared envelope; without a store every " +
    "/db route is the unknown-route 404") {
    val bad = req("PUT", "/db/procs_docs", """{"proc_name":"x"}""")
    assert(bad.statusCode() == 400)
    assert(bad.body() == graft.operators.Relational.envelopeFmt
      .format(400, "Bad Request", "missing sys_id"))
    val bare = DocServer.start(spark, sf)
    try {
      for (m <- Seq("PUT", "POST")) {
        val r = req(m, "/db/procs_docs", doc, bare.port)
        assert(r.statusCode() == 404)
        assert(r.body() == graft.operators.Relational.envelopeFmt
          .format(404, "Not Found", "error"))
      }
      assert(req("GET", "/db/procs_docs/mpeg2_sp-0", port = bare.port)
        .statusCode() == 404)
    } finally bare.stop()
  }

  test("a request body over 1 MiB answers 413 on both surfaces, and the " +
    "server answers the next request") {
    val mib = 1 << 20
    // the cap itself still fits: whitespace pads the document to 1 MiB
    assert(req("PUT", "/db/procs_docs",
      doc + " " * (mib - doc.length)).statusCode() == 201)
    val over = "x" * (mib + 1)
    for (path <- Seq("/db/procs_docs", "/api/1.0/stream_procs/0")) {
      val r = req("PUT", path, over)
      assert(r.statusCode() == 413, path)
      assert(r.body() == graft.operators.Relational.envelopeFmt
        .format(413, "Payload Too Large", "body too large"))
    }
    assert(req("GET", "/db/procs_docs/mpeg2_sp-0").statusCode() == 200)
    assert(req("GET", "/api/1.0/stream_procs.json").statusCode() == 200)
  }
}
