package graft.http

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite
import graft.streaming.TableState
import graft.ts.{EsEntry, PsiCodec, PsiSection}

/** The psi_thr convergence contract (`mpeg2_sp.c:78-81`) over HTTP: a
  * DocServer in live mode serves the STREAMING PSI register, and a GET
  * issued one trigger after a version bump reflects the new table —
  * no manual refresh. Sections arrive through the same
  * `latestTablesStream` state operator the R3/R4 gates check; the
  * version-2 PMT is built with the repo's own E6 encoder and re-decoded
  * through the P4 section parser, so the push path exercises
  * encode→decode→state→register→document end to end. */
class LiveDocServerSpec extends SparkSuite {

  private lazy val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("GET reflects a PMT version bump one trigger after the push, " +
    "without manual refresh") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val reg = Files.createTempDirectory("graft-live").toString + "/reg"
    // v0 state from the capture: PAT (pid 0) + PMT (pid 66) sections
    val secs0 = graft.ts.TsLake.sections(spark)
      .filter((x: PsiSection) => (x.pid == 0 || x.pid == 66) && x.crcOk)
      .collect().sortBy(_.firstSeq)
    assert(secs0.nonEmpty)
    val pmt0 = secs0.filter(_.pid == 66)
      .flatMap(PsiCodec.decodePmt(_)).head
    val mem = MemoryStream[PsiSection]
    val (srv, q) = DocServer.startLive(spark,
      TableState.latestTablesStream(mem.toDS()), reg)
    try {
      mem.addData(secs0.toSeq)
      q.processAllAvailable()
      val r0 = get(srv.port,
        "/api/1.0/stream_procs/mpeg2_sp-0/program_processors")
      assert(r0.statusCode() == 200)
      assert(r0.body().contains("\"program_number\":1"))
      assert(r0.body().contains("\"pmt_version\":"))
      assert(r0.body().contains(s""""n_es":${pmt0.es.length}"""))
      // bump: version+1 PMT with one extra ES, through the E6 encoder
      // and the P4 decoder (the real wire shape, CRC included)
      val v1 = (secs0.filter(_.pid == 66).head.versionNumber + 1) & 0x1F
      val bumped = pmt0.copy(es =
        pmt0.es :+ EsEntry(0x06, 0x123, Seq.empty))
      val sec1 = PsiCodec.decodeSection(66, 999999L,
        PsiCodec.encodePmt(bumped, v1)).get
      assert(sec1.crcOk && sec1.versionNumber == v1)
      mem.addData(Seq(sec1))
      q.processAllAvailable()
      // no srv.refresh() here — the landed batch must have published
      // the new document from the updated register
      val r1 = get(srv.port,
        "/api/1.0/stream_procs/mpeg2_sp-0/program_processors")
      assert(r1.statusCode() == 200)
      assert(r1.body().contains(s""""pmt_version":$v1"""),
        s"expected version $v1 in: ${r1.body()}")
      assert(r1.body().contains(s""""n_es":${pmt0.es.length + 1}"""))
      assert(r1.body() != r0.body())
    } finally { q.stop(); srv.stop() }
  }
}
