package graft.http

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite
import graft.streaming.TableState
import graft.ts.{EsEntry, PatRow, PmtProgram, PsiCodec, PsiSection}

/** The live program_processors path without a capture: PAT and PMT
  * sections built with the E6 encoders and re-parsed by the P4 decoder
  * go through `MemoryStream` → `latestTablesStream` →
  * `DocServer.startLive`, and the served document is checked against
  * what was encoded. */
class LiveRegisterSpec extends SparkSuite {

  private lazy val client = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()
  private val path = "/api/1.0/stream_procs/mpeg2_sp-0/program_processors"

  // programs 1-4 carry a PMT on pid 0x100+i; program 5 is announced in
  // the PAT only; program 0 is the network PID and never served
  private val withPmt = 1 to 4
  private val served = withPmt :+ 5
  private def pmtPid(i: Int): Int = 0x100 + i
  private def pcrPid(i: Int): Int = 0x200 + 16 * i

  private var seq = 0L
  private def section(pid: Int, bytes: Array[Byte]): PsiSection = {
    seq += 1
    PsiCodec.decodeSection(pid, seq, bytes).get
  }
  private def pat(version: Int): PsiSection = section(0, PsiCodec.encodePat(
    PatRow(0, 0x10) +: served.map(i => PatRow(i, pmtPid(i))), tsId = 1,
    version = version))
  private def pmt(i: Int, version: Int, nEs: Int = 2): PsiSection =
    section(pmtPid(i), PsiCodec.encodePmt(PmtProgram(i, pcrPid(i), Nil,
      (0 until nEs).map(k => EsEntry(0x1B, pcrPid(i) + k, Nil))), version))
  private def initial(pmtVersion: Int): Seq[PsiSection] =
    pat(0) +: withPmt.map(pmt(_, pmtVersion))

  private def get(port: Int): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  /** program_number → pmt_version (-1 when the document has none). */
  private def versions(body: String): Map[Int, Int] =
    mapper.readTree(body).elements().asScala.map { d =>
      d.get("program_number").asInt ->
        Option(d.get("pmt_version")).fold(-1)(_.asInt)
    }.toMap

  private def live(f: (DocServer, MemoryStream[PsiSection],
      org.apache.spark.sql.streaming.StreamingQuery) => Unit): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[PsiSection]
    val (srv, q) = DocServer.startLive(spark,
      TableState.latestTablesStream(mem.toDS()), sf)
    try f(srv, mem, q) finally { q.stop(); srv.stop() }
  }

  test("live document: 404 before the first table, then the encoded " +
    "programs; a bump is visible without a manual refresh") {
    live { (srv, mem, q) =>
      assert(get(srv.port)._1 == 404)
      mem.addData(initial(pmtVersion = 0))
      q.processAllAvailable()
      val (code, body) = get(srv.port)
      assert(code == 200)
      val want = withPmt.map(i =>
        s"""{"program_number":$i,"reference_pid":${pmtPid(i)},""" +
          s""""pat_version":0,"pcr_pid":${pcrPid(i)},"n_es":2,""" +
          s""""pmt_version":0}""") :+
        s"""{"program_number":5,"reference_pid":${pmtPid(5)},"pat_version":0}"""
      assert(body == want.mkString("[", ",", "]"))
      // the stream's own trigger lands the bump: no processAllAvailable,
      // no refresh
      mem.addData(Seq(pmt(3, version = 1, nEs = 3)))
      val deadline = System.nanoTime() + 30L * 1000000000L
      var now = body
      while (versions(now)(3) != 1) {
        assert(System.nanoTime() < deadline, s"bump not visible in: $now")
        Thread.sleep(5)
        now = get(srv.port)._2
      }
      assert(now.contains(
        s"""{"program_number":3,"reference_pid":${pmtPid(3)},""" +
          s""""pat_version":0,"pcr_pid":${pcrPid(3)},"n_es":3,""" +
          s""""pmt_version":1}"""))
      assert(versions(now) == versions(body).updated(3, 1))
    }
  }

  test("a 31→0 PMT version wrap inside one micro-batch serves version 0") {
    live { (srv, mem, q) =>
      mem.addData(initial(pmtVersion = 30))
      q.processAllAvailable()
      assert(versions(get(srv.port)._2)(2) == 30)
      // one addData is one micro-batch: 31 completes first, then 0
      mem.addData(Seq(pmt(2, version = 31), pmt(2, version = 0)))
      q.processAllAvailable()
      val (code, body) = get(srv.port)
      assert(code == 200)
      assert(versions(body)(2) == 0, body)
    }
  }

  test("GETs during 32 landed bumps all answer 200 with every program") {
    live { (srv, mem, q) =>
      mem.addData(initial(pmtVersion = 0))
      q.processAllAvailable()
      @volatile var polling = true
      val seen = new ConcurrentLinkedQueue[(Int, String)]()
      val poller = new Thread(() =>
        while (polling) seen.add(
          try get(srv.port) catch { case e: Exception => (-1, e.toString) }))
      poller.start()
      try {
        (0 until 32).foreach { k =>
          mem.addData(Seq(pmt(withPmt(k % 4), version = k / 4 + 1)))
          q.processAllAvailable()
        }
      } finally { polling = false; poller.join() }
      val rs = seen.asScala.toSeq
      assert(rs.length >= 32, s"only ${rs.length} GETs during the bumps")
      val bad = rs.filter(r =>
        r._1 != 200 || versions(r._2).keySet != served.toSet)
      assert(bad.isEmpty,
        s"${bad.length} of ${rs.length} GETs: ${bad.headOption}")
      // whole snapshots: no program's version ever goes back
      val seenVersions = rs.map(r => versions(r._2))
      served.foreach { i =>
        val vs = seenVersions.map(_(i))
        assert(vs == vs.sorted, s"program $i went back: ${vs.distinct}")
      }
      assert(versions(get(srv.port)._2) ==
        withPmt.map(_ -> 8).toMap.updated(5, -1))
    }
  }
}
