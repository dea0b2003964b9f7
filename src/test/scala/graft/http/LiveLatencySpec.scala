package graft.http

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite
import graft.streaming.TableState
import graft.ts.{EsEntry, PsiCodec, PsiSection}

/** z33 — the 1 s PSI-convergence SLO (`mpeg2_sp.c:78-81`), MEASURED:
  * LiveDocServerSpec asserts that a GET after a version bump reflects
  * the new table; this probe puts a number on it. A paced replay
  * pushes 50 successive PMT version bumps (each through the E6
  * encoder → P4 decoder wire shape) into the live streaming register
  * while a hot HTTP poll measures push-to-visible latency per bump —
  * p50/p99 land on stderr and in COVERAGE.md. The streaming query
  * runs its own micro-batch loop (no processAllAvailable on the
  * measured path), so the number includes trigger scheduling, the
  * state update and the in-memory register publish (fold and document
  * render, once per landed batch) — the full serving path a
  * deployment's SLO covers. */
class LiveLatencySpec extends SparkSuite {

  private lazy val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("z33: live trigger-to-visible latency over a 50-bump paced " +
    "replay — p50/p99 recorded, every bump converges") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val reg = Files.createTempDirectory("graft-lat").toString + "/reg"
    val secs0 = graft.ts.TsLake.sections(spark)
      .filter((x: PsiSection) => (x.pid == 0 || x.pid == 66) && x.crcOk)
      .collect().sortBy(_.firstSeq)
    assert(secs0.nonEmpty)
    val pmt0 = secs0.filter(_.pid == 66)
      .flatMap(PsiCodec.decodePmt(_)).head
    val v0 = secs0.filter(_.pid == 66).head.versionNumber
    val mem = MemoryStream[PsiSection]
    val (srv, q) = DocServer.startLive(spark,
      TableState.latestTablesStream(mem.toDS()), reg)
    val path = "/api/1.0/stream_procs/mpeg2_sp-0/program_processors"
    try {
      mem.addData(secs0.toSeq)
      q.processAllAvailable()
      assert(get(srv.port, path).statusCode() == 200)
      val lat = (1 to 50).map { k =>
        val v = (v0 + k) & 0x1F
        // content varies per bump (one extra ES with a k-derived pid)
        val bumped = pmt0.copy(es =
          pmt0.es :+ EsEntry(0x06, 0x100 + k, Seq.empty))
        val sec = PsiCodec.decodeSection(66, 999999L + k,
          PsiCodec.encodePmt(bumped, v)).get
        assert(sec.crcOk && sec.versionNumber == v)
        val marker = s""""pmt_version":$v"""
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        val t0 = System.nanoTime()
        mem.addData(Seq(sec))
        var body = ""
        while (!body.contains(marker)) {
          assert(System.nanoTime() < deadline,
            s"bump $k (version $v) not visible within 30 s")
          body = get(srv.port, path).body()
        }
        (System.nanoTime() - t0) / 1e6
      }
      val sorted = lat.sorted
      val p50 = sorted(lat.size / 2)
      val p99 = sorted(lat.size - 1)
      System.err.println(
        f"[z33] trigger-to-visible over ${lat.size} bumps: " +
          f"p50=$p50%.0f ms p99=$p99%.0f ms " +
          f"(min=${sorted.head}%.0f, mean=${lat.sum / lat.size}%.0f)")
      // the reference's contract is 1 s convergence. A landed batch is
      // one collect and a GET runs no Spark job, so the trigger itself
      // dominates the number: planning plus the state-store commits of
      // the two stateful operators. The gate is deliberately looser
      // (2.5 s) so a CPU-contended test host reports, not flakes; the
      // measured number is the record.
      assert(p50 < 2500.0, f"p50 $p50%.0f ms far outside the PSI SLO")
    } finally { q.stop(); srv.stop() }
  }

  test("z36: trigger-to-visible latency UNDER THE 64-TENANT REPLAY — " +
    "the z32 state load composed with the z33 serving path, p50/p99 " +
    "recorded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val nTenants = 64
    val reg = Files.createTempDirectory("graft-lat64").toString + "/reg"
    val secs0 = graft.ts.TsLake.sections(spark)
      .filter((x: PsiSection) => (x.pid == 0 || x.pid == 66) && x.crcOk)
      .collect().sortBy(_.firstSeq)
    val pmt0 = secs0.filter(_.pid == 66)
      .flatMap(PsiCodec.decodePmt(_)).head
    val v0 = secs0.filter(_.pid == 66).head.versionNumber
    // instance-tagged pid (the z32 keying: tenant i owns pid | i<<13);
    // ONE streaming query carries all 64 tenants' table state, the
    // register/serving slice is tenant 0 — so the measured GET pays
    // the multi-tenant state churn in the same micro-batch loop
    def tag(sec: PsiSection, i: Int): PsiSection =
      sec.copy(pid = sec.pid | (i << 13))
    val mem = MemoryStream[PsiSection]
    val (srv, q) = DocServer.startLive(spark,
      TableState.latestTablesStream(mem.toDS())
        .filter((t: TableState.CompleteTable) => (t.pid >> 13) == 0),
      reg)
    val path = "/api/1.0/stream_procs/mpeg2_sp-0/program_processors"
    try {
      // all 64 tenants' base state in one shot
      mem.addData((0 until nTenants).flatMap(i =>
        secs0.map(tag(_, i)).toSeq))
      q.processAllAvailable()
      assert(get(srv.port, path).statusCode() == 200)
      val lat = (1 to 30).map { k =>
        val v = (v0 + k) & 0x1F
        val bumped = pmt0.copy(es =
          pmt0.es :+ EsEntry(0x06, 0x100 + k, Seq.empty))
        // every tenant gets the bump (64 sections per push); tenant 0
        // is the measured serving slice
        val bump = (0 until nTenants).map { i =>
          PsiCodec.decodeSection(66 | (i << 13),
            999999L + k * 1000L + i,
            PsiCodec.encodePmt(bumped, v)).get
        }
        assert(bump.forall(s => s.crcOk && s.versionNumber == v))
        val marker = s""""pmt_version":$v"""
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        val t0 = System.nanoTime()
        mem.addData(bump)
        var body = ""
        while (!body.contains(marker)) {
          assert(System.nanoTime() < deadline,
            s"bump $k (version $v) not visible within 60 s at n=64")
          body = get(srv.port, path).body()
        }
        (System.nanoTime() - t0) / 1e6
      }
      val sorted = lat.sorted
      val p50 = sorted(lat.size / 2)
      val p99 = sorted(lat.size - 1)
      System.err.println(
        f"[z36] trigger-to-visible under 64-tenant replay over " +
          f"${lat.size} bumps: p50=$p50%.0f ms p99=$p99%.0f ms " +
          f"(min=${sorted.head}%.0f, mean=${lat.sum / lat.size}%.0f)")
      // loose gate (contended hosts report, not flake); the measured
      // p50/p99 are the record — COVERAGE.md carries the numbers
      assert(p50 < 5000.0,
        f"p50 $p50%.0f ms far outside the tenant-composed PSI SLO")
    } finally { q.stop(); srv.stop() }
  }
}
