package graft.perfbench

/** Self-tests of the benchmark's own machinery (no Spark session):
  * seeded inputs are reproducible, the capture really carries the
  * planted faults, and the checkers flag a missed CC error and a bump
  * that never becomes visible. Exits non-zero on the first failure. */
object SelfTest {
  private def expect(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) sys.exit(1)
  }

  def run(dir: String): Unit = {
    val (a, ta) = Gen.capture(11L, 0, 3000)
    val (b, _) = Gen.capture(11L, 0, 3000)
    val (c, _) = Gen.capture(12L, 0, 3000)
    expect("same seed gives the same capture bytes",
      java.util.Arrays.equals(a, b))
    expect("another seed gives other capture bytes",
      !java.util.Arrays.equals(a, c))
    expect("same seed gives the same live templates",
      java.util.Arrays.equals(Gen.live(11L, 16, 31)._1,
        Gen.live(11L, 16, 31)._1))

    // the capture's own bytes carry the planted faults
    val truthPath = s"$dir/selftest_truth.json"
    Json.writeFile(truthPath, ta)
    val truth = Json.read(truthPath)
    val recs = a.grouped(188).toSeq
    val pkts = recs.zipWithIndex.flatMap { case (r, i) =>
      graft.ts.TsCodec.decode(r, i.toLong) }
    expect("planted bad-sync records are the only undecodable ones",
      recs.length - pkts.length == truth.get("rejects").asInt)
    val measured = pkts.filter(p => p.hasPayload &&
        p.pid != graft.ts.TsCodec.NullPid)
      .groupBy(_.pid).toSeq.map { case (pid, ps) =>
        val ccs = ps.sortBy(_.seq).map(_.cc)
        val errs = ccs.zip(ccs.drop(1)).count { case (x, y) =>
          (x + 1) % 16 != y }
        (pid, ps.length.toLong, errs.toLong)
      }
    expect("the capture carries at least one planted CC error",
      Checks.plantedCcErrors(truth) > 0)
    expect("a correct CC audit passes the checker",
      Checks.ccAuditOk(measured, truth))
    val (pid, n, e) = measured.find(_._3 > 0).get
    expect("a CC audit that misses a planted error is flagged",
      !Checks.ccAuditOk(measured.map(r =>
        if (r._1 == pid) (pid, n, e - 1) else r), truth))

    // bumps: program 1 never shows version 2 → that bump stays unseen
    val due = Seq(0L, 100L, 200L)
    val prog = Seq(0, 1, 1)
    val version = Seq(1, 1, 2)
    val visible = Array.fill(3)(-1L)
    Checks.markVisible(visible, due, prog, version, Map(0 -> 1, 1 -> 0),
      50L * 1000000L)
    Checks.markVisible(visible, due, prog, version, Map(0 -> 1, 1 -> 1),
      300L * 1000000L)
    expect("a visible bump is timed at the first GET showing it",
      visible(0) == 50L * 1000000L && visible(1) == 300L * 1000000L)
    expect("a dropped bump is flagged as not visible", visible(2) < 0)
    Checks.markVisible(visible, due, prog, version, Map(0 -> 1, 1 -> 3),
      400L * 1000000L)
    expect("a later version makes an earlier bump visible",
      visible(2) == 400L * 1000000L)
  }
}
