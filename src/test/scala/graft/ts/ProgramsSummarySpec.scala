package graft.ts

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Row}

import graft.SparkSuite

/** The driver-side programs summary (`programsSummaryFrom`) against the
  * DataFrame join it replaces in the bench path
  * (`programsSummaryFromTables` over the PAT/PMT/SDT builders), on
  * capture-free muxes built with the engine's own encoders; and the
  * capture readers' one existence check. */
class ProgramsSummarySpec extends SparkSuite {

  /** Both summaries over the same sections: same schema (names, types,
    * nullability) and the same rows. */
  private def assertSameSummary(secs: Dataset[PsiSection]): Array[Row] = {
    val latest = TsPipeline.latestTables(secs)
    val viaJoin = TsPipeline.programsSummaryFromTables(
      TsPipeline.patFromLatest(spark, latest),
      TsPipeline.pmtFromLatest(spark, latest),
      TsPipeline.sdtFromLatest(spark, latest))
    val onDriver = TsPipeline.programsSummaryFrom(spark, secs)
    assert(onDriver.schema == viaJoin.schema)
    assert(onDriver.schema == TsPipeline.ProgramsSummarySchema)
    def rows(df: DataFrame) = df.collect().sortBy(_.getInt(0))
    val got = rows(onDriver)
    assert(got.toSeq == rows(viaJoin).toSeq)
    got
  }

  test("3-program MPTS: driver-side summary == the DataFrame join") {
    val got = assertSameSummary(
      TsPipeline.psiSections(spark, Fixtures.mpts(spark)))
    assert(got.map(_.getString(2)).toSeq ==
      Seq("Service 1", "Service 2", "Service 3"))
  }

  /** PAT v1: network PID, four programs. Program 1's PMT arrives at v2
    * then v3 (v3 is served); program 2 has no SDT entry; program 3 has
    * no PMT at all; program 4's PMT lists no ES. */
  private def edgeMux: Seq[TsPacket] = {
    def pmt(num: Int, pcr: Int, es: Seq[Int], version: Int) =
      PsiCodec.encodePmt(PmtProgram(num, pcr, Nil,
        es.map(EsEntry(0x1B, _, Nil))), version)
    val sections = Seq(
      0x00 -> PsiCodec.encodePat(Seq(PatRow(0, 0x10), PatRow(1, 0x100),
        PatRow(2, 0x200), PatRow(3, 0x300), PatRow(4, 0x400)), 9, 1),
      0x11 -> Fixtures.sdtSection(9, 1,
        Seq(1 -> "One", 3 -> "Three", 4 -> "Four")),
      0x100 -> pmt(1, 0x101, Seq(0x101), version = 2),
      0x200 -> pmt(2, 0x201, Seq(0x201), version = 5),
      0x400 -> pmt(4, 0x401, Nil, version = 0),
      0x100 -> pmt(1, 0x111, Seq(0x111, 0x112, 0x113), version = 3))
    val cc = scala.collection.mutable.Map.empty[Int, Int]
    val out = ArrayBuffer.empty[TsPacket]
    sections.foreach { case (pid, sec) =>
      val pkts = Fixtures.sectionToPackets(pid, sec, out.length.toLong,
        cc.getOrElse(pid, 0))
      cc(pid) = cc.getOrElse(pid, 0) + pkts.length
      out ++= pkts
    }
    out.toSeq
  }

  test("built mux: no-PMT, no-SDT, ES-less and re-versioned programs") {
    import spark.implicits._
    val got = assertSameSummary(
      TsPipeline.psiSections(spark, edgeMux.toDS()))
    def opt(r: Row) = if (r.isNullAt(3)) None else Some(r.getInt(3))
    assert(got.map(r => (r.getInt(0), r.getInt(1), r.getString(2), opt(r),
        r.getLong(4))).toSeq == Seq(
      (1, 0x100, "One", Some(0x111), 3L), // the v3 winner, not v2
      (2, 0x200, "", Some(0x201), 1L),
      (3, 0x300, "Three", None, 0L),
      (4, 0x400, "Four", None, 0L)))
  }

  private def sec(pid: Int, version: Int, sn: Int, last: Int, seq: Long,
      crcOk: Boolean = true, currentNext: Boolean = true): PsiSection =
    PsiSection(pid, seq, tableId = 0x02, syntaxIndicator = true,
      sectionLength = 13, tableIdExtension = 1, versionNumber = version,
      currentNext = currentNext, sectionNumber = sn, lastSectionNumber = last,
      crcOk = crcOk, bytes = Array(seq.toByte, pid.toByte))

  /** `latestSections` against the `latestTables` join over `secs` in
    * `partitions` slices, in input order; returns the picked sections as
    * (pid, version, section, lastSection, firstSeq). */
  private def assertSameLatest(secs: Seq[PsiSection], partitions: Int)
      : Set[(Int, Int, Int, Int, Long)] = {
    import spark.implicits._
    def key(s: PsiSection) = (s.pid, s.firstSeq, s.tableId,
      s.tableIdExtension, s.versionNumber, s.sectionNumber,
      s.lastSectionNumber, s.crcOk, s.currentNext, s.bytes.toSeq)
    val ds = spark.sparkContext.parallelize(secs, partitions).toDS()
    assert(ds.rdd.glom().collect().count(_.nonEmpty) >= 3)
    val viaJoin = TsPipeline.latestTables(ds).as[PsiSection].collect()
    val onDriver = TsPipeline.latestSections(ds)
    assert(onDriver.map(key).sortBy(_.toString) ==
      viaJoin.toSeq.map(key).sortBy(_.toString))
    onDriver.map(s => (s.pid, s.versionNumber, s.sectionNumber,
      s.lastSectionNumber, s.firstSeq)).toSet
  }

  test("driver-side latest sections == the latestTables join: " +
    "versions, re-broadcasts and split section counts") {
    val secs = Seq(
      // 0x100: v1 complete; a newer v2 lacks section 1, v3's section 1
      // fails its CRC: v1 is served
      sec(0x100, 1, 0, 1, 10), sec(0x100, 1, 1, 1, 11),
      sec(0x100, 2, 0, 1, 20),
      sec(0x100, 3, 0, 1, 30), sec(0x100, 3, 1, 1, 31, crcOk = false),
      // 0x200: v1, then v2, then v1 again: the re-broadcast v1 arrived
      // last and wins, with its latest copy
      sec(0x200, 1, 0, 0, 40), sec(0x200, 2, 0, 0, 50),
      sec(0x200, 1, 0, 0, 60),
      // 0x300: v4 as one section, then as two; both complete, so each
      // section number's latest copy of v4 is served
      sec(0x300, 4, 0, 0, 70), sec(0x300, 4, 0, 1, 80),
      sec(0x300, 4, 1, 1, 81),
      // 0x301: v6 complete as one section; a later v6 announcing three
      // sections lacks section 1, yet its copies of v6 are the latest
      sec(0x301, 6, 0, 0, 100), sec(0x301, 6, 0, 2, 110),
      sec(0x301, 6, 2, 2, 111),
      // 0x302: a next (not current) v8 is never served
      sec(0x302, 7, 0, 0, 120), sec(0x302, 8, 0, 0, 130,
        currentNext = false),
      // 0x100 again, late: a repeat of v1's section 0 in another slice
      sec(0x100, 1, 0, 1, 140))
    assert(assertSameLatest(secs, partitions = 4) == Set(
      (0x100, 1, 0, 1, 140L), (0x100, 1, 1, 1, 11L),
      (0x200, 1, 0, 0, 60L),
      (0x300, 4, 0, 1, 80L), (0x300, 4, 1, 1, 81L),
      (0x301, 6, 0, 2, 110L), (0x301, 6, 2, 2, 111L),
      (0x302, 7, 0, 0, 120L)))
  }

  test("driver-side latest sections == the latestTables join: " +
    "seeded sections over 5 partitions") {
    val rnd = new scala.util.Random(11)
    // now and then a section number past the last one, which the
    // distinct-count rule reads as well
    val secs = rnd.shuffle((0 until 300).map { i =>
      val last = rnd.nextInt(3)
      val sn = if (rnd.nextInt(40) == 0) last + 1 else rnd.nextInt(last + 1)
      sec(Seq(0x100, 0x101, 0x102)(rnd.nextInt(3)), rnd.nextInt(4), sn,
        last, seq = i.toLong, crcOk = rnd.nextInt(10) > 0,
        currentNext = rnd.nextInt(10) > 0)
    })
    assert(assertSameLatest(secs, partitions = 5).map(_._1).size == 3)
  }

  test("a missing capture fails in one line, in every reader") {
    val missing = java.nio.file.Files.createTempDirectory("capture")
      .resolve("absent.ts").toString
    val msg = s"TS capture not found: $missing"
    assert(intercept[java.io.FileNotFoundException](
      TsPipeline.requireCapture(missing)).getMessage == msg)
    // the readers throw while building their RDD, before a job exists
    assert(intercept[java.io.FileNotFoundException](
      TsPipeline.rawRecords(spark, missing)).getMessage == msg)
    assert(intercept[java.io.FileNotFoundException](
      TsPipeline.packetsWithRejects(spark, missing)).getMessage == msg)
  }
}
