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
