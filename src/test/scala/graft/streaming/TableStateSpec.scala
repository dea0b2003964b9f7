package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite
import graft.ts.{PatRow, PsiCodec, PsiSection, TsPacket, TsPipeline}

class TableStateSpec extends SparkSuite {

  private def sec(pid: Int, seq: Long, ver: Int, num: Int, last: Int,
      rows: Seq[PatRow]): PsiSection = {
    // build a PAT-shaped section, then patch section_number/last and
    // restamp the CRC so crcOk stays true
    val base = PsiCodec.encodePat(rows, tsId = 1, version = ver)
    base(6) = (num & 0xFF).toByte
    base(7) = (last & 0xFF).toByte
    val crc = graft.functions.Crc32Mpeg2.compute(base, 0, base.length - 4)
    base(base.length - 4) = ((crc >>> 24) & 0xFF).toByte
    base(base.length - 3) = ((crc >>> 16) & 0xFF).toByte
    base(base.length - 2) = ((crc >>> 8) & 0xFF).toByte
    base(base.length - 1) = (crc & 0xFF).toByte
    PsiCodec.decodeSection(pid, seq, base).get
  }

  test("multi-section table completes across micro-batches; new version resets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[PsiSection]
    val q = TableState.latestTablesStream(mem.toDS())
      .writeStream.format("memory").queryName("tables")
      .outputMode("append").start()
    try {
      // v1 needs sections 0..1; deliver half in batch 1
      mem.addData(sec(0, 0, 1, 0, 1, Seq(PatRow(1, 66))))
      q.processAllAvailable()
      assert(spark.table("tables").count() == 0) // incomplete
      mem.addData(sec(0, 1, 1, 1, 1, Seq(PatRow(2, 67))))
      q.processAllAvailable()
      val afterV1 = spark.table("tables")
        .as[TableState.CompleteTable].collect()
      assert(afterV1.length == 1 && afterV1.head.versionNumber == 1)
      assert(afterV1.head.sectionBytes.length == 2)
      // duplicate section of v1 must not re-emit
      mem.addData(sec(0, 2, 1, 0, 1, Seq(PatRow(1, 66))))
      q.processAllAvailable()
      assert(spark.table("tables").count() == 1)
      // v2 single-section supersedes
      mem.addData(sec(0, 3, 2, 0, 0, Seq(PatRow(1, 99))))
      q.processAllAvailable()
      val all = spark.table("tables")
        .as[TableState.CompleteTable].collect()
      assert(all.length == 2)
      assert(all.map(_.versionNumber).sorted.toSeq == Seq(1, 2))
    } finally q.stop()
  }

  test("table assembly == batch latest tables on the capture") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pkts = TsPipeline.packets(spark)
      .filter((p: TsPacket) => p.pid == 0 || p.pid == 66)
      .collect().sortBy(_.seq)
    val secs = TsPipeline.psiSections(spark,
      spark.createDataset(pkts.toIndexedSeq)).collect().sortBy(_.firstSeq)
    val mem = MemoryStream[PsiSection]
    val q = TableState.latestTablesStream(mem.toDS())
      .writeStream.format("memory").queryName("capture_tables")
      .outputMode("append").start()
    try {
      secs.grouped(secs.length / 3 + 1)
        .foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
      val got = spark.table("capture_tables")
        .as[TableState.CompleteTable].collect()
      // the capture carries PAT v14 on PID 0 and PMT v27 on PID 66 —
      // one completed table per distinct (key, version)
      assert(got.map(t => (t.pid, t.tableId, t.versionNumber)).toSet ==
        Set((0, 0, 14), (66, 2, 27)))
    } finally q.stop()
  }

  test("current_next=0 sections are ignored") {
    val s0 = sec(0, 0, 1, 0, 0, Seq(PatRow(1, 66)))
    // flip current_next to 0 and restamp
    val b = s0.bytes.clone()
    b(5) = (b(5) & 0xFE).toByte
    val crc = graft.functions.Crc32Mpeg2.compute(b, 0, b.length - 4)
    b(b.length - 4) = ((crc >>> 24) & 0xFF).toByte
    b(b.length - 3) = ((crc >>> 16) & 0xFF).toByte
    b(b.length - 2) = ((crc >>> 8) & 0xFF).toByte
    b(b.length - 1) = (crc & 0xFF).toByte
    val notCurrent = PsiCodec.decodeSection(0, 0, b).get
    assert(!notCurrent.currentNext)
    val (buf, emitted) = TableState.step(None, notCurrent)
    assert(buf.isEmpty && emitted.isEmpty)
  }
}
