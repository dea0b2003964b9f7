package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite
import graft.ts.{TsPacket, TsPipeline}

/** R5 streaming: sections → table state → in-memory register
  * (foreachBatch fold, published per batch) → programs join over the
  * register — the reference's psi_thr compose + register swap, end
  * to end. */
class RegisterSpec extends SparkSuite {

  test("register snapshots converge to the batch programs summary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pkts = TsPipeline.packets(spark)
      .filter((p: TsPacket) => p.pid == 0 || p.pid == 66)
      .collect().sortBy(_.seq)
    val mem = MemoryStream[TsPacket]
    val tables = TableState.latestTablesStream(
      StreamingOps.sectionsStream(mem.toDS()))
    val reg = new AtomicReference[TableState.Register]()
    val q = TableState.composeToRegister(tables, reg)
    try {
      pkts.grouped(pkts.length / 3 + 1)
        .foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
      val summary = TableState.programs(reg.get.tables)
      assert(summary.length == 1)
      val r = summary.head
      assert(r.programNumber == 1)
      assert(r.referencePid == 66)
      assert(r.pcrPid.contains(69))
      assert(r.nEs.contains(2L))
    } finally q.stop()
  }
}
