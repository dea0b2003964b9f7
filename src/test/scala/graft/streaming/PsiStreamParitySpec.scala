package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream,
  StreamingQueryWrapper}

import graft.SparkSuite
import graft.ts.{EsEntry, Fixtures, PmtProgram, PsiCodec, PsiSection,
  SectionAssembler, TsPacket}

/** Streaming ≡ batch for the two stateful operators of the live chain,
  * without a capture: the `Fixtures.mpts` packets plus a tail with PMT
  * version bumps (one back to an earlier version), multi-packet and
  * tightly muxed sections and a two-section SDT, fed in micro-batches
  * cut inside sections and tables. `sectionsStream` must emit what the
  * `SectionAssembler` fold does, and `latestTablesStream` what the
  * `TableState.step` fold does, at one session partition (no exchange)
  * and at four (a 1→4 exchange after the operators' coalesce). */
class PsiStreamParitySpec extends SparkSuite {

  /** The mpts packets, then the tail; each micro-batch cut falls inside
    * a multi-packet section or between the sections of one table. */
  private lazy val (packets, packetCuts): (Seq[TsPacket], Seq[Int]) = {
    val base = Fixtures.mpts(spark).collect().sortBy(_.seq).toSeq
    var seq = base.last.seq
    val cc = scala.collection.mutable.Map.empty[Int, Int]
      .withDefaultValue(2) // the mpts sends each PSI PID twice
    def sent(pid: Int, ps: Seq[TsPacket]): Seq[TsPacket] = {
      seq += ps.length
      cc(pid) += ps.length
      ps
    }
    def one(pid: Int, sec: Array[Byte]) =
      sent(pid, Fixtures.sectionToPackets(pid, sec, seq + 1, cc(pid)))
    def mux(pid: Int, secs: Seq[Array[Byte]]) =
      sent(pid, Fixtures.muxSections(pid, secs, seq + 1, cc(pid)))
    def pmt(num: Int, pcrPid: Int, nEs: Int, version: Int) =
      PsiCodec.encodePmt(PmtProgram(num, pcrPid, Nil,
        (0 until nEs).map(k => EsEntry(0x1B, pcrPid + k, Nil))), version)
    def sdt(section: Int, names: Seq[(Int, String)]) = {
      val s = Fixtures.sdtSection(tsId = 7, version = 4, names)
      PsiCodec.encodeSection(0x42, 7, 4, currentNext = true, section, 1,
        s.slice(8, s.length - 4))
    }
    // program 1's PMT bumps to v3 and spans two packets
    val bump = one(0x100, pmt(1, 0x101, nEs = 40, version = 3))
    // program 2's PMT goes v3 then v4, muxed back to back across packets
    val muxed = mux(0x200, Seq(pmt(2, 0x201, 40, 3), pmt(2, 0x201, 40, 4)))
    // the SDT's v4 is two sections, each in its own micro-batch
    val sdt0 = one(0x11, sdt(0, Seq(1 -> "One", 2 -> "Two")))
    val sdt1 = one(0x11, sdt(1, Seq(3 -> "Three")))
    // program 3's PMT goes v5, back to v2, then to v5 again, all in one
    // micro-batch
    val back = Seq(5, 2, 5).flatMap(v => one(0x300, pmt(3, 0x301, 2, v)))
    assert(bump.length == 2)
    assert(muxed.length == 3)
    val all = base ++ bump ++ muxed ++ sdt0 ++ sdt1 ++ back
    def at(p: TsPacket) = all.indexWhere(_.seq == p.seq)
    (all, Seq(base.length / 2, at(bump(1)), at(muxed(1)), at(muxed(2)),
      at(sdt1.head)))
  }

  /** The batch fold: each PID's packets in seq order through the
    * assembler. */
  private lazy val sections: Seq[PsiSection] =
    packets.groupBy(_.pid).toSeq.flatMap { case (pid, ps) =>
      SectionAssembler.assemble(pid, ps.sortBy(_.seq).iterator)
    }.sortBy(_.firstSeq)

  private def cut[T](xs: Seq[T], at: Seq[Int]): Seq[Seq[T]] =
    (0 +: at :+ xs.length).sliding(2).map { case Seq(a, b) =>
      xs.slice(a, b) }.toSeq

  private def sectionKey(s: PsiSection) = (s.pid, s.firstSeq, s.tableId,
    s.tableIdExtension, s.versionNumber, s.sectionNumber, s.crcOk,
    s.bytes.toSeq)

  /** Runs `op` over `batches` fed one micro-batch each on a session at
    * `partitions` shuffle partitions, into a memory sink; returns its
    * rows and the plan of the last micro-batch. */
  private def replay[I: Encoder, O: Encoder](partitions: Int,
      batches: Seq[Seq[I]], op: Dataset[I] => Dataset[O])
      : (Seq[O], SparkPlan) = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[I]
    val name = s"psi_parity_${partitions}_${System.nanoTime()}"
    val q = op(mem.toDS()).writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      assert(q.lastProgress.stateOperators.map(_.numStateStoreInstances)
        .toSeq == Seq(partitions.toLong), q.lastProgress.json)
      (s.table(name).as[O].collect().toSeq,
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
          .executedPlan)
    } finally q.stop()
  }

  private def exchanges(plan: SparkPlan) =
    plan.collect { case e: ShuffleExchangeLike => e }.length

  Seq(1, 4).foreach { n =>
    test(s"sectionsStream == the SectionAssembler fold over mpts packets " +
      s"with bumps, at $n session partition(s)") {
      import spark.implicits._
      val (got, plan) = replay(n, cut(packets, packetCuts),
        StreamingOps.sectionsStream)
      assert(exchanges(plan) == (if (n == 1) 0 else 1), plan.treeString)
      assert(sections.exists(s => s.pid == 0x100 && s.versionNumber == 3))
      assert(got.map(sectionKey).sortBy(_.toString) ==
        sections.map(sectionKey).sortBy(_.toString))
    }

    test(s"latestTablesStream == the TableState.step fold over mpts " +
      s"sections with bumps, at $n session partition(s)") {
      import spark.implicits._
      // per key, the fold in arrival order, keeping what step emits
      val want = sections.groupBy(s =>
          TableState.TableKey(s.pid, s.tableId, s.tableIdExtension))
        .map { case (k, ss) =>
          k -> ss.sortBy(_.firstSeq).foldLeft(
            (Option.empty[TableState.Buf], Vector.empty[TableState
              .CompleteTable])) { case ((buf, out), sec) =>
            val (next, emitted) = TableState.step(buf, sec)
            (next, out ++ emitted)
          }._2
        }.filter(_._2.nonEmpty)
      // cut between the two sections of the SDT's v4 and between
      // program 2's PMT v3 and v4
      val at = Seq(
        sections.indexWhere(s => s.pid == 0x11 && s.sectionNumber == 1),
        sections.indexWhere(s => s.pid == 0x200 && s.versionNumber == 4))
      val (got, plan) = replay(n, cut(sections, at.sorted),
        TableState.latestTablesStream)
      assert(exchanges(plan) == (if (n == 1) 0 else 1), plan.treeString)
      def byKey(ts: Seq[TableState.CompleteTable]) = ts
        .groupBy(t => TableState.TableKey(t.pid, t.tableId,
          t.tableIdExtension))
        .map { case (k, v) =>
          k -> v.map(t => (t.versionNumber, t.sectionBytes.map(_.toSeq)))
        }
      assert(byKey(got) == byKey(want.values.flatten.toSeq))
      // the SDT's v4 completed once, across two micro-batches, and each
      // of program 3's returns to a version completed it again
      assert(want(TableState.TableKey(0x11, 0x42, 7)).map(_.versionNumber)
        == Seq(3, 4))
      assert(want(TableState.TableKey(0x300, 0x02, 3)).map(_.versionNumber)
        == Seq(2, 5, 2, 5))
    }
  }
}
