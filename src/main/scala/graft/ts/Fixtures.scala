package graft.ts

import scala.collection.mutable.ArrayBuffer

/** Synthetic stream builders (SURVEY §5 test strategy: fixtures are built
  * with the engine's own encoders, exactly how the reference's unit test
  * builds its PMT + packets, `utests_prog_proc.cpp:116-214`). */
object Fixtures {

  /** Packetize one section onto a PID: PUSI packet with pointer_field 0,
    * spilling into continuation packets; final packet 0xFF-stuffed. */
  def sectionToPackets(pid: Int, section: Array[Byte], seqStart: Long,
      ccStart: Int): Seq[TsPacket] = {
    val out = ArrayBuffer.empty[TsPacket]
    var off = 0
    var first = true
    var cc = ccStart
    var seq = seqStart
    while (off < section.length) {
      val cap = if (first) 183 else 184
      val n = math.min(cap, section.length - off)
      val chunk = java.util.Arrays.copyOfRange(section, off, off + n)
      val payload =
        if (first) Array[Byte](0) ++ chunk else chunk
      val padded =
        if (payload.length < 184)
          payload ++ Array.fill[Byte](184 - payload.length)(0xFF.toByte)
        else payload
      out += TsPacket(seq, pid, tei = false, pusi = first,
        priority = false, scrambling = 0, hasAf = false, hasPayload = true,
        cc = cc & 0xF, af = None, payload = padded)
      off += n
      first = false
      cc += 1
      seq += 1
    }
    out.toSeq
  }

  /** Tight multiplex of several sections onto one PID, the way real
    * muxes pack them (`psi_dec.c:265-474` is the decode spec): sections
    * run back-to-back; a packet where a section starts carries PUSI with
    * pointer_field = number of continuation bytes of the previous
    * section that precede the start; packets fully inside one section
    * are continuation packets; the tail is 0xFF-stuffed. Exercises
    * mid-packet splits, multi-section payloads and stuffing in one
    * stream. */
  def muxSections(pid: Int, sections: Seq[Array[Byte]], seqStart: Long,
      ccStart: Int): Seq[TsPacket] = {
    val stream = sections.flatten.toArray
    val starts = sections.scanLeft(0)(_ + _.length).dropRight(1).toSet
    val out = ArrayBuffer.empty[TsPacket]
    var pos = 0
    var cc = ccStart
    var seq = seqStart
    while (pos < stream.length) {
      // a section start within the next 184 bytes needs PUSI + pointer;
      // the pointer byte shrinks the data capacity to 183
      val startInReach = (pos until math.min(pos + 183, stream.length))
        .find(starts.contains)
      val payload = startInReach match {
        case Some(startOff) =>
          val ptr = startOff - pos
          val n = math.min(183, stream.length - pos)
          Array[Byte](ptr.toByte) ++
            java.util.Arrays.copyOfRange(stream, pos, pos + n)
        case None =>
          val n = math.min(184, stream.length - pos)
          java.util.Arrays.copyOfRange(stream, pos, pos + n)
      }
      val padded =
        if (payload.length < 184)
          payload ++ Array.fill[Byte](184 - payload.length)(0xFF.toByte)
        else payload
      out += TsPacket(seq, pid, tei = false, pusi = startInReach.isDefined,
        priority = false, scrambling = 0, hasAf = false, hasPayload = true,
        cc = cc & 0xF, af = None, payload = padded)
      pos += (if (startInReach.isDefined) payload.length - 1
              else payload.length)
      cc += 1
      seq += 1
    }
    out.toSeq
  }

  /** A DVB-SDT actual section (table 0x42): original_network_id 1, then
    * per service a loop with one 0x48 descriptor (provider "GraftNet",
    * the given name), running status 4. */
  def sdtSection(tsId: Int, version: Int, services: Seq[(Int, String)])
      : Array[Byte] = {
    val loops = services.map { case (id, name) =>
      val desc = PsiCodec.encodeDescriptors(Seq(Descriptor(0x48,
        Array.emptyByteArray, Some(1), Some("GraftNet"), Some(name), None)))
      Array[Byte](
        ((id >> 8) & 0xFF).toByte, (id & 0xFF).toByte,
        0xFC.toByte, // reserved(6) + EIT flags 0
        ((4 << 5) | (desc.length >> 8 & 0x0F)).toByte, // running=4
        (desc.length & 0xFF).toByte) ++ desc
    }
    PsiCodec.encodeSection(0x42, tsId, version, currentNext = true, 0, 0,
      Array[Byte](0x00, 0x01, 0xFF.toByte) ++ loops.flatten)
  }

  /** A 3-program MPTS: PAT + 3 PMTs + DVB-SDT with service names —
    * the multi-program shape the real capture lacks. */
  def mpts(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.Dataset[TsPacket] = {
    import spark.implicits._
    mptsPackets.toDS()
  }

  private def mptsPackets: Seq[TsPacket] = {
    val programs = Seq(
      (1, 0x100, 0x101, Seq((0x1B, 0x101), (0x03, 0x102))), // video+audio
      (2, 0x200, 0x201, Seq((0x1B, 0x201))),
      (3, 0x300, 0x301, Seq((0x03, 0x301), (0x06, 0x302))))
    val pat = PsiCodec.encodePat(
      programs.map(p => PatRow(p._1, p._2)), tsId = 7, version = 1)
    val pmts = programs.map { case (num, pid, pcrPid, es) =>
      pid -> PsiCodec.encodePmt(
        PmtProgram(num, pcrPid, Nil,
          es.map(e => EsEntry(e._1, e._2, Nil))), version = 2)
    }
    val sdt = sdtSection(tsId = 7, version = 3,
      programs.map { case (num, _, _, _) => num -> s"Service $num" })
    var seq = 0L
    val pkts = ArrayBuffer.empty[TsPacket]
    // interleave: PAT, SDT, PMTs, repeated twice (state must converge)
    (0 until 2).foreach { round =>
      val cc = round
      pkts ++= sectionToPackets(0, pat, { seq += 10; seq }, cc)
      pkts ++= sectionToPackets(0x11, sdt, { seq += 10; seq }, cc)
      pmts.foreach { case (pid, sec) =>
        pkts ++= sectionToPackets(pid, sec, { seq += 10; seq }, cc)
      }
    }
    pkts.toSeq
  }

  /** The MPTS plus PCR + ES traffic on TWO independent program
    * timelines — the shape that exercises the per-PID-span,
    * max-across-PIDs bitrate semantic (`ts_enc.c:274+`) that the
    * single-program capture can't:
    *
    *  - program 1 (PCR PID 0x101): 0.5 s cadence, 2.0 s sane span;
    *  - program 2 (PCR PID 0x201): its own offset timeline with one
    *    2 s discontinuity jump (> 1 s ⇒ skipped) and one exactly-1 s
    *    delta (boundary: included) — 3.0 s sane span, the mux winner;
    *  - program 3: no PCR at all (must still get a bitrate row);
    *  - deterministic round-robin ES payload traffic on all five ES
    *    PIDs so per-second buckets see a stable mix.
    */
  def mptsWithPcr(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.Dataset[TsPacket] = {
    import spark.implicits._
    val out = ArrayBuffer(mptsPackets: _*)
    var seq = out.map(_.seq).max
    val cc = scala.collection.mutable.Map.empty[Int, Int]
    def pcrPkt(pid: Int, pcr: Long): TsPacket = {
      seq += 1
      val af = AdaptationField(183, discontinuity = false,
        randomAccess = false, esPriority = false, pcr = Some(pcr),
        opcr = None, spliceCountdown = None, privateData = false,
        extension = false, Array.emptyByteArray)
      TsPacket(seq, pid, tei = false, pusi = false, priority = false,
        scrambling = 0, hasAf = true, hasPayload = false,
        cc = cc.getOrElse(pid, 0), af = Some(af), Array.emptyByteArray)
    }
    def esPkt(pid: Int): TsPacket = {
      seq += 1
      val c = cc.getOrElse(pid, 0)
      cc(pid) = c + 1 // CC advances on payload packets only
      TsPacket(seq, pid, tei = false, pusi = false, priority = false,
        scrambling = 0, hasAf = false, hasPayload = true, cc = c & 0xF,
        af = None, Array.tabulate[Byte](184)(i => ((i + pid) & 0xFF).toByte))
    }
    val p1Pcrs = Seq(0L, 13500000L, 27000000L, 40500000L, 54000000L)
    val p2Pcrs = Seq(270000000L, 283500000L, 297000000L, 310500000L,
      364500000L, 378000000L, 405000000L)
    (0 until 10).foreach { round =>
      Seq.fill(6)(0x101).foreach(p => out += esPkt(p))
      Seq.fill(3)(0x102).foreach(p => out += esPkt(p))
      Seq.fill(4)(0x201).foreach(p => out += esPkt(p))
      Seq.fill(2)(0x301).foreach(p => out += esPkt(p))
      out += esPkt(0x302)
      if (round < p1Pcrs.length) out += pcrPkt(0x101, p1Pcrs(round))
      if (round < p2Pcrs.length) out += pcrPkt(0x201, p2Pcrs(round))
    }
    out.toSeq.toDS()
  }
}
