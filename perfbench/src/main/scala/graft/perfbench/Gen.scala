package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.ts._

/** Seeded transport-stream inputs, built with the engine's own encoders
  * (`PsiCodec.encode*`, `Fixtures.sectionToPackets`, `TsCodec.encode*`).
  * Every count a workload checks is known by construction and written
  * next to the input as its ground truth. */
object Gen {
  val LiveEsPerProgram = 2

  /** One program of a mux: PMT on `pmtPid`, PCR on the first ES. */
  case class Prog(number: Int, pmtPid: Int, es: Seq[(Int, Int)]) {
    def pcrPid: Int = es.head._2
    def pmt(version: Int): Array[Byte] = PsiCodec.encodePmt(
      PmtProgram(number, pcrPid, Nil,
        es.map { case (st, pid) => EsEntry(st, pid, Nil) }), version)
  }

  private val StreamTypes = Seq(0x1B, 0x02, 0x03, 0x0F, 0x06)

  /** `n` programs with distinct program numbers and PIDs, each with
    * `nEs` elementary streams (evaluated once per program). */
  def programs(r: Random, n: Int, nEs: => Int): Seq[Prog] = {
    val nums = r.shuffle((1 to 999).toList).take(n).sorted
    val pids = r.shuffle((0x20 until 0x1FF0).toList)
      .filter(_ != 0x11).iterator
    nums.map { num =>
      Prog(num, pids.next(),
        (0 until nEs).map(_ => (StreamTypes(r.nextInt(StreamTypes.length)),
          pids.next())))
    }
  }

  def sdt(tsId: Int, progs: Seq[Prog]): Array[Byte] = {
    val services = progs.map { p =>
      val desc = PsiCodec.encodeDescriptors(Seq(Descriptor(0x48,
        Array.emptyByteArray, Some(1), Some("Bench"),
        Some(serviceName(p.number)), None)))
      Array[Byte](((p.number >> 8) & 0xFF).toByte, (p.number & 0xFF).toByte,
        0xFC.toByte, ((4 << 5) | (desc.length >> 8 & 0x0F)).toByte,
        (desc.length & 0xFF).toByte) ++ desc
    }
    PsiCodec.encodeSection(0x42, tsId, 0, currentNext = true, 0, 0,
      Array[Byte](0x00, 0x01, 0xFF.toByte) ++ services.flatten)
  }

  def serviceName(number: Int): String = s"Svc-$number"

  private def sectionPackets(pid: Int, sec: Array[Byte], cc: Int)
      : Seq[Array[Byte]] =
    Fixtures.sectionToPackets(pid, sec, 0L, cc).map(TsCodec.encode)

  private def pesPayload(streamId: Int, pts: Long, fill: Int): Array[Byte] = {
    val hdr = Array[Byte](0, 0, 1, streamId.toByte, 0, 0,
      0x80.toByte, 0x80.toByte, 5) ++ PesCodec.write33(pts, 0x2)
    hdr ++ Array.fill[Byte](184 - hdr.length)(fill.toByte)
  }

  private def esPacket(pid: Int, cc: Int, pusi: Boolean,
      payload: Array[Byte]): Array[Byte] =
    TsCodec.encode(TsPacket(0L, pid, tei = false, pusi = pusi,
      priority = false, scrambling = 0, hasAf = false, hasPayload = true,
      cc = cc & 0xF, af = None, payload = payload))

  /** One capture for `batch_sweep`: `nPackets` records of a 3–6
    * program mux with PSI every 100 packets, PCR every 50, PES headers
    * every 12th packet of each ES, plus planted CC errors (a skipped
    * counter value on an ES packet) and planted bad-sync records. */
  def capture(seed: Long, index: Int, nPackets: Int)
      : (Array[Byte], Map[String, Any]) = {
    val r = new Random(seed * 1000003L + index)
    val progs = programs(r, 3 + r.nextInt(4), 1 + r.nextInt(3))
    val tsId = r.nextInt(65536)
    val esPids = progs.flatMap(_.es.map(_._2))
    val pat = PsiCodec.encodePat(
      progs.map(p => PatRow(p.number, p.pmtPid)), tsId, 0)
    val sdtSec = sdt(tsId, progs)
    val cc = mutable.Map.empty[Int, Int].withDefaultValue(0)
    val nPkts = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val nPusi = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val nPcr = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val ccErr = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val pes = mutable.Map.empty[Int, (Long, Long, Long)]
    val esIndex = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val records = ArrayBuffer.empty[Array[Byte]]
    def emit(pid: Int, b: Array[Byte], pusi: Boolean, pcr: Boolean): Unit = {
      records += b
      nPkts(pid) += 1
      if (pusi) nPusi(pid) += 1
      if (pcr) nPcr(pid) += 1
    }
    def emitSection(pid: Int, sec: Array[Byte]): Unit =
      sectionPackets(pid, sec, cc(pid)).foreach { b =>
        emit(pid, b, pusi = (b(1) & 0x40) != 0, pcr = false)
        cc(pid) += 1
      }
    // planted CC errors land on ES packets that are not a PID's first
    val plantAt = r.shuffle((200 until nPackets).toList)
      .take(2 + r.nextInt(4)).toSet
    var i = 0
    while (records.length < nPackets) {
      if (i % 100 == 0) {
        emitSection(0, pat)
        progs.foreach(p => emitSection(p.pmtPid, p.pmt(0)))
        if (i % 400 == 0) emitSection(0x11, sdtSec)
      } else if (i % 50 == 25) {
        progs.foreach { p =>
          emit(p.pcrPid, TsCodec.encodePcrOnly(p.pcrPid, (cc(p.pcrPid) - 1)
            & 0xF, 27000000L * 10 + records.length * 1000L),
            pusi = false, pcr = true)
        }
      } else if (i % 37 == 36) {
        emit(TsCodec.NullPid, TsCodec.encodeStuffing(0), pusi = false,
          pcr = false)
      } else {
        val pid = esPids(r.nextInt(esPids.length))
        val k = esIndex(pid)
        esIndex(pid) += 1
        if (plantAt.contains(i) && k > 0) {
          cc(pid) += 1 // skip one counter value: exactly one CC error
          ccErr(pid) += 1
        }
        val pusi = k % 12 == 0
        val payload =
          if (pusi) {
            val pts = 90000L + k / 12 * 3600L
            val (n, lo, hi) = pes.getOrElse(pid, (0L, Long.MaxValue, 0L))
            pes(pid) = (n + 1, math.min(lo, pts), math.max(hi, pts))
            pesPayload(if (pid % 2 == 0) 0xE0 else 0xC0, pts, pid)
          } else Array.fill[Byte](184)((pid + k).toByte)
        emit(pid, esPacket(pid, cc(pid), pusi, payload), pusi, pcr = false)
        cc(pid) += 1
      }
      i += 1
    }
    // bad-sync records between packets: rejected, so they shift no CC
    val rejectAt = r.shuffle((1 until records.length).toList)
      .take(1 + r.nextInt(3)).sorted
    rejectAt.reverse.foreach { at =>
      val bad = TsCodec.encodeStuffing(0)
      bad(0) = 0x11
      records.insert(at, bad)
    }
    val truth = Map(
      "records" -> records.length,
      "rejects" -> rejectAt.length,
      "pids" -> nPkts.keys.toSeq.sorted.map { pid =>
        Map("pid" -> pid, "n_packets" -> nPkts(pid), "n_pusi" -> nPusi(pid),
          "n_pcr" -> nPcr(pid), "cc_errors" -> ccErr(pid))
      },
      "pes" -> pes.keys.toSeq.sorted.map { pid =>
        val (n, lo, hi) = pes(pid)
        Map("pid" -> pid, "n_pes" -> n, "min_pts" -> lo, "max_pts" -> hi)
      },
      "programs" -> progs.map { p =>
        Map("program_number" -> p.number, "reference_pid" -> p.pmtPid,
          "service_name" -> serviceName(p.number), "pcr_pid" -> p.pcrPid,
          "n_es" -> p.es.length)
      })
    (records.flatten.toArray, truth)
  }

  /** Live mux templates: the PAT, SDT, every program's PMT at versions
    * 0..maxVersion and one ES filler packet per ES PID, as 188-byte
    * packets (CC 0; the sender stamps continuity counters). The
    * generator process assembles them into a paced stream. */
  def live(seed: Long, nPrograms: Int, maxVersion: Int)
      : (Array[Byte], Map[String, Any]) = {
    val r = new Random(seed * 7919L + 17)
    // the same number of elementary streams for every seed, so that every
    // seed offers the engine the same PSI volume and document size
    val progs = programs(r, nPrograms, LiveEsPerProgram)
    val tsId = r.nextInt(65536)
    val pkts = ArrayBuffer.empty[Array[Byte]]
    def add(bs: Seq[Array[Byte]]): Seq[Int] = {
      val from = pkts.length
      pkts ++= bs
      from until pkts.length
    }
    val pat = add(sectionPackets(0,
      PsiCodec.encodePat(progs.map(p => PatRow(p.number, p.pmtPid)), tsId, 0),
      0))
    val sdtIdx = add(sectionPackets(0x11, sdt(tsId, progs), 0))
    val pmt = progs.map { p =>
      (0 to maxVersion).map(v => add(sectionPackets(p.pmtPid, p.pmt(v), 0)))
    }
    val es = progs.flatMap(_.es.map(_._2)).map { pid =>
      Seq(pid, add(Seq(esPacket(pid, 0, pusi = false,
        Array.tabulate[Byte](184)(i => (i * 31 + pid).toByte)))).head)
    }
    val manifest = Map(
      "pat" -> pat, "sdt" -> sdtIdx, "pmt" -> pmt, "es" -> es,
      "programs" -> progs.map { p =>
        Map("program_number" -> p.number, "reference_pid" -> p.pmtPid,
          "pcr_pid" -> p.pcrPid, "n_es" -> p.es.length, "pat_version" -> 0)
      },
      // bump k updates program bumpOrder(k % n) to version k / n + 1
      "bump_order" -> r.shuffle(progs.indices.toList))
    (pkts.flatten.toArray, manifest)
  }

  def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString

  /** Writes every TS input of a seed into `dir` and an `inputs.json`
    * listing each file's bytes and sha256. */
  def writeAll(dir: String, seed: Long, nCaptures: Int, capturePackets: Int,
      livePrograms: Int, liveMaxVersion: Int): Unit = {
    Files.createDirectories(Paths.get(dir))
    val files = ArrayBuffer.empty[Map[String, Any]]
    def put(name: String, bytes: Array[Byte], meta: Map[String, Any]): Unit = {
      Files.write(Paths.get(dir, name), bytes)
      Json.writeFile(s"$dir/$name.json", meta)
      files += Map("file" -> name, "bytes" -> bytes.length,
        "sha256" -> sha256(bytes))
    }
    (0 until nCaptures).foreach { i =>
      val (b, truth) = capture(seed, i, capturePackets)
      put(f"capture_$i%03d.ts", b, truth)
    }
    val (lb, lm) = live(seed, livePrograms, liveMaxVersion)
    put("live.tpl", lb, lm)
    Json.writeFile(s"$dir/inputs.json", Map("seed" -> seed, "files" -> files))
  }
}
