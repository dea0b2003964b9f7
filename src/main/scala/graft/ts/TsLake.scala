package graft.ts

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Shared TS relations: one decode + one PSI assembly per session, cached
  * and reused by every ts-family query (the round-1 sweep re-decoded the
  * capture per query), plus a once-per-JVM parquet materialization of the
  * decoded layers that the driver's DuckDB oracle recomputes the queries
  * from — converting the whole TS family from rows-only to hash-checked.
  *
  * The dumps carry ALL decoded sections/entries (every version, with
  * crc/current_next flags and arrival seq), so the oracle SQL re-derives
  * winner-version selection and the PAT/PMT joins independently — it
  * checks the relational semantics (R3/R4, J1/J2), not just the decode.
  */
object TsLake {

  /** Dump location — referenced by the oracle SQL text (SparkEntry reads
    * it per `oracleSql` call, so resetting it regenerates the paths).
    * Verify re-points it under its own outDir so two concurrent Verify
    * runs can never race each other's dumps (the round-7 m12 hazard). */
  @volatile var DumpDir = "/root/repo/target/tsdump"

  private val cache =
    new graft.SessionMemo[(Dataset[TsPacket], Dataset[PsiSection])]({
      case (pk, secs) =>
        pk.unpersist(blocking = false); secs.unpersist(blocking = false)
    })

  def packets(s: SparkSession): Dataset[TsPacket] = rel(s)._1
  def sections(s: SparkSession): Dataset[PsiSection] = rel(s)._2

  private def rel(s: SparkSession) =
    cache(s, "lake") {
      // psiSections reads pk twice (PAT discovery, then assembly) and
      // caches nothing itself: pk is pinned here, once
      val pk = TsPipeline.packets(s).cache()
      val secs = TsPipeline.psiSections(s, pk).cache()
      (pk, secs)
    }

  @volatile private var dumpedTo: String = null

  /** Materialize the decoded relations once per JVM per dump root
    * (Verify calls this before running the query surface). */
  def ensureDumped(s: SparkSession): Unit =
    if (dumpedTo != DumpDir) synchronized {
      if (dumpedTo != DumpDir) { writeDumps(s); dumpedTo = DumpDir }
    }

  private def writeDumps(s: SparkSession): Unit = {
    import s.implicits._
    val pk = packets(s)
    val secs = sections(s)

    def save(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$DumpDir/$name")

    // per-packet decoded header + AF fields, flat comparator-safe columns
    save(pk.toDF().select(
      col("seq"), col("pid"), col("tei"), col("pusi"), col("priority"),
      col("scrambling"),
      col("hasAf").as("has_af"),
      col("hasPayload").as("has_payload"),
      col("cc"),
      col("af.discontinuity").as("af_discontinuity"),
      col("af.randomAccess").as("af_random_access"),
      col("af.pcr").as("pcr"),
      col("af.opcr").as("opcr"),
      col("af.spliceCountdown").as("splice_countdown"),
      length(col("payload")).as("payload_len")), "packets")

    // parsed PES headers (PTS/DTS in 90 kHz ticks) — the ts22 oracle
    // as-of-joins these against the packet dump's PCR timeline
    save(pk.filter(p => p.pusi && p.hasPayload)
      .flatMap { p =>
        PesCodec.parseHeader(p.payload).map(h =>
          (p.seq, p.pid, h.streamId, h.pts, h.dts))
      }.toDF("seq", "pid", "stream_id", "pts", "dts"), "pes_headers")

    // every assembled section (all versions), header fields only
    save(secs.toDF().select(
      col("pid"), col("firstSeq").as("first_seq"),
      col("tableId").as("table_id"),
      col("syntaxIndicator").as("syntax_indicator"),
      col("sectionLength").as("section_length"),
      col("tableIdExtension").as("table_id_extension"),
      col("versionNumber").as("version_number"),
      col("currentNext").as("current_next"),
      col("sectionNumber").as("section_number"),
      col("lastSectionNumber").as("last_section_number"),
      col("crcOk").as("crc_ok")), "sections")

    // per-section decoded PAT entries (all versions — winner picked in SQL)
    save(secs.filter(_.tableId == 0x00)
      .flatMap(sec => PsiCodec.decodePat(sec).map(r =>
        (sec.pid, sec.tableId, sec.tableIdExtension, sec.versionNumber,
          sec.currentNext, sec.sectionNumber, sec.lastSectionNumber,
          sec.firstSeq, sec.crcOk, r.programNumber, r.referencePid)))
      .toDF("pid", "table_id", "table_id_extension", "version_number",
        "current_next", "section_number", "last_section_number",
        "first_seq", "crc_ok", "program_number", "reference_pid"),
      "pat_entries")

    // per-section decoded PMT ES rows (all versions)
    save(secs.filter(_.tableId == 0x02)
      .flatMap { sec =>
        PsiCodec.decodePmt(sec).toSeq.flatMap { p =>
          p.es.map(e =>
            (sec.pid, sec.tableId, sec.tableIdExtension, sec.versionNumber,
              sec.currentNext, sec.sectionNumber, sec.lastSectionNumber,
              sec.firstSeq, sec.crcOk, p.programNumber, p.pcrPid,
              e.streamType, e.elementaryPid))
        }
      }
      .toDF("pid", "table_id", "table_id_extension", "version_number",
        "current_next", "section_number", "last_section_number",
        "first_seq", "crc_ok", "program_number", "pcr_pid", "stream_type",
        "elementary_pid"),
      "pmt_rows")

    // per-section PMT 0x59 subtitling rows (all versions; empty when the
    // mux carries none — schema still lands for the oracle's left join)
    save(secs.filter(_.tableId == 0x02)
      .flatMap { sec =>
        PsiCodec.decodePmt(sec).toSeq.flatMap { p =>
          p.es.flatMap { e =>
            e.descriptors.filter(_.tag == 0x59)
              .flatMap(_.subtitling.getOrElse(Nil))
              .map(t =>
                (sec.pid, sec.tableId, sec.tableIdExtension,
                  sec.versionNumber, sec.currentNext, sec.sectionNumber,
                  sec.lastSectionNumber, sec.firstSeq, sec.crcOk,
                  p.programNumber, e.elementaryPid, t.lang,
                  t.subtitlingType, t.compositionPageId,
                  t.ancillaryPageId))
          }
        }
      }
      .toDF("pid", "table_id", "table_id_extension", "version_number",
        "current_next", "section_number", "last_section_number",
        "first_seq", "crc_ok", "program_number", "elementary_pid",
        "lang", "subtitling_type", "composition_page_id",
        "ancillary_page_id"),
      "pmt_es_subtitling")

    // per-section decoded SDT services (empty on SDT-less muxes — the
    // dump still carries the schema so the oracle's left join nullfills).
    // SDT-actual (0x42) ONLY — `sdtFromLatest` filters the same way, and
    // the ts6/ts10 oracles consume this dump unfiltered; dumping
    // SDT-other (0x46) too would diverge the two sides on any capture
    // that carries other-mux tables
    save(secs.filter(s => s.tableId == 0x42)
      .flatMap(sec => PsiCodec.decodeSdt(sec).map(v =>
        (sec.pid, sec.tableId, sec.tableIdExtension, sec.versionNumber,
          sec.currentNext, sec.sectionNumber, sec.lastSectionNumber,
          sec.firstSeq, sec.crcOk, v.serviceId,
          v.serviceName.getOrElse(""), v.serviceProvider.getOrElse(""),
          v.runningStatus)))
      .toDF("pid", "table_id", "table_id_extension", "version_number",
        "current_next", "section_number", "last_section_number",
        "first_seq", "crc_ok", "service_id", "service_name",
        "service_provider", "running_status"),
      "sdt_rows")

    // per-record disposition log over the planted-corruption capture
    // (ok | bad_sync | bad_af_length) — the ts19 oracle re-aggregates
    // it in SQL
    val (okPk, rej) = TsPipeline.packetsWithRejects(
      s, TsPipeline.ensureCorruptedCapture())
    save(okPk.toDF().select(col("seq"), lit("ok").as("reason"))
      .unionByName(rej.toDF().select(col("seq"), col("reason"))),
      "reject_log")

    // parsed PES headers at PUSI packets
    save(pk.filter(p => p.pusi && p.hasPayload)
      .flatMap(p => PesCodec.parseHeader(p.payload).map(h =>
        (p.pid, h.streamId, h.pts, h.dts)))
      .toDF("pid", "stream_id", "pts", "dts"),
      "pes")

    // the 2-PCR-timeline MPTS fixture, decoded layers only: the ts14
    // oracle re-derives the per-PID-span / max-across-PIDs bitrate math
    // from these (the capture can't exercise it — single program)
    save(graft.operators.TsQueries.mptsPackets(s)
      .select(col("seq"), col("pid"), col("af.pcr").as("pcr")),
      "mpts_packets")
    save(graft.operators.TsQueries.mptsPmt(s)
      .select(col("program_number"), col("pmt_pid"), col("pcr_pid"),
        col("elementary_pid")),
      "mpts_pmt")
    // ts15 re-derives the programs-summary JOIN (PAT⋈PMT⋈SDT with a
    // REAL sdt — the capture only exercises the null-fill branch)
    save(graft.operators.TsQueries.mptsPat(s), "mpts_pat")
    save(graft.operators.TsQueries.mptsSdt(s)
      .select(col("service_id"), col("service_name")),
      "mpts_sdt")
  }
}
