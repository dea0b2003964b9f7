package graft.ts

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch TS pipeline (SURVEY §3.1 re-expressed Spark-first): fixed-width
  * binary source → typed parse → per-PID stateful reassembly → versioned
  * table state → dimension joins → projections.
  *
  * Scale notes (100 TB design):
  *  - the source is `sparkContext.binaryRecords` (FixedLengthBinaryInputFormat,
  *    record length 188) — splittable, so a 100 TB capture fans out across
  *    executors; `seq` comes from partition-local indices combined with
  *    partition offsets (no global zipWithIndex barrier on the data path);
  *  - reassembly shuffles once on PID (8192-way key space) and runs the
  *    same pure state machine per key — at cluster scale this is
  *    `flatMapGroupsWithState`; in batch a seq-sorted `flatMapGroups`;
  *  - PSI tables (PAT/PMT/SDT) are tiny dimensions: the programs summary
  *    collects the winner-version sections once (bounded by the table
  *    count, not the capture length) and joins them on the driver,
  *    exactly like the reference's in-memory register reads
  *    (`mpeg2_sp.c:1120-1235`).
  */
object TsPipeline {

  /** Default fixture: the reference's own 15 029-packet capture
    * (`mpeg2ts/utests/assets/san_diego_200kbps.ts`). */
  val DefaultCapture =
    "/root/reference/mpeg2ts/utests/assets/san_diego_200kbps.ts"

  /** Fails in one line naming `path` when nothing matches it (a glob or
    * a directory may), before any reader plans a job over it; returns
    * `path`. Every capture reader goes through this check. */
  def requireCapture(path: String,
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration()): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val hits = p.getFileSystem(conf).globStatus(p)
    if (hits == null || hits.isEmpty)
      throw new java.io.FileNotFoundException(s"TS capture not found: $path")
    path
  }

  /** The capture's raw 188-byte records, after [[requireCapture]]. */
  def rawRecords(spark: SparkSession, path: String): RDD[Array[Byte]] =
    spark.sparkContext.binaryRecords(
      requireCapture(path, spark.sparkContext.hadoopConfiguration),
      TsCodec.PacketSize)

  /** The capture's 188-byte records with their seq. */
  private def records(spark: SparkSession, path: String)
      : RDD[(Array[Byte], Long)] =
    rawRecords(spark, path).zipWithIndex()

  /** S2: fixed-width 188-byte record scan with a stable per-record seq.
    * zipWithIndex runs one lightweight count job per partition — the
    * records themselves stay distributed. */
  def packets(spark: SparkSession, path: String = DefaultCapture)
      : Dataset[TsPacket] = {
    import spark.implicits._
    records(spark, path)
      .flatMap { case (buf, seq) => TsCodec.decode(buf, seq) }
      .toDS()
  }

  /** One rejected record: seq + failure reason. */
  case class Reject(seq: Long, reason: String)

  /** F1 with the reference's log-and-continue policy
    * (`mpeg2_sp.c:1369-1382`): instead of silently dropping bad frames,
    * split the scan into (decoded packets, rejects-with-reason). The
    * rejects side is a first-class Dataset — count it, sink it to an
    * errors table, alert on it; nothing is lost. */
  def packetsWithRejects(spark: SparkSession,
      path: String = DefaultCapture)
      : (Dataset[TsPacket], Dataset[Reject]) = {
    import spark.implicits._
    val decoded = records(spark, path).map { case (buf, seq) =>
      TsCodec.decode(buf, seq) match {
        case Some(p) => Right(p): Either[Reject, TsPacket]
        case None =>
          val reason =
            if (buf.length != TsCodec.PacketSize) "short_frame"
            else if (buf(0) != TsCodec.SyncByte) "bad_sync"
            else "bad_af_length"
          Left(Reject(seq, reason)): Either[Reject, TsPacket]
      }
    }.cache()
    (decoded.flatMap(_.toOption).toDS(),
      decoded.flatMap(_.left.toOption).toDS())
  }

  /** Deterministically corrupted copy of the reference capture for the
    * ts19 reject-stats oracle: in every run of 97 records, record 13
    * loses its sync byte and record 50 gets an oversize AF length
    * (200 > 183) — the two hard framing errors F1 logs-and-continues
    * past (`mpeg2_sp.c:1369-1382`). Written once per JVM under
    * target/fixtures via temp-file + atomic move, so a concurrent
    * Verify/test JVM never reads a half-written capture. */
  val CorruptedCapture = "target/fixtures/corrupted_capture.ts"

  def ensureCorruptedCapture(): String = synchronized {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val p = Paths.get(CorruptedCapture)
    if (!Files.exists(p)) {
      val bytes = Files.readAllBytes(Paths.get(requireCapture(DefaultCapture)))
      val n = bytes.length / TsCodec.PacketSize
      var i = 0
      while (i < n) {
        val off = i * TsCodec.PacketSize
        (i % 97) match {
          case 13 => bytes(off) = 0x11 // bad_sync
          case 50 => // AF present with afLen 200 > 183: bad_af_length
            bytes(off + 3) = (bytes(off + 3) | 0x20).toByte
            bytes(off + 4) = 0xC8.toByte
          case _ => ()
        }
        i += 1
      }
      Files.createDirectories(p.getParent)
      val tmp = Paths.get(CorruptedCapture + s".tmp${
        java.lang.ProcessHandle.current().pid()}")
      Files.write(tmp, bytes)
      try Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
      }
    }
    CorruptedCapture
  }

  /** R2 as a batch operator: shuffle by PID, sort (pid, seq) within
    * partitions, stream each pid-run through the assembler state machine.
    *
    * Deliberately NOT `groupByKey.flatMapGroups` + in-task sort: that
    * buffers the whole per-PID group in one task's heap, which is fine
    * for PSI PIDs but would OOM an executor if a caller ever routed a
    * hot ES PID (~90% of a mux) through it. Here the ordering comes from
    * Spark's external (spilling) sort and the assembler holds only its
    * ≤4 KiB section buffer, so memory stays constant per task no matter
    * which PIDs arrive — misuse degrades to wasted CPU, not an OOM. */
  def sections(pkts: Dataset[TsPacket]): Dataset[PsiSection] = {
    import pkts.sparkSession.implicits._
    pkts
      .repartition(col("pid"))
      .sortWithinPartitions(col("pid"), col("seq"))
      .mapPartitions { it =>
        val buf = it.buffered
        // lazily chunk the sorted partition into same-pid runs; each
        // run's packets are pulled one at a time by the assembler
        // (Iterator.flatten drains an inner iterator fully before
        // advancing, so run boundaries are respected)
        new Iterator[Iterator[PsiSection]] {
          def hasNext: Boolean = buf.hasNext
          def next(): Iterator[PsiSection] = {
            val pid = buf.head.pid
            val run = new Iterator[TsPacket] {
              def hasNext: Boolean = buf.hasNext && buf.head.pid == pid
              def next(): TsPacket = buf.next()
            }
            SectionAssembler.assemble(pid, run)
          }
        }.flatten
      }
  }

  /** z32 — MULTI-INSTANCE isolation shape: the reference daemon caps
    * 64 concurrent stream-processor instances (`main/stream_procs.c:
    * 53`), each with private PAT/PMT state; here N tagged replays of
    * the capture run through ONE pipeline invocation with the
    * instance id joined into every shuffle key ((inst, pid) assembly
    * runs; inst-offset table keys downstream) — the multi-tenant
    * partitioning a 100-TB deployment actually runs, where "64
    * processes" becomes "64 key-spaces in the same jobs". Instance i
    * starts i packets into the stream, so every instance carries
    * DIFFERENT in-flight assembly state; any state leakage between
    * instances (a run-boundary bug, a shared buffer) corrupts that
    * instance's sections and fails its CRC/version gates — visible as
    * a per-instance PAT/PMT diff in MultiInstanceSpec. Returns
    * sections with pid packed as inst·0x2000 + pid (pids are 13-bit,
    * collision-free), so [[latestTables]]'s (pid, tableId, ext)
    * windows are per-instance for free; callers recover
    * inst = pid >> 13, pid = pid & 0x1FFF. */
  def multiInstanceSections(spark: SparkSession, n: Int)
      : Dataset[PsiSection] = {
    import spark.implicits._
    val pk = packets(spark)
    val patSecs = sections(pk.filter(_.pid == 0))
    val pmtPids = patSecs.flatMap(PsiCodec.decodePat _)
      .filter(_.programNumber != 0).map(_.referencePid)
      .distinct().collect().toSet
    val psiPids = pmtPids + 0 + 0x11
    pk.filter(p => psiPids.contains(p.pid))
      .flatMap(p =>
        (0 until n).iterator.filter(_ <= p.seq).map(i => (i, p)))
      .repartition(col("_1"), col("_2.pid"))
      .sortWithinPartitions(col("_1"), col("_2.pid"), col("_2.seq"))
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[Iterator[PsiSection]] {
          def hasNext: Boolean = buf.hasNext
          def next(): Iterator[PsiSection] = {
            val inst = buf.head._1
            val pid = buf.head._2.pid
            val run = new Iterator[TsPacket] {
              def hasNext: Boolean = buf.hasNext &&
                buf.head._1 == inst && buf.head._2.pid == pid
              def next(): TsPacket = buf.next()._2
            }
            SectionAssembler.assemble(pid, run)
              .map(s => s.copy(pid = (inst << 13) | s.pid))
          }
        }.flatten
      }
  }

  /** F2 + R5/R6 — dynamic PSI routing, batch analog: assemble PID 0
    * first, read the PAT's referenced PIDs (a tiny dimension — the one
    * legitimate driver-side collect), then assemble {PAT, SDT, PMT PIDs}.
    * This replaces the reference's launch-processor-on-new-PID machinery
    * (`mpeg2_sp.c:1560-1603`) with a second distributed pass.
    *
    * Both passes read `pkts`, and nothing is cached here: a caller whose
    * packets are costly to recompute pins them itself (`TsLake` caches
    * the decoded scan; `packetsWithRejects` caches its decoded RDD). */
  def psiSections(spark: SparkSession, pkts: Dataset[TsPacket])
      : Dataset[PsiSection] = {
    import spark.implicits._
    val patSecs = sections(pkts.filter(_.pid == 0))
    val pmtPids = patSecs
      .flatMap(PsiCodec.decodePat _)
      .filter(_.programNumber != 0) // F9: network PID is not a PMT
      .map(_.referencePid)
      .mapPartitions(_.distinct) // no shuffle for a handful of PIDs
      .collect()
      .toSet
    val psiPids = pmtPids + 0 + 0x11 // PAT + DVB-SDT + discovered PMTs
    sections(pkts.filter(p => psiPids.contains(p.pid)))
  }

  /** R3+R4: keep each (pid, tableId, ext) at its latest complete
    * version — current_next-gated, CRC-valid sections only; a table is
    * complete when all sectionNumbers 0..last are present
    * (`psi_table_dec.c:183-205`). Returns one row per section of the
    * winning version. */
  def latestTables(secs: Dataset[PsiSection]): DataFrame = {
    val s = secs.toDF()
      .filter(col("crcOk") && col("currentNext"))
    // latest version per table key, by arrival order of its last section
    val agg = s.groupBy("pid", "tableId", "tableIdExtension",
        "versionNumber", "lastSectionNumber")
      .agg(
        countDistinct(col("sectionNumber")).as("n_sections"),
        max(col("firstSeq")).as("last_arrival"))
      .filter(col("n_sections") === col("lastSectionNumber") + 1)
    val w = Window.partitionBy("pid", "tableId", "tableIdExtension")
      .orderBy(col("last_arrival").desc, col("versionNumber").desc)
    val winner = agg
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("pid", "tableId", "tableIdExtension", "versionNumber")
    // one row per distinct (sectionNumber) of the winning version
    s.join(broadcast(winner),
        Seq("pid", "tableId", "tableIdExtension", "versionNumber"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("pid", "tableId", "tableIdExtension",
          "versionNumber", "sectionNumber").orderBy(col("firstSeq").desc)))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  import org.apache.spark.sql.Encoders

  /** Current PAT as a dimension DataFrame(program_number, reference_pid).
    */
  def patTable(spark: SparkSession, secs: Dataset[PsiSection]): DataFrame =
    patFromLatest(spark, latestTables(secs))

  /** Same, over a precomputed (typically session-cached) winner-version
    * relation. */
  def patFromLatest(spark: SparkSession, latest: DataFrame): DataFrame = {
    import spark.implicits._
    latest
      .filter(col("tableId") === 0x00)
      .as[PsiSection](Encoders.product[PsiSection])
      .flatMap(PsiCodec.decodePat _)
      .toDF("program_number", "reference_pid")
  }

  /** Current PMTs: one row per (program, ES). */
  def pmtTable(spark: SparkSession, secs: Dataset[PsiSection]): DataFrame =
    pmtFromLatest(spark, latestTables(secs))

  def pmtFromLatest(spark: SparkSession, latest: DataFrame): DataFrame = {
    import spark.implicits._
    latest
      .filter(col("tableId") === 0x02)
      .as[PsiSection](Encoders.product[PsiSection])
      .flatMap { sec =>
        PsiCodec.decodePmt(sec).toSeq.flatMap { p =>
          p.es.map(e =>
            (p.programNumber, sec.pid, p.pcrPid, e.streamType,
              e.elementaryPid))
        }
      }
      .toDF("program_number", "pmt_pid", "pcr_pid", "stream_type",
        "elementary_pid")
  }

  /** Current-PMT DVB-subtitling rows (0x59 descriptors exploded to one
    * row per (ES, language) — `es_proc.js` dvb_subt services,
    * `psi_desc.c:251-392`). */
  def pmtSubtitling(spark: SparkSession, secs: Dataset[PsiSection])
      : DataFrame =
    pmtSubtitlingFromLatest(spark, latestTables(secs))

  def pmtSubtitlingFromLatest(spark: SparkSession, latest: DataFrame)
      : DataFrame = {
    import spark.implicits._
    latest
      .filter(col("tableId") === 0x02)
      .as[PsiSection](Encoders.product[PsiSection])
      .flatMap { sec =>
        PsiCodec.decodePmt(sec).toSeq.flatMap { p =>
          p.es.flatMap { e =>
            e.descriptors.filter(_.tag == 0x59)
              .flatMap(_.subtitling.getOrElse(Nil))
              .map(t => (p.programNumber, e.elementaryPid, t.lang,
                t.subtitlingType, t.compositionPageId, t.ancillaryPageId))
          }
        }
      }
      .toDF("program_number", "elementary_pid", "lang",
        "subtitling_type", "composition_page_id", "ancillary_page_id")
  }

  /** Current SDT services. */
  def sdtTable(spark: SparkSession, secs: Dataset[PsiSection]): DataFrame =
    sdtFromLatest(spark, latestTables(secs))

  def sdtFromLatest(spark: SparkSession, latest: DataFrame): DataFrame = {
    import spark.implicits._
    latest
      .filter(col("tableId") === 0x42)
      .as[PsiSection](Encoders.product[PsiSection])
      .flatMap(PsiCodec.decodeSdt _)
      .toDF()
      .withColumnRenamed("serviceId", "service_id")
      .withColumnRenamed("serviceName", "service_name")
      .withColumnRenamed("serviceProvider", "service_provider")
      .withColumnRenamed("runningStatus", "running_status")
  }

  /** J3+J4 — the programs summary projection (`mpeg2_sp.c:1120-1235`):
    * PAT programs (program 0 = network PID excluded, F9) left-joined to
    * SDT service names (missing → ""), ES count from PMT. */
  def programsSummary(spark: SparkSession, pkts: Dataset[TsPacket])
      : DataFrame =
    programsSummaryFrom(spark, psiSections(spark, pkts))

  /** The summary's columns, in [[programsSummaryFromTables]]' order,
    * names, types and nullability. */
  val ProgramsSummarySchema: StructType = StructType(Seq(
    StructField("program_number", IntegerType, nullable = false),
    StructField("reference_pid", IntegerType, nullable = false),
    StructField("service_name", StringType, nullable = false),
    StructField("pcr_pid", IntegerType, nullable = true),
    StructField("n_es", LongType, nullable = false)))

  /** [[latestTables]]' rows, picked on the driver from one `collect()`
    * with no shuffle: each partition keeps, per (pid, tableId,
    * extension, version, lastSectionNumber, sectionNumber), the section
    * that arrived last ([[lastArrivals]]), so the driver receives at most
    * one section per such cell and partition, however long the capture.
    * That reduction loses nothing [[latestTables]]' rule reads: a group's
    * distinct section count, its last arrival and each section's latest
    * copy all survive it. The driver then applies the same rule. */
  def latestSections(secs: Dataset[PsiSection]): Seq[PsiSection] = {
    val cells = lastArrivals(secs.rdd.mapPartitions(lastArrivals).collect()
      .iterator).toSeq
    // complete groups: every section number 0..last present; per table
    // the winner is the latest last arrival, then the higher version
    val winners = cells
      .groupBy(s => (s.pid, s.tableId, s.tableIdExtension, s.versionNumber,
        s.lastSectionNumber))
      .toSeq.collect { case (g, ss) if ss.length == g._5 + 1 =>
        (g._1, g._2, g._3) -> (ss.map(_.firstSeq).max, g._4)
      }
      .groupMapReduce(_._1)(_._2)(Ordering[(Long, Int)].max)
      .map { case ((pid, tid, ext), (_, version)) => (pid, tid, ext, version) }
      .toSet
    cells.filter(s => winners((s.pid, s.tableId, s.tableIdExtension,
        s.versionNumber)))
      .groupMapReduce(s => (s.pid, s.tableId, s.tableIdExtension,
        s.versionNumber, s.sectionNumber))(identity)(
        (a, b) => if (b.firstSeq > a.firstSeq) b else a)
      .values.toSeq
  }

  /** The current, CRC-valid sections, one per (pid, tableId, extension,
    * version, lastSectionNumber, sectionNumber): the one with the largest
    * `firstSeq`. */
  private def lastArrivals(it: Iterator[PsiSection]): Iterator[PsiSection] =
    it.filter(s => s.crcOk && s.currentNext)
      .foldLeft(Map.empty[(Int, Int, Int, Int, Int, Int), PsiSection]) {
        (m, s) =>
          val k = (s.pid, s.tableId, s.tableIdExtension, s.versionNumber,
            s.lastSectionNumber, s.sectionNumber)
          if (m.get(k).exists(_.firstSeq >= s.firstSeq)) m else m.updated(k, s)
      }.valuesIterator

  /** Same projection over an already-assembled sections relation, run
    * at call time: [[latestSections]] collects the winner-version
    * sections once; PAT, PMT and SDT are decoded on the driver and joined
    * by [[programsJoin]]. Returns a local DataFrame with the same rows
    * and schema as [[programsSummaryFromTables]], ordered by program
    * number; sections are read in (pid, tableId, extension, section)
    * order, so a program's PCR PID is picked deterministically. */
  def programsSummaryFrom(spark: SparkSession, secs: Dataset[PsiSection])
      : DataFrame = {
    import scala.jdk.CollectionConverters._
    val latest = latestSections(secs)
      .sortBy(s => (s.pid, s.tableId, s.tableIdExtension, s.sectionNumber))
    val names = latest.filter(_.tableId == 0x42).flatMap(PsiCodec.decodeSdt)
      .groupMap(_.serviceId)(_.serviceName).withDefaultValue(Seq(None))
    val rows = programsJoin(
      latest.flatMap(s => PsiCodec.decodePat(s).map(_ -> ())),
      latest.flatMap(s => PsiCodec.decodePmt(s).map(_ -> ()))
    ).flatMap { case (r, _, pmts) =>
      // the DataFrame join groups PMT *ES rows*: a PMT with no ES
      // contributes neither a PCR PID nor a count
      val withEs = pmts.map(_._1).filter(_.es.nonEmpty)
      val pcr = withEs.headOption.map(p => Int.box(p.pcrPid)).orNull
      val nEs = withEs.map(_.es.length.toLong).sum
      names(r.programNumber).map(n =>
        Row(r.programNumber, r.referencePid, n.getOrElse(""), pcr, nEs))
    }
    spark.createDataFrame(rows.asJava, ProgramsSummarySchema)
  }

  /** PAT ⋈ PMT by program number, the one join behind the batch
    * programs summary and the live programs document
    * (`TableState.programs`): every PAT entry but the network PID (F9),
    * with the PMTs carrying its program number in input order (empty
    * when none has completed), ordered by program number. Each side
    * carries a caller's tag, such as the version of its table. */
  def programsJoin[A, B](pat: Seq[(PatRow, A)], pmts: Seq[(PmtProgram, B)])
      : Seq[(PatRow, A, Seq[(PmtProgram, B)])] = {
    val byProgram = pmts.groupBy(_._1.programNumber)
    pat.filter(_._1.programNumber != 0).sortBy(_._1.programNumber)
      .map { case (r, a) =>
        (r, a, byProgram.getOrElse(r.programNumber, Nil))
      }
  }

  /** The summary join itself, over precomputed (typically
    * session-cached) PAT/PMT/SDT dimension tables. */
  def programsSummaryFromTables(patT: DataFrame, pmtT: DataFrame,
      sdtT: DataFrame): DataFrame = {
    val pat = patT.filter(col("program_number") =!= 0)
    val pmt = pmtT
      .groupBy("program_number")
      .agg(
        first(col("pcr_pid")).as("pcr_pid"),
        count(lit(1)).as("n_es"))
    val sdt = sdtT.select(col("service_id"), col("service_name"))
    pat
      .join(broadcast(sdt),
        col("program_number") === col("service_id"), "left")
      .join(broadcast(pmt), Seq("program_number"), "left")
      .select(
        col("program_number"),
        col("reference_pid"),
        coalesce(col("service_name"), lit("")).as("service_name"),
        col("pcr_pid"),
        coalesce(col("n_es"), lit(0L)).as("n_es"))
  }

  /** R1 — continuity-counter audit (`ts_dec.c:98-172`): per PID, CC must
    * advance +1 mod 16 on payload packets; duplicates (same CC, no
    * payload-advance) and explicit AF discontinuity flags are legal. */
  def ccAudit(pkts: Dataset[TsPacket]): DataFrame = {
    val df = pkts.toDF()
      .filter(col("pid") =!= TsCodec.NullPid && col("hasPayload"))
    val w = Window.partitionBy("pid").orderBy("seq")
    df.select(col("pid"), col("seq"), col("cc"),
        col("af.discontinuity").as("disc"))
      .withColumn("prev_cc", lag(col("cc"), 1).over(w))
      .withColumn("cc_error",
        col("prev_cc").isNotNull &&
          !coalesce(col("disc"), lit(false)) &&
          ((col("prev_cc") + 1) % 16) =!= col("cc"))
      .groupBy("pid")
      .agg(
        count(lit(1)).as("n_packets"),
        sum(col("cc_error").cast("long")).as("cc_errors"))
  }

  /** ES layer — PES timestamp statistics (`es_proc.js:87-108`
    * time_stamp_stats): parse PES headers at PUSI packets on ES PIDs,
    * report per-PID PES counts and PTS range/span in 90 kHz ticks. */
  def pesTimestampStats(pkts: Dataset[TsPacket]): DataFrame = {
    import pkts.sparkSession.implicits._
    pkts
      .filter(p => p.pusi && p.hasPayload)
      .flatMap { p =>
        PesCodec.parseHeader(p.payload).map { h =>
          (p.pid, h.streamId, h.pts, h.dts)
        }
      }
      .toDF("pid", "stream_id", "pts", "dts")
      .groupBy("pid")
      .agg(
        count(lit(1)).as("n_pes"),
        min(col("pts")).as("min_pts"),
        max(col("pts")).as("max_pts"),
        ((max(col("pts")) - min(col("pts"))).cast("double") / 90000.0)
          .as("pts_span_sec"),
        sum(col("dts").isNotNull.cast("long")).as("n_with_dts"))
  }

  /** A1 analog — per-PID byte/bitrate accounting over PCR time when
    * available, else packet counts (`mpeg2_sp.c:913-916`). */
  def pidStats(pkts: Dataset[TsPacket]): DataFrame =
    pkts.toDF()
      .groupBy("pid")
      .agg(
        count(lit(1)).as("n_packets"),
        (count(lit(1)) * TsCodec.PacketSize).as("bytes"),
        sum(col("pusi").cast("long")).as("n_pusi"),
        sum(col("af.pcr").isNotNull.cast("long")).as("n_pcr"))
}
