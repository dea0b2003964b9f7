package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ts.{PsiCodec, PsiSection, TsPipeline}

/** R3+R4 as a streaming operator (`psi_table_dec.c:59-205`,
  * `psi_proc.c:329-397`): per (pid, tableId, extension), collect sections
  * of one version into positions 0..last_section_number; a section of a
  * *different* version discards the in-flight collection ("parsing new
  * version", `psi_table_dec.c:164`); `current_next=0` sections are
  * skipped (`psi_dec.c:180-185`); a complete table is emitted once per
  * distinct version. R5 keeps the latest complete table per key in an
  * in-memory register ([[composeToRegister]]), from which the live
  * programs document is rendered once per micro-batch. The live query
  * runs its state at one shuffle partition, like the reference's one
  * register: its key space is the PSI PIDs and tables of one mux.
  *
  * A live trigger compiles no code once warm, and starts no process.
  * Spark resolves an encoder afresh wherever it deserializes outside the
  * optimized plan, and a product encoder over a Scala collection then
  * generates different Java source each time (its lambda variables get
  * fresh ids), so it would be compiled again on every micro-batch. Hence
  * the table state ([[Buf]]) is Kryo-encoded, and [[composeToRegister]]
  * reads each batch with one deserializer bound when the query starts.
  * Each trigger writes its offset- and commit-log entries and one
  * `.delta` per state store through [[LocalCheckpointFileManager]]
  * ([[StreamingOps.startWithConfs]]), which forks no `chmod` or
  * `readlink`. */
object TableState {

  case class TableKey(pid: Int, tableId: Int, tableIdExtension: Int)

  case class Buf(version: Int, last: Int,
      sections: Map[Int, Array[Byte]]) {
    /** Every section `0..last` is present (`psi_table_dec.c:183-205`). */
    def complete: Boolean =
      sections.size == last + 1 && (0 to last).forall(sections.contains)
  }

  case class CompleteTable(
      pid: Int, tableId: Int, tableIdExtension: Int, versionNumber: Int,
      sectionBytes: Seq[Array[Byte]])

  /** Pure fold, shared by batch and streaming hosts: a table is emitted
    * on the section that completes its version, and not again for a
    * repeat of a section of that version while it stays complete. */
  def step(buf: Option[Buf], sec: PsiSection)
      : (Option[Buf], Option[CompleteTable]) = {
    if (!sec.crcOk || !sec.currentNext) return (buf, None)
    val b0 = buf match {
      case Some(b) if b.version == sec.versionNumber => b
      case _ => Buf(sec.versionNumber, sec.lastSectionNumber, Map.empty)
    }
    val b1 = b0.copy(sections =
      b0.sections.updated(sec.sectionNumber, sec.bytes))
    val table = Option.when(b1.complete && !b0.complete)(
      CompleteTable(sec.pid, sec.tableId, sec.tableIdExtension, b1.version,
        (0 to b1.last).map(b1.sections)))
    (Some(b1), table)
  }

  /** One published snapshot of the live register: the latest complete
    * table per key, and the programs document rendered from exactly
    * those tables. */
  final case class Register(tables: Map[TableKey, CompleteTable],
      programsDoc: String)

  /** One program of the live document: a PAT entry joined with the PMT
    * that carries its program number, with the version each table
    * currently serves (a version bump must be visible in the document,
    * not just in the state key). PMT fields are empty until that PMT
    * has completed. */
  final case class Program(programNumber: Int, referencePid: Int,
      patVersion: Int, pcrPid: Option[Int], nEs: Option[Long],
      pmtVersion: Option[Int])

  /** R5 streaming — the reference's 1 Hz `compose_pat_and_pmt`
    * (`mpeg2_sp.c:1484-1558`) as a snapshot composer: the register lives
    * in driver memory, like the `psi_thr` register swap. Each micro-batch
    * runs its plan once, as one collect of the newly completed tables,
    * read with the one deserializer bound by column name when the query
    * starts; they fold in arrival order into the previous snapshot's map
    * (so a 31→0 version wrap inside one batch serves 0), the programs
    * document is rendered once, and map and document are published
    * together through `register`. The stream thread is the only writer,
    * so a reader always sees a whole snapshot; `register` stays null
    * until the first table lands.
    *
    * The query starts at one shuffle partition, whatever the session's
    * own count: every stateful operator upstream of `tables` (section
    * and table assembly in the live chain) then runs one task and one
    * state store per micro-batch, not one per session partition. The
    * PSI key space is a few dozen (PID, table) keys, so more partitions
    * only add per-task scheduling and per-store commits to every
    * trigger. [[latestTablesStream]] and [[StreamingOps.sectionsStream]]
    * each coalesce their input to that one partition, so Spark plans no
    * exchange and a trigger is one stage and one task, with no shuffle.
    * Each needs its own coalesce: a `flatMapGroupsWithState` reports no
    * output partitioning, so without the second one Spark would shuffle
    * between the two operators. The session's conf is set only around `start()`
    * ([[StreamingOps.startWithConfs]]) and goes back as found; the query
    * keeps the count for its life and in its checkpoint. */
  def composeToRegister(tables: Dataset[CompleteTable],
      register: AtomicReference[Register]): StreamingQuery = {
    // bound once, by column name against the query's output (`as` adds
    // no projection, so the columns may come in any order, with extras):
    // `batch.collect()` would compile one per micro-batch
    val fromRow = ExpressionEncoder[CompleteTable]()
      .resolveAndBind(tables.queryExecution.analyzed.output)
      .createDeserializer()
    StreamingOps.startWithConfs(tables.sparkSession,
      StreamingOps.PartitionsKey -> "1") {
      tables.writeStream
        .outputMode("append")
        .foreachBatch { (batch: Dataset[CompleteTable], _: Long) =>
          val landed = batch.queryExecution.executedPlan.executeCollect()
            .map(fromRow)
          if (landed.nonEmpty) {
            val prev = Option(register.get).fold(
              Map.empty[TableKey, CompleteTable])(_.tables)
            val next = landed.foldLeft(prev) { (m, t) =>
              m.updated(TableKey(t.pid, t.tableId, t.tableIdExtension), t)
            }
            register.set(Register(next, programsDoc(programs(next))))
          }
          ()
        }
        .start()
    }
  }

  /** PAT entries ⋈ PMT programs over a register's tables, by program
    * number ([[graft.ts.TsPipeline.programsJoin]], a left join: a
    * program whose PMT has not completed keeps its PAT fields only),
    * ordered by program number. */
  def programs(tables: Map[TableKey, CompleteTable]): Seq[Program] = {
    def sections(tableId: Int): Seq[(Int, PsiSection)] = for {
      t <- tables.values.toSeq
        .sortBy(t => (t.pid, t.tableId, t.tableIdExtension))
      if t.tableId == tableId
      b <- t.sectionBytes
      s <- PsiCodec.decodeSection(t.pid, 0, b)
    } yield (t.versionNumber, s)
    TsPipeline.programsJoin(
      for ((v, s) <- sections(0x00); r <- PsiCodec.decodePat(s))
        yield (r, v),
      for ((v, s) <- sections(0x02); p <- PsiCodec.decodePmt(s))
        yield (p, v)
    ).flatMap { case (r, v, pmts) =>
      val pmt = if (pmts.isEmpty) Seq(None) else pmts.map(Some(_))
      pmt.map(m => Program(r.programNumber, r.referencePid, v,
        m.map(_._1.pcrPid), m.map(_._1.es.length.toLong), m.map(_._2)))
    }
  }

  /** The live program_processors document: one JSON object per program,
    * fields in a fixed order, empty fields omitted. */
  def programsDoc(ps: Seq[Program]): String =
    ps.map { p =>
      Seq("program_number" -> Some(p.programNumber),
        "reference_pid" -> Some(p.referencePid),
        "pat_version" -> Some(p.patVersion), "pcr_pid" -> p.pcrPid,
        "n_es" -> p.nEs, "pmt_version" -> p.pmtVersion)
        .collect { case (k, Some(v)) => s""""$k":$v""" }
        .mkString("{", ",", "}")
    }.mkString("[", ",", "]")

  /** The table state of a key that has no version yet: version -1
    * matches no section, so [[step]] starts a fresh [[Buf]] from it. */
  private val NoVersion = Buf(-1, -1, Map.empty)

  def latestTablesStream(secs: Dataset[PsiSection])
      : Dataset[CompleteTable] = {
    import secs.sparkSession.implicits._
    implicit val bufEncoder: Encoder[Buf] = Encoders.kryo[Buf]
    StreamingOps.keyedFold(secs.coalesce(1))(
        s => TableKey(s.pid, s.tableId, s.tableIdExtension), _.firstSeq,
        NoVersion) { (_, buf, sec) =>
      val (next, table) = step(Some(buf), sec)
      (next.get, table)
    }
  }
}
