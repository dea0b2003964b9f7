package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ts.{PsiCodec, PsiSection}

/** R3+R4 as a streaming operator (`psi_table_dec.c:59-205`,
  * `psi_proc.c:329-397`): per (pid, tableId, extension), collect sections
  * of one version into positions 0..last_section_number; a section of a
  * *different* version discards the in-flight collection ("parsing new
  * version", `psi_table_dec.c:164`); `current_next=0` sections are
  * skipped (`psi_dec.c:180-185`); a complete table is emitted once per
  * distinct version. R5 keeps the latest complete table per key in an
  * in-memory register ([[composeToRegister]]), from which the live
  * programs document is rendered once per micro-batch. */
object TableState {

  case class TableKey(pid: Int, tableId: Int, tableIdExtension: Int)

  case class Buf(version: Int, last: Int,
      sections: Map[Int, Array[Byte]])

  case class CompleteTable(
      pid: Int, tableId: Int, tableIdExtension: Int, versionNumber: Int,
      sectionBytes: Seq[Array[Byte]])

  /** Pure fold, shared by batch and streaming hosts. */
  def step(buf: Option[Buf], sec: PsiSection)
      : (Option[Buf], Option[CompleteTable]) = {
    if (!sec.crcOk || !sec.currentNext) return (buf, None)
    val b0 = buf match {
      case Some(b) if b.version == sec.versionNumber => b
      case _ => Buf(sec.versionNumber, sec.lastSectionNumber, Map.empty)
    }
    val b1 = b0.copy(sections =
      b0.sections.updated(sec.sectionNumber, sec.bytes))
    if (b1.sections.size == b1.last + 1 &&
      (0 to b1.last).forall(b1.sections.contains)) {
      val table = CompleteTable(sec.pid, sec.tableId,
        sec.tableIdExtension, b1.version,
        (0 to b1.last).map(b1.sections))
      // keep the buffer: duplicates of the same version won't re-emit
      // because we only emit on the transition to complete
      (Some(b1.copy(sections = b1.sections)), Some(table))
    } else (Some(b1), None)
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
    * runs its plan once, as one `collect()` of the newly completed
    * tables; they fold in arrival order into the previous snapshot's map
    * (so a 31→0 version wrap inside one batch serves 0), the programs
    * document is rendered once, and map and document are published
    * together through `register`. The stream thread is the only writer,
    * so a reader always sees a whole snapshot; `register` stays null
    * until the first table lands. */
  def composeToRegister(tables: Dataset[CompleteTable],
      register: AtomicReference[Register])
      : org.apache.spark.sql.streaming.StreamingQuery =
    tables.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[CompleteTable], _: Long) =>
        val landed = batch.collect()
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

  /** PAT entries ⋈ PMT programs over a register's tables, by program
    * number (left join: a program whose PMT has not completed keeps its
    * PAT fields only), ordered by program number. */
  def programs(tables: Map[TableKey, CompleteTable]): Seq[Program] = {
    def sections(tableId: Int): Seq[(Int, PsiSection)] = for {
      t <- tables.values.toSeq
        .sortBy(t => (t.pid, t.tableId, t.tableIdExtension))
      if t.tableId == tableId
      b <- t.sectionBytes
      s <- PsiCodec.decodeSection(t.pid, 0, b)
    } yield (t.versionNumber, s)
    val pmts = (for {
      (v, s) <- sections(0x02)
      p <- PsiCodec.decodePmt(s)
    } yield p.programNumber -> (p.pcrPid, p.es.length.toLong, v))
      .groupMap(_._1)(_._2)
    (for {
      (v, s) <- sections(0x00)
      r <- PsiCodec.decodePat(s) if r.programNumber != 0
      pmt <- pmts.get(r.programNumber)
        .fold(Seq(Option.empty[(Int, Long, Int)]))(_.map(Some(_)))
    } yield Program(r.programNumber, r.referencePid, v, pmt.map(_._1),
      pmt.map(_._2), pmt.map(_._3))).sortBy(_.programNumber)
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

  def latestTablesStream(secs: Dataset[PsiSection])
      : Dataset[CompleteTable] = {
    import secs.sparkSession.implicits._
    secs
      .groupByKey(s => TableKey(s.pid, s.tableId, s.tableIdExtension))
      .flatMapGroupsWithState[Buf, CompleteTable](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: TableKey, it: Iterator[PsiSection], state: GroupState[Buf]) =>
          var buf = state.getOption
          var emittedVersions = Set.empty[Int]
          val out = Vector.newBuilder[CompleteTable]
          it.toArray.sortBy(_.firstSeq).foreach { sec =>
            val wasComplete = buf.exists(b =>
              b.version == sec.versionNumber &&
                b.sections.size == b.last + 1)
            val (next, emitted) = step(buf, sec)
            buf = next
            emitted.foreach { t =>
              if (!wasComplete && !emittedVersions.contains(t.versionNumber)) {
                out += t
                emittedVersions += t.versionNumber
              }
            }
          }
          buf.foreach(state.update)
          out.result().iterator
      }
  }
}
