package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ts.{PsiSection, SectionAssembler, TsCodec, TsPacket}

/** Structured Streaming operators (SURVEY §2.5/§2.13): the same pure
  * per-key state machines as the batch path. The reference's thread/FIFO
  * topology (`mpeg2_sp.c:1303-1482`) collapses into these keyed stateful
  * maps — Spark owns scheduling, backpressure and state storage.
  *
  * This is the one streaming host of section assembly (R2), CC audit
  * (R1) and sessionization (R6), as [[TableState.latestTablesStream]] is
  * of table versioning (R3+R4): `flatMapGroupsWithState`, which runs on
  * the session's default state store (HDFS-backed locally, RocksDB at
  * cluster scale if configured), so the live chain needs no provider
  * switch. The replay-only machines of the parity rows live in
  * [[TwsOps]] on `transformWithState`, the only place that switches the
  * session to the RocksDB store.
  */
object StreamingOps {

  /** R2 streaming: per-PID section reassembly. Packets must arrive
    * seq-ordered within a micro-batch per key (the source guarantees it;
    * across batches the carried state preserves continuity). */
  def sectionsStream(pkts: Dataset[TsPacket]): Dataset[PsiSection] = {
    import pkts.sparkSession.implicits._
    pkts
      .groupByKey(_.pid)
      .flatMapGroupsWithState[SectionAssembler.State, PsiSection](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (pid: Int, it: Iterator[TsPacket],
         state: GroupState[SectionAssembler.State]) =>
          var st = state.getOption.getOrElse(SectionAssembler.initialState)
          val out = Vector.newBuilder[PsiSection]
          it.toArray.sortBy(_.seq).foreach { p =>
            val (next, emitted) = SectionAssembler.step(st, p)
            st = next
            out ++= emitted
          }
          state.update(st) // must happen before the iterator is consumed
          out.result().iterator
      }
  }

  /** R1 streaming: per-PID continuity audit carrying the last CC across
    * micro-batches (`ts_dec.c:98-172` policy: log-and-continue). */
  case class CcState(lastCc: Int)
  case class CcError(pid: Int, seq: Long, expected: Int, got: Int)

  def ccAuditStream(pkts: Dataset[TsPacket]): Dataset[CcError] = {
    import pkts.sparkSession.implicits._
    pkts
      .filter(p => p.hasPayload && p.pid != TsCodec.NullPid)
      .groupByKey(_.pid)
      .flatMapGroupsWithState[CcState, CcError](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (pid: Int, it: Iterator[TsPacket], state: GroupState[CcState]) =>
          var last = state.getOption.map(_.lastCc).getOrElse(-1)
          val out = Vector.newBuilder[CcError]
          it.toArray.sortBy(_.seq).foreach { p =>
            val disc = p.af.exists(_.discontinuity)
            if (last >= 0 && !disc && ((last + 1) % 16) != p.cc)
              out += CcError(pid, p.seq, (last + 1) % 16, p.cc)
            last = p.cc
          }
          state.update(CcState(last))
          out.result().iterator
      }
  }

  /** R6 — keyed state with TTL (the reference's
    * `flag_purge_disassociated_processors` lifecycle, `mpeg2_sp.c:125-131`,
    * re-expressed as `GroupStateTimeout`): event-time sessionization that
    * closes a key's session when the watermark passes lastSeen + gap. */
  case class SessionState(startMicros: Long, lastMicros: Long, n: Int)
  case class ClosedSession(userId: Long, startMicros: Long,
      endMicros: Long, nEvents: Int)

  def sessionize(events: org.apache.spark.sql.DataFrame,
      gapMs: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .selectExpr("user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[SessionState]) =>
          if (it.isEmpty && state.hasTimedOut) {
            // watermark passed lastSeen+gap: close and purge (the
            // "disassociated processor" leaving the registry)
            val s = state.get
            state.remove()
            Iterator.single(
              ClosedSession(userId, s.startMicros, s.lastMicros, s.n))
          } else {
            val times = it.map(_._2.getTime * 1000L).toArray.sorted
            if (times.nonEmpty) {
              val prev = state.getOption
              val st = prev match {
                case Some(s) => SessionState(s.startMicros,
                  math.max(s.lastMicros, times.last), s.n + times.length)
                case None =>
                  SessionState(times.head, times.last, times.length)
              }
              state.update(st)
              state.setTimeoutTimestamp(
                st.lastMicros / 1000L + gapMs)
            }
            Iterator.empty
          }
      }
  }

  /** A1 — per-stream bitrate over 1 s event-time tumbling windows with
    * watermarking for state cleanup (the reference is processing-time
    * only; watermark keeps the policy "late data logged, state bounded").
    */
  def bitrateWindows(pktsWithTs: DataFrame): DataFrame =
    pktsWithTs
      .withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "1 second"), col("pid"))
      .agg((count(lit(1)) * TsCodec.PacketSize * 8).as("bits"))
      .select(
        col("window.start").as("second"),
        col("pid"),
        col("bits"))

  /** A3/A4 — 60 s sliding window (1 s slide) rate stats, the stats-module
    * ring buffer semantics (`stats/src/stats.c:418-461`). */
  def slidingRate(pktsWithTs: DataFrame): DataFrame =
    pktsWithTs
      .withWatermark("ts", "2 minutes")
      .groupBy(window(col("ts"), "60 seconds", "1 second"), col("pid"))
      .agg((count(lit(1)) * TsCodec.PacketSize * 8 / 60).as("bps_avg"))
      .select(col("window.start").as("window_start"), col("pid"),
        col("bps_avg"))

  /** W8 streaming: NATIVE session-window aggregation — the engine-merged
    * analog of [[sessionize]] (hand-rolled timer state) and of the batch
    * gaps-and-islands query (`Relational.w8SessionAgg`): events within a
    * 30-min gap of each other merge into one session per user; the
    * watermark closes sessions and evicts their state. Emitted
    * `session_end` is the session-window close (last event + gap), per
    * the session_window contract. Input columns: (user_id, ts, value). */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("session_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("session_value"))

  /** R4 streaming dedup — duplicate-section suppression by content key
    * with watermark-bounded state (the reference's change-detect compare
    * `psi_table.c:74-105`: identical re-broadcast sections must not
    * re-trigger downstream work; the watermark bounds how long each key
    * is remembered, the streaming analog of the register swap). */
  def dedupSections(secsWithTs: DataFrame): DataFrame =
    secsWithTs
      .withWatermark("ts", "1 minute")
      .dropDuplicatesWithinWatermark(
        "pid", "tableId", "versionNumber", "sectionNumber")

  /** Training-corpus continuous ingest (extension t1 as a stream):
    * exact dedup of a document stream by CONTENT hash with
    * watermark-bounded state — the first arrival of each content wins,
    * re-ingested copies inside the watermark horizon are suppressed,
    * and the dedup state never outgrows the horizon (the same bounded-
    * state posture as `dedupSections`). The shuffle carries the 16-byte
    * hash, never the text. Input columns: (doc_id, text, ts). */
  def dedupDocsStream(docsWithTs: DataFrame): DataFrame =
    docsWithTs
      .withColumn("text_hash", md5(col("text").cast("binary")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("text_hash")

  /** §2.13 stream-stream INTERVAL join with both sides watermarked —
    * the R5 composition (program announcements from the PAT joined to
    * section arrivals on that PID, `mpeg2_sp.c:1484-1558`) as two LIVE
    * streams: a section matches an announcement on the same PID only
    * within [ann_ts, ann_ts + 5 s] (the reference's 1 s PSI refresh
    * tolerance, widened). The time bound + watermarks are what let
    * Spark EXPIRE join state — without them a stream-stream join
    * buffers both sides forever, the exact unbounded-registry hazard
    * the reference's disassociation logic exists to contain.
    * Inputs: announcements (pid, ts), sections (pid, ts, version). */
  def announceSectionJoin(ann: DataFrame, sect: DataFrame): DataFrame = {
    val a = ann.select(col("pid"), col("ts").as("ann_ts"))
      .withWatermark("ann_ts", "10 seconds")
    val s = sect
      .select(col("pid").as("s_pid"), col("ts").as("sec_ts"),
        col("version"))
      .withWatermark("sec_ts", "10 seconds")
    a.join(s,
        col("pid") === col("s_pid") &&
          col("sec_ts") >= col("ann_ts") &&
          col("sec_ts") <= col("ann_ts") + expr("INTERVAL 5 SECONDS"))
      .select(col("pid"), col("ann_ts"), col("sec_ts"), col("version"))
  }

  /** §4 profiling hooks → `observe()`: the reference's distr-loop probe
    * (mean ns/packet per 10 000-packet batch, `mpeg2_sp.c:1385-1418`)
    * becomes streaming metrics riding the query itself — no second pass,
    * read per micro-batch from `StreamingQueryProgress.observedMetrics`
    * or `df.collectResult` in batch. */
  def observedPacketStats(pkts: DataFrame): DataFrame =
    pkts.observe("packet_stats",
      count(lit(1)).as("n_packets"),
      sum(when(col("pid") === TsCodec.NullPid, 1L).otherwise(0L))
        .as("n_null"),
      approx_count_distinct(col("pid")).as("n_pids"))
}
