package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}

import graft.ts.{PsiSection, SectionAssembler, TsCodec, TsPacket}

/** Structured Streaming operators (SURVEY §2.5/§2.13): the same pure
  * per-key state machines as the batch path. The reference's thread/FIFO
  * topology (`mpeg2_sp.c:1303-1482`) collapses into these keyed stateful
  * maps — Spark owns scheduling, backpressure and state storage.
  *
  * Every keyed state machine of the engine has one host,
  * `flatMapGroupsWithState`, on the session's default state store. All
  * but one go through [[keyedFold]]: section assembly (R2) and CC audit
  * (R1) here, table versioning (R3+R4) in [[TableState]], and the
  * replay-only machines of the parity rows in [[TwsOps]].
  * Sessionization (R6, [[sessionize]]) calls `flatMapGroupsWithState`
  * itself, because it closes sessions on event-time timeouts.
  *
  * A stateful operator runs one task, with its own state store, per
  * shuffle partition of its query, and that count is fixed when the
  * query first starts (it is kept in the checkpoint). The operators here
  * take it from whoever starts them. The two streaming starts in
  * `src/main` choose it through [[startWithConfs]]: the live PSI query
  * runs at one partition ([[TableState.composeToRegister]]), a replay at
  * one per 64 rows ([[TwsOps.replay]]).
  *
  * [[sectionsStream]] and [[TableState.latestTablesStream]] coalesce
  * their input to one partition, which meets a one-partition query's
  * stateful clustering: a live trigger plans no exchange, so it is one
  * stage and one task with no shuffle. Both need it, as a
  * `flatMapGroupsWithState` reports no output partitioning. At more
  * partitions Spark plans a 1→N exchange, with the same results.
  *
  * Every trigger writes files under the query's checkpoint: one
  * offset-log entry before the batch, one commit-log entry after it, and
  * one new version per state store (a `.delta` file on the default
  * store), each with its checksum sidecars. [[startWithConfs]] sets
  * [[LocalCheckpointFileManager]] as the checkpoint file manager of both
  * starts, in the same way as the partition count: Spark's default
  * manager starts a `chmod` and a `readlink` process per file on the
  * local file system, which cost the live query more per trigger than
  * its data; this one writes through chmod(2) and `File.renameTo` and
  * starts none.
  */
object StreamingOps {

  private[streaming] val PartitionsKey = "spark.sql.shuffle.partitions"

  private[streaming] val CheckpointManagerKey =
    "spark.sql.streaming.checkpointFileManagerClass"

  /** Starts a streaming query with `confs` and the checkpoint file manager
    * ([[LocalCheckpointFileManager]]) set in `s`: they are set, the plan
    * is built and `start()` is called inside one `try`, and on every exit
    * path each conf goes back to what it was, set or unset. The query
    * keeps them all the same: Spark clones the session, conf included,
    * when it constructs the query, and the stream runs on that clone. A
    * failed start leaves none of them in `s`. */
  private[streaming] def startWithConfs(s: SparkSession,
      extraConfs: (String, String)*)(start: => StreamingQuery)
      : StreamingQuery = {
    val confs = (CheckpointManagerKey ->
      classOf[LocalCheckpointFileManager].getName) +: extraConfs
    val explicitConfs = s.conf.getAll
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      start
    } finally confs.foreach { case (k, _) =>
      explicitConfs.get(k) match {
        case Some(v) => s.conf.set(k, v)
        case None => s.conf.unset(k)
      }
    }
  }

  /** The one host of a keyed state machine: `in` grouped by `key`, each
    * group's rows of a micro-batch sorted by `order` (the machine's
    * arrival order) and folded through the pure `step` from the key's
    * state (`init` for a key not seen before); `end` then runs once on
    * the folded state, for a machine that emits per micro-batch rather
    * than per row. The state is written once per group, and the outputs
    * of all steps are the operator's output, in append mode.
    *
    * The state goes through the implicit `Encoder[S]`. A state that holds
    * a Scala collection must be given a Kryo encoder (`Encoders.kryo`):
    * Spark resolves the state encoder again for every micro-batch, and a
    * product encoder over a collection then generates different Java
    * source each time (fresh lambda-variable ids), so it would compile on
    * every trigger.
    *
    * No group times out here, so a key's function runs only in a
    * micro-batch that has rows for it. [[sessionize]] needs event-time
    * timeouts (its function runs for a key with no rows, to close the
    * session), so it calls `flatMapGroupsWithState` itself. */
  def keyedFold[I, K: Encoder, T: Ordering, S: Encoder, O: Encoder](
      in: Dataset[I])(key: I => K, order: I => T, init: S)(
      step: (K, S, I) => (S, IterableOnce[O]),
      end: (K, S) => (S, IterableOnce[O]) = (_: K, s: S) => (s, Nil))
      : Dataset[O] =
    in.groupByKey(key).flatMapGroupsWithState[S, O](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (k: K, rows: Iterator[I], state: GroupState[S]) =>
        val out = Vector.newBuilder[O]
        val folded = rows.toVector.sortBy(order)
          .foldLeft(state.getOption.getOrElse(init)) { (st, r) =>
            val (next, emitted) = step(k, st, r)
            out ++= emitted
            next
          }
        val (last, tail) = end(k, folded)
        out ++= tail
        state.update(last)
        out.result().iterator
    }

  /** R2 streaming: per-PID section reassembly. Packets must arrive
    * seq-ordered within a micro-batch per key (the source guarantees it;
    * across batches the carried state preserves continuity). */
  def sectionsStream(pkts: Dataset[TsPacket]): Dataset[PsiSection] = {
    import pkts.sparkSession.implicits._
    keyedFold(pkts.coalesce(1))(_.pid, _.seq, SectionAssembler.initialState)(
      (_, st, p) => SectionAssembler.step(st, p))
  }

  /** R1 streaming: per-PID continuity audit carrying the last CC across
    * micro-batches (`ts_dec.c:98-172` policy: log-and-continue). */
  case class CcState(lastCc: Int)
  case class CcError(pid: Int, seq: Long, expected: Int, got: Int)

  def ccAuditStream(pkts: Dataset[TsPacket]): Dataset[CcError] = {
    import pkts.sparkSession.implicits._
    keyedFold(pkts.filter(p => p.hasPayload && p.pid != TsCodec.NullPid))(
        _.pid, _.seq, CcState(-1)) { (pid, st, p) =>
      val want = (st.lastCc + 1) % 16
      (CcState(p.cc), Option.when(st.lastCc >= 0 &&
        !p.af.exists(_.discontinuity) && want != p.cc)(
        CcError(pid, p.seq, want, p.cc)))
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
