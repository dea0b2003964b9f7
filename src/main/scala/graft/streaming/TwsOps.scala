package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders,
  SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import StreamingOps.keyedFold

/** The replay-only keyed state machines of the stream ≡ batch parity
  * rows, and the one harness that replays a lake through them.
  *
  * Each machine (near-dup buckets, packing, funnel, retention,
  * interpolation, CDC, SCD2, attribution, intervals, EWMA, Page–Hinkley,
  * median, CAS and chunk-store ingest) is a pure step folded by
  * [[StreamingOps.keyedFold]], the host of the live chain's machines
  * too, and runs on the session's default state store. A machine's
  * state is one value per key; one that holds a Scala collection is
  * Kryo-encoded, as the helper requires. */
object TwsOps {

  /** The one MemoryStream replay behind every parity row: `rows`, already
    * in replay order, go through `op` as `batches` equal micro-batches
    * (the last one may be short), then `tail` as one more micro-batch
    * (interp's EOF flush); returns every row the memory sink received.
    *
    * The query runs at `max(1, min(prior, rows/64))` shuffle partitions,
    * set in the session only around its start
    * ([[StreamingOps.startWithConfs]], which puts the conf back as found
    * on every exit path). Every micro-batch runs one stateful task per
    * shuffle partition, each opening its own state store, so a 60-chunk
    * replay at 32 partitions paid 32 store opens per micro-batch (m13b at
    * sf0.1: ~8.7 s → ~2 s once sized to the data). Emissions are per key,
    * so partitioning changes where rows are emitted, never which. On
    * every exit path the query stops and its sink view is dropped.
    *
    * MemoryStream is driver-fed by design, so the input collect is
    * replay plumbing bounded to the Verify SF; the operator under test
    * (keyed state inside the stream) stays distributed. */
  private[streaming] def replay[I: Encoder, O: Encoder](s: SparkSession,
      rows: Seq[I], batches: Int, tail: Seq[I] = Seq.empty)(
      op: Dataset[I] => Dataset[O]): Seq[O] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[I]
    val name = s"replay_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"
    val parts = math.max(1L, math.min(
      s.conf.get(StreamingOps.PartitionsKey).toLong, rows.length / 64L))
    var q: StreamingQuery = null
    try {
      q = StreamingOps.startWithConfs(s,
        StreamingOps.PartitionsKey -> parts.toString) {
        op(mem.toDS()).writeStream.format("memory").queryName(name)
          .outputMode("append").start()
      }
      (rows.grouped(math.max(1, rows.length / batches)) ++
          Iterator(tail).filter(_.nonEmpty))
        .foreach { g => mem.addData(g: _*); q.processAllAvailable() }
      s.table(name).as[O].collect().toSeq
    } finally {
      if (q != null) q.stop()
      s.catalog.dropTempView(name)
    }
  }

  private val DayUs = 86400000000L

  /** A documents dir as doc_id-ordered (doc_id, text). */
  private def docsOf(s: SparkSession, d: String): Seq[(Long, String)] = {
    import s.implicits._
    graft.Tables.documents(s, d).select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
  }

  /** [[docsOf]] with each doc stamped at a fixed epoch + doc_id ms, the
    * event time the watermarked document streams need. */
  private def stampedDocsOf(s: SparkSession, d: String)
      : Seq[(Long, String, java.sql.Timestamp)] =
    docsOf(s, d).map { case (id, t) =>
      (id, t, new java.sql.Timestamp(1704067200000L + id)) }

  /** The events dir's per-(event_type, day) revenue in cents, day-ordered
    * — the input of the EWMA and Page–Hinkley replays. */
  private def dailyRevenueOf(s: SparkSession, d: String)
      : Seq[(String, Long, Long)] = {
    import s.implicits._
    graft.Tables.events(s, d)
      .selectExpr("event_type", "unix_micros(ts) div 86400000000 as day",
        "cast(floor(value * 100 + 0.5) as bigint) as cents")
      .groupBy("event_type", "day")
      .agg(org.apache.spark.sql.functions.sum("cents").as("x"))
      .as[(String, Long, Long)]
      .collect().sortBy(e => (e._2, e._1)).toSeq
  }

  /** Streaming NEAR-dup (the continuous-ingest analog of t7): each
    * incoming document is signature'd per row with the SAME banded
    * MinHash scheme as the batch path (24 double-hashes over token
    * 3-gram xxhash shingles, 12 bands of 2), then each LSH bucket's state
    * holds the doc-ids seen in that bucket and emits a candidate pair for
    * every new arrival vs the bucket's members. In production the
    * membership would be bounded to the ingest horizon (a timeout on the
    * bucket); the replay keeps every member. The same pair can surface
    * from several bands — the caller collapses with the watermark-dedup
    * pattern (`dedupSections`). Candidate semantics match the batch path
    * PRE-verification; exact jaccard confirmation joins the stored corpus
    * out-of-band. Input columns: (doc_id, text, ts). Output: (doc_a,
    * doc_b, ts). */
  def nearDupDocsStream(docsWithTs: DataFrame)
      : Dataset[(Long, Long, java.sql.Timestamp)] = {
    import docsWithTs.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    val numHashes = 24
    val bandSize = 2
    val numBands = numHashes / bandSize
    // per-row signatures — identical hash scheme to the batch
    // minHashLshOf, but computed with array HOFs inside the row (a
    // stream has no cached shingle relation to aggregate over). The
    // filter reads `toks`, not `hs`: pushed below the projections, a
    // filter on `hs` would carry `hs` with the split inlined for each
    // `toks[i]` of its lambda, splitting every text three times per
    // shingle; 3 or more tokens is exactly "at least one shingle"
    val sh = docsWithTs
      .withColumn("toks", split(trim(col("text")), "\\s+"))
      .filter(size(col("toks")) >= 3)
      .withColumn("hs", expr(
        """array_distinct(transform(sequence(0, size(toks) - 3),
          |  i -> xxhash64(toks[i], toks[i + 1], toks[i + 2])))""".stripMargin))
      .withColumn("h1", expr(
        "transform(hs, h -> shiftrightunsigned(h, 16))"))
      .withColumn("h2", expr(
        "transform(hs, h -> shiftrightunsigned(xxhash64(h, 1), 16))"))
    // the 24 per-permutation mins run inside ONE array projection
    // (transform over seeds × zip_with over shingles) so the shingle
    // pipeline isn't inlined 24× (the codegen-blowup the old
    // typed-code version avoided) — and, critically, the hash family
    // is the EXACT batch expression xxhash64(h1, h2, seed): the old
    // typed replica of the un-modded double-hash h1 + i·h2 shared the
    // batch side's collapsed-permutation defect (see lshBandsOf), and
    // the t25 parity gate caught the divergence the moment the batch
    // side was fixed
    val bands = sh.withColumn("sigs", expr(
        s"""transform(sequence(0, ${numHashes - 1}),
           |  i -> array_min(zip_with(h1, h2,
           |    (a, b) -> xxhash64(a, b, i))))""".stripMargin))
      .select(col("doc_id"), col("ts"), col("sigs"))
      .as[(Long, java.sql.Timestamp, Seq[Long])]
      .flatMap { case (d, ts, sigs) =>
        (0 until numBands).map { b =>
          (s"$b:${sigs(b * bandSize)}:${sigs(b * bandSize + 1)}", d, ts)
        }
      }
    implicit val membersEncoder: Encoder[Set[Long]] = Encoders.kryo[Set[Long]]
    keyedFold(bands)(_._1, _._3.getTime, Set.empty[Long]) {
      case (_, members, (_, doc, ts)) =>
        if (members(doc)) (members, Nil)
        else (members + doc, members.toSeq.map(other =>
          (math.min(other, doc), math.max(other, doc), ts)))
    }
  }

  /** Deterministic multi-batch replay of a documents dir through
    * [[nearDupDocsStream]], returning the emitted DISTINCT pair set —
    * the Verify-time producer behind the t25 parity row (OpLake dumps
    * it; the batch `lshCandidatesOf` relation must hash-match it). */
  def nearDupReplay(s: SparkSession, d: String,
      batches: Int = 4): DataFrame = {
    import s.implicits._
    replay(s, stampedDocsOf(s, d), batches)(m =>
        nearDupDocsStream(m.toDF("doc_id", "text", "ts"))
          .map(p => (p._1, p._2)))
      .distinct.toDF("doc_a", "doc_b")
  }

  /** Deterministic multi-batch replay of a documents dir through
    * [[graft.streaming.StreamingOps.dedupDocsStream]] (the BUILT-IN
    * `dropDuplicatesWithinWatermark` exact dedup), returning the
    * emitted (text_hash, doc_id) winners — the Verify-time producer
    * behind the t42 parity row. Which COPY wins inside a micro-batch is
    * partition-order-dependent (the built-in keeps the first row
    * encountered), so the parity contract is the deterministic part of
    * the semantics: the emitted text_hash multiset must equal the batch
    * corpus's distinct content set — exactly one emission per content,
    * none lost, none duplicated across batches. */
  def dedupReplay(s: SparkSession, d: String,
      batches: Int = 4): DataFrame = {
    import s.implicits._
    replay(s, stampedDocsOf(s, d), batches)(m =>
        StreamingOps.dedupDocsStream(m.toDF("doc_id", "text", "ts"))
          .select("text_hash", "doc_id").as[(String, Long)])
      .toDF("text_hash", "doc_id")
  }

  // ---- streaming sequence packing (t29 = streaming t26) -------------

  case class PackIn(shard: Int, doc_id: Long, n_tokens: Int)
  case class PackOut(doc_id: Long, shard: Int, n_tokens: Int,
    tok_offset: Long, bin: Int, crosses_bin: Boolean)

  /** t26's concat-and-chunk packing as a keyed fold: the per-shard state
    * is ONE long (the running token offset), so a 100 TB packing run
    * carries state proportional to shard count, not corpus. Docs are
    * assigned offsets in doc_id order — batch order is the replay
    * contract (AvailableNow over an ordered lake gives it; the in-batch
    * sort handles intra-batch arrival shuffle). */
  def packStreamTws(docs: DataFrame,
      budget: Long = 2048L, nShards: Int = 8): Dataset[PackOut] = {
    import docs.sparkSession.implicits._
    keyedFold(docs
        .selectExpr(s"cast(doc_id % $nShards as int) as shard", "doc_id",
          "size(split(trim(text), '\\\\s+')) as n_tokens")
        .as[PackIn])(_.shard, _.doc_id, 0L) { (shard, off, r) =>
      val bin = off / budget
      val lastBin = (off + r.n_tokens - 1) / budget
      (off + r.n_tokens, Some(PackOut(r.doc_id, shard, r.n_tokens, off,
        bin.toInt, lastBin > bin)))
    }
  }

  /** Deterministic multi-batch replay of a documents dir through
    * [[packStreamTws]] — the Verify-time producer behind the t29 parity
    * row: OpLake dumps the emitted rows, and the batch `t26Pack` result
    * must hash-match them (cross-batch offset state ≡ the batch prefix
    * sum). */
  def packReplay(s: SparkSession, d: String,
      batches: Int = 5): DataFrame = {
    import s.implicits._
    replay(s, docsOf(s, d), batches)(m =>
      packStreamTws(m.toDF("doc_id", "text"))).toDF()
  }

  // ---- streaming funnel (w13 = streaming w12) -----------------------

  case class FunnelIn(user_id: Long, event_type: String, tsus: Long)
  case class FunnelState(tView: Long, tClick: Long, tPurchase: Long)
  case class FunnelHit(user_id: Long, view_us: Long, click_us: Long,
    purchase_us: Long)

  /** w12's view<click<purchase funnel as an online state machine: one
    * 3-long state per user, advanced greedily in event-time order.
    * Greedy ≡ batch stepwise-minima because events replay in ts order:
    * the first view is min(view), the first click strictly after it is
    * min(click > t_view), and so on. Emits exactly once, when the
    * purchase stage completes. Strict `>` guards make equal-ts arrival
    * order irrelevant. At scale the state is 24 bytes per LIVE user
    * (completed users could drop their state via a timeout). */
  def funnelStreamTws(events: DataFrame)
      : Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    keyedFold(events.selectExpr("user_id", "event_type", "tsus")
        .as[FunnelIn])(_.user_id, r => (r.tsus, r.event_type),
        FunnelState(-1L, -1L, -1L)) { (user, st, r) =>
      r.event_type match {
        case "view" if st.tView < 0 =>
          (st.copy(tView = r.tsus), None)
        case "click" if st.tView >= 0 && st.tClick < 0 &&
            r.tsus > st.tView =>
          (st.copy(tClick = r.tsus), None)
        case "purchase" if st.tClick >= 0 && st.tPurchase < 0 &&
            r.tsus > st.tClick =>
          (st.copy(tPurchase = r.tsus),
            Some(FunnelHit(user, st.tView, st.tClick, r.tsus)))
        case _ => (st, None) // stage already filled, or out of order
      }
    }
  }

  /** Deterministic ts-ordered multi-batch replay of the events dir
    * through [[funnelStreamTws]] — the producer behind the w13 parity
    * row: OpLake dumps the completed-funnel rows (micros re-widened to
    * the same timestamps `Tables.events` serves), and batch
    * `w12Funnel` must hash-match them. Every events replay reads through
    * `Tables.events`, which owns the parquet-ts-physical-type dispatch
    * (nanos-long vs timestamp[us]); never read the file raw. */
  def funnelReplay(s: SparkSession, d: String,
      batches: Int = 5): DataFrame = {
    import s.implicits._
    val ev = graft.Tables.events(s, d)
      .selectExpr("user_id", "event_type", "unix_micros(ts) as tsus")
      .as[(Long, String, Long)]
      .collect().sortBy(e => (e._3, e._1, e._2)).toSeq
    replay(s, ev, batches)(m =>
        funnelStreamTws(m.toDF("user_id", "event_type", "tsus")))
      .toDF()
      .selectExpr("user_id", "timestamp_micros(view_us) as t_view",
        "timestamp_micros(click_us) as t_click",
        "timestamp_micros(purchase_us) as t_purchase")
  }

  // ---- streaming retention (w16 = streaming w15) --------------------

  case class RetIn(user_id: Long, tsus: Long)
  case class RetState(cohortDay: Long, seen: Set[Long])
  case class RetHit(user_id: Long, cohort_day: Long, day_offset: Long)

  /** w15's retention matrix as an online per-user state machine: the
    * first event of a ts-ordered replay fixes the user's cohort day
    * (first ts = min ts = batch min-day cohort); each first-seen
    * activity day emits exactly one (user, cohort, offset) row — the
    * stream-side rows the batch (user, day) dedup produces. State per
    * live user: the cohort day and the set of seen days (empty until
    * the first event, which fixes the cohort), which grows with
    * observed DAYS (bounded by the observation window), not events. */
  def retentionStreamTws(events: DataFrame)
      : Dataset[RetHit] = {
    import events.sparkSession.implicits._
    implicit val stateEncoder: Encoder[RetState] = Encoders.kryo[RetState]
    keyedFold(events.selectExpr("user_id", "tsus").as[RetIn])(
        _.user_id, _.tsus, RetState(0L, Set.empty)) { (user, st, r) =>
      val day = Math.floorDiv(r.tsus, DayUs)
      val cohort = if (st.seen.isEmpty) day else st.cohortDay
      if (st.seen(day)) (st, None)
      else (RetState(cohort, st.seen + day),
        Some(RetHit(user, cohort, day - cohort)))
    }
  }

  /** Deterministic ts-ordered multi-batch replay of the events dir
    * through [[retentionStreamTws]] — the producer behind the w16
    * parity row: OpLake dumps the per-(user, day) emissions, and the
    * oracle aggregates them into the retention matrix that batch
    * `w15Retention` must hash-match. */
  def retentionReplay(s: SparkSession, d: String,
      batches: Int = 5): DataFrame = {
    import s.implicits._
    val ev = graft.Tables.events(s, d)
      .selectExpr("user_id", "unix_micros(ts) as tsus")
      .as[(Long, Long)]
      .collect().sortBy(e => (e._2, e._1)).toSeq
    replay(s, ev, batches)(m =>
      retentionStreamTws(m.toDF("user_id", "tsus"))).toDF()
  }

  // ---- streaming interpolation (w43 = streaming w42) ----------------

  case class InterpIn(user_id: Long, tsus: Long, event_id: Long,
      cents: Long)
  case class InterpSample(day: Long, cents: Long)
  case class InterpOpen(day: Long, cents: Long, tsus: Long, eid: Long)
  case class InterpState(prev: Option[InterpSample],
      open: Option[InterpOpen])
  case class InterpOut(user_id: Long, day: Long, cents: Long,
      is_interp: Boolean)

  /** w42's gap-fill + linear interpolation as an online per-user state
    * machine. A day's sample is only FINAL once a later day's event
    * arrives (the last event of the day wins), so the state is two tiny
    * values per user — the last CLOSED sample and the open day's
    * running winner — and, each time a day closes, the step emits the
    * interpolated rows for the gap back to the previous closed sample
    * plus the observed row itself. Interpolation math is the batch
    * side's exact integer floor line (`Math.floorDiv` ≡ the
    * positive-mod form w42 evaluates). State is O(1) per live user
    * regardless of event volume; emissions arrive as soon as the
    * closing bracket is known — the earliest any online gap-filler
    * can produce them. An `event_id == -1` row is the replay's EOF
    * flush: it closes the open day (the spine's right endpoint)
    * without opening a new one. */
  def interpStreamTws(events: DataFrame)
      : Dataset[InterpOut] = {
    import events.sparkSession.implicits._
    // closes `o` into the new last sample, opening `next`
    def close(user: Long, st: InterpState, o: InterpOpen,
        next: Option[InterpOpen]): (InterpState, Seq[InterpOut]) = {
      val gap = st.prev.toSeq.flatMap { p =>
        (p.day + 1 until o.day).map { dd =>
          InterpOut(user, dd, p.cents + Math.floorDiv(
            (o.cents - p.cents) * (dd - p.day), o.day - p.day),
            is_interp = true)
        }
      }
      (InterpState(Some(InterpSample(o.day, o.cents)), next),
        gap :+ InterpOut(user, o.day, o.cents, is_interp = false))
    }
    keyedFold(events.selectExpr("user_id", "tsus", "event_id", "cents")
        .as[InterpIn])(_.user_id, r => (r.tsus, r.event_id),
        InterpState(None, None)) { (user, st, r) =>
      val day = Math.floorDiv(r.tsus, DayUs)
      val now = Some(InterpOpen(day, r.cents, r.tsus, r.event_id))
      (st.open, r.event_id) match {
        case (None, -1L) => (st, Nil)
        case (Some(o), -1L) => close(user, st, o, None)
        case (None, _) => (st.copy(open = now), Nil)
        case (Some(o), _) if day == o.day =>
          val later = r.tsus > o.tsus ||
            (r.tsus == o.tsus && r.event_id > o.eid)
          (if (later) st.copy(open = now) else st, Nil)
        case (Some(o), _) if day > o.day => close(user, st, o, now)
        case _ => (st, Nil) // late older-day event: already closed
      }
    }
  }

  /** Deterministic ts-ordered multi-batch replay of the events dir
    * through [[interpStreamTws]] — the producer behind the w43 parity
    * row: OpLake dumps the emissions, the oracle reads them verbatim,
    * and the Spark side recomputes batch w42, so the hash gate IS the
    * stream≡batch interpolation parity (gaps spanning micro-batch
    * seams included). A final flush batch (event_id = -1 per user)
    * closes each user's last open day — the replay's EOF signal. */
  def interpReplay(s: SparkSession, d: String,
      batches: Int = 5): DataFrame = {
    import s.implicits._
    val ev = graft.Tables.events(s, d)
      .selectExpr("user_id", "unix_micros(ts) as tsus", "event_id",
        "cast(cast(value as decimal(18,2)) * 100 as long) as cents")
      .as[(Long, Long, Long, Long)]
      .collect().sortBy(e => (e._2, e._3)).toSeq
    val flush = ev.map(_._1).distinct.map(u => (u, Long.MaxValue, -1L, 0L))
    replay(s, ev, batches, flush)(m =>
        interpStreamTws(m.toDF("user_id", "tsus", "event_id", "cents")))
      .toDF()
  }

  // ---- streaming CDC merge (j12 = streaming j11) --------------------

  case class CdcIn(user_id: Long, tsus: Long, event_id: Long,
      event_type: String, value_cents: Long)
  case class CdcState(ts: Long, eid: Long, op: String, etype: String,
      cents: Long, nOps: Long, nDel: Long, seq: Long)
  case class CdcOut(user_id: Long, last_op: String,
      cur_event_type: String, cur_value_cents: Long, last_ts_us: Long,
      n_ops: Long, n_deletes: Long, seq: Long)

  /** j11's changelog MERGE as an online keyed state machine: per-user
    * state tracks the winning (ts, event_id) record plus op counters;
    * each micro-batch that touches a user emits ONE post-batch
    * snapshot row (the fold's `end`) stamped with a monotone per-user
    * `seq`, so the latest emission per user IS the current table state
    * (delete state included — the dump consumer drops final-op-D keys
    * exactly like batch j11's filter). State per live key is O(1);
    * last-writer-wins means late re-deliveries of older (ts, event_id)
    * records are no-ops, the idempotence a CDC consumer needs. */
  def cdcStreamTws(events: DataFrame)
      : Dataset[CdcOut] = {
    import events.sparkSession.implicits._
    keyedFold(events
        .selectExpr("user_id", "tsus", "event_id", "event_type",
          "value_cents")
        .as[CdcIn])(_.user_id, r => (r.tsus, r.event_id),
        CdcState(-1L, -1L, "", "", 0L, 0L, 0L, 0L))(
      { (_, st0, r) =>
        val op =
          if (r.event_id % 7 == 0) "D" else if (r.event_id % 7 < 3) "I"
          else "U"
        val st = st0.copy(nOps = st0.nOps + 1,
          nDel = st0.nDel + (if (op == "D") 1L else 0L))
        (if (r.tsus > st.ts || (r.tsus == st.ts && r.event_id > st.eid))
          st.copy(ts = r.tsus, eid = r.event_id, op = op,
            etype = r.event_type, cents = r.value_cents)
        else st, Nil)
      },
      { (user, st0) =>
        val st = st0.copy(seq = st0.seq + 1)
        (st, Some(CdcOut(user, st.op, st.etype, st.cents, st.ts, st.nOps,
          st.nDel, st.seq)))
      })
  }

  /** Deterministic ts-ordered multi-batch replay through
    * [[cdcStreamTws]] — the producer behind the j12 parity row: the
    * OpLake dump keeps every per-batch snapshot emission; the oracle
    * takes each user's latest `seq` and drops final-op-D keys, which
    * must hash-match batch `j11CdcMerge`. */
  def cdcReplay(s: SparkSession, d: String,
      batches: Int = 5): DataFrame = {
    import s.implicits._
    val ev = graft.Tables.events(s, d)
      .selectExpr("user_id", "unix_micros(ts) as tsus", "event_id",
        "event_type",
        "CAST(floor(value * 100 + 0.5) AS BIGINT) as value_cents")
      .as[(Long, Long, Long, String, Long)]
      .collect().sortBy(e => (e._2, e._1, e._3)).toSeq
    replay(s, ev, batches)(m => cdcStreamTws(m
        .toDF("user_id", "tsus", "event_id", "event_type", "value_cents")))
      .toDF()
  }

  // ---- streaming SCD2 (j13 = streaming j10, closed intervals) -------

  case class ScdIn(user_id: Long, tsus: Long, event_id: Long,
      event_type: String)
  case class ScdState(value: String, version: Long, validFrom: Long,
      nEvents: Long)
  case class ScdClosed(user_id: Long, attr_value: String, version: Int,
      valid_from_us: Long, valid_to_us: Long, n_events: Long)

  /** j10's SCD Type-2 build as an online dimension maintainer: per-user
    * state holds only the OPEN version (value, version, valid_from,
    * run length; version 0 before the first event); a value change
    * CLOSES the open interval — emitting the finished dimension row
    * exactly once — and opens the next. Append-mode emissions are
    * therefore precisely the closed rows of batch j10
    * (`is_current = false`), which is what the j13 parity row asserts;
    * the open tail lives in state, O(1) per live key. */
  def scd2StreamTws(events: DataFrame)
      : Dataset[ScdClosed] = {
    import events.sparkSession.implicits._
    keyedFold(events
        .selectExpr("user_id", "tsus", "event_id", "event_type")
        .as[ScdIn])(_.user_id, r => (r.tsus, r.event_id),
        ScdState(null, 0L, 0L, 0L)) { (user, cur, r) =>
      if (cur.version == 0L) (ScdState(r.event_type, 1L, r.tsus, 1L), None)
      else if (cur.value == r.event_type)
        (cur.copy(nEvents = cur.nEvents + 1), None)
      else (ScdState(r.event_type, cur.version + 1, r.tsus, 1L),
        Some(ScdClosed(user, cur.value, cur.version.toInt, cur.validFrom,
          r.tsus, cur.nEvents)))
    }
  }

  /** Deterministic ts-ordered multi-batch replay through
    * [[scd2StreamTws]] — the producer behind the j13 parity row: the
    * dump holds every closed dimension row; batch j10's non-current
    * rows must hash-match it. */
  def scd2Replay(s: SparkSession, d: String,
      batches: Int = 5): DataFrame = {
    import s.implicits._
    val ev = graft.Tables.events(s, d)
      .selectExpr("user_id", "unix_micros(ts) as tsus", "event_id",
        "event_type")
      .as[(Long, Long, Long, String)]
      .collect().sortBy(e => (e._2, e._1, e._3)).toSeq
    replay(s, ev, batches)(m => scd2StreamTws(
      m.toDF("user_id", "tsus", "event_id", "event_type"))).toDF()
  }

  // ---- streaming last-touch attribution (w23 = streaming w22) -------

  case class AttrIn(user_id: Long, event_type: String, tsus: Long,
      event_id: Long, cents: Long)
  case class LastTouch(tsus: Long, event_id: Long, event_type: String)
  case class AttrHit(conv_id: Long, user_id: Long, channel: String,
      cents: Long, lag_us: Long)

  /** w22's last-touch attribution as an online per-user state machine
    * with O(1) STATE: only the latest touch is kept, because in a
    * ts-ordered stream the latest stored touch IS the window max — if
    * it falls outside the 7-day lookback, so does every earlier one.
    * Purchases emit immediately (lag_us = -1 when unattributed) and
    * are touch-transparent, exactly the batch window-max semantics
    * (touch at the same microsecond as the conversion excluded). A
    * user with no touch yet holds one at `Long.MinValue`, outside every
    * lookback. */
  def attributionStreamTws(events: DataFrame)
      : Dataset[AttrHit] = {
    import events.sparkSession.implicits._
    val week = 7L * DayUs
    keyedFold(events
        .selectExpr("user_id", "event_type", "tsus", "event_id", "cents")
        .as[AttrIn])(_.user_id, r => (r.tsus, r.event_id),
        LastTouch(Long.MinValue, -1L, null)) { (user, t, r) =>
      r.event_type match {
        case "click" | "view" =>
          (LastTouch(r.tsus, r.event_id, r.event_type), None)
        case "purchase" =>
          (t, Some(
            if (t.tsus >= r.tsus - week && t.tsus <= r.tsus - 1)
              AttrHit(r.event_id, user, t.event_type, r.cents,
                r.tsus - t.tsus)
            else AttrHit(r.event_id, user, "unattributed", r.cents, -1L)))
        case _ => (t, None)
      }
    }
  }

  /** Deterministic ts-ordered multi-batch replay through
    * [[attributionStreamTws]] — the producer behind the w23 parity
    * row: OpLake dumps the per-conversion attributions and batch
    * `w23AttributionDetail` (the window-max derivation) must
    * hash-match them. */
  def attributionReplay(s: SparkSession, d: String,
      batches: Int = 5): DataFrame = {
    import s.implicits._
    val ev = graft.Tables.events(s, d)
      .selectExpr("user_id", "event_type", "unix_micros(ts) as tsus",
        "event_id", "cast(floor(value * 100 + 0.5) as bigint) as cents")
      .as[(Long, String, Long, Long, Long)]
      .collect().sortBy(e => (e._3, e._4)).toSeq
    replay(s, ev, batches)(m => attributionStreamTws(
        m.toDF("user_id", "event_type", "tsus", "event_id", "cents")))
      .toDF()
  }

  // ---- streaming interval islands (j17 = streaming j16) -------------

  case class IntIn(user_id: Long, tsus: Long)
  case class IntState(lastT: Long, island: Long)
  case class IntHit(user_id: Long, island: Long, t: Long)

  /** j16's merge-overlapping-intervals as an online per-user state
    * machine: 16 bytes of state (last event time, current island
    * ordinal) suffice because with fixed-length L intervals the
    * running-max-end collapses to the previous event time + L, so a
    * new island opens exactly when the gap to the previous event
    * exceeds L. Each event emits its (user, island, t) assignment;
    * duplicate timestamps are skipped (they arrive adjacent per user
    * in a ts-ordered replay — across batches too, since lastT
    * persists), matching batch j16's up-front distinct. The oracle
    * aggregates the emissions into the island census that batch j16
    * must hash-match — stream ≡ batch island assignment, including
    * islands that SPAN batch boundaries. */
  def intervalStreamTws(events: DataFrame,
      intervalUs: Long = 1800L * 1000000L): Dataset[IntHit] = {
    import events.sparkSession.implicits._
    keyedFold(events.selectExpr("user_id", "tsus").as[IntIn])(
        _.user_id, _.tsus, IntState(-1L, 0L)) { (user, st, r) =>
      if (st.lastT >= 0 && r.tsus == st.lastT) (st, None)
      else {
        val island =
          if (st.lastT < 0 || r.tsus - st.lastT > intervalUs) st.island + 1
          else st.island
        (IntState(r.tsus, island), Some(IntHit(user, island, r.tsus)))
      }
    }
  }

  /** Deterministic ts-ordered multi-batch replay of the events dir
    * through [[intervalStreamTws]] — the producer behind the j17
    * parity row: OpLake dumps the per-event island assignments, the
    * oracle aggregates them into the per-user coverage census, and
    * batch `j16IntervalCoverage` must hash-match it. */
  def intervalReplay(s: SparkSession, d: String,
      batches: Int = 5): DataFrame = {
    import s.implicits._
    val ev = graft.Tables.events(s, d)
      .selectExpr("user_id", "unix_micros(ts) as tsus")
      .as[(Long, Long)]
      .collect().sortBy(e => (e._2, e._1)).toSeq
    replay(s, ev, batches)(m =>
      intervalStreamTws(m.toDF("user_id", "tsus"))).toDF()
  }

  // ---- streaming EWMA (a35 = streaming a34) -------------------------

  case class EwmaIn(event_type: String, day: Long, x: Long)
  case class EwmaState(ewma: Option[Long])
  case class EwmaHit(event_type: String, day: Long, cents: Long,
    ewma_cents: Long)

  /** a34's rational-α EWMA recurrence as an online per-key state
    * machine: 8 bytes of state (the last smoothed value) regardless of
    * series length. sₜ = (xₜ + 3·sₜ₋₁) / 4 in Java long division ≡
    * Spark `div` ≡ DuckDB `//` (truncation toward zero), so the
    * emitted series is bit-identical to the batch fold — including
    * across batch seams, since the state persists. Rows within a
    * micro-batch are day-sorted per key (a day-ordered feed delivers
    * them adjacent anyway). */
  def ewmaStreamTws(daily: DataFrame)
      : Dataset[EwmaHit] = {
    import daily.sparkSession.implicits._
    keyedFold(daily.selectExpr("event_type", "day", "x").as[EwmaIn])(
        _.event_type, _.day, EwmaState(None)) { (key, st, r) =>
      val e = st.ewma.fold(r.x)(p => (r.x + 3 * p) / 4)
      (EwmaState(Some(e)), Some(EwmaHit(key, r.day, r.x, e)))
    }
  }

  /** Deterministic day-ordered multi-batch replay of the per-type
    * daily revenue rollup through [[ewmaStreamTws]] — the producer
    * behind the a35 parity row: OpLake dumps the per-day smoothed
    * values, the oracle reads them verbatim, and batch `a34Ewma` must
    * hash-match — stream ≡ batch EWMA with state spanning seams. */
  def ewmaReplay(s: SparkSession, d: String,
      batches: Int = 5): DataFrame = {
    import s.implicits._
    replay(s, dailyRevenueOf(s, d), batches)(m =>
      ewmaStreamTws(m.toDF("event_type", "day", "x"))).toDF()
  }

  // ---- streaming Page–Hinkley (a53 = streaming a53PhSeries) ---------

  case class PhIn(event_type: String, day: Long, x: Long)
  case class PhState(t: Long, s: Long, m: Long, minm: Long)
  case class PhHit(event_type: String, day: Long, cents: Long,
    m_micro: Long, ph_micro: Long)

  /** The δ=0 Page–Hinkley detector as an online per-key machine: 32
    * bytes of state (count, sum, statistic, running minimum) no matter
    * how long the series. term = x·10⁶ − floor(S·10⁶/t) uses Java long
    * division on positive operands ≡ Spark `div` ≡ DuckDB `//`, so the
    * emitted (m, ph) series is bit-identical to the batch prefix-window
    * fold — including across micro-batch seams, since the state
    * persists. Rows within a batch are day-sorted per key. */
  def phStreamTws(daily: DataFrame)
      : Dataset[PhHit] = {
    import daily.sparkSession.implicits._
    keyedFold(daily.selectExpr("event_type", "day", "x").as[PhIn])(
        _.event_type, _.day, PhState(0L, 0L, 0L, Long.MaxValue)) {
      (key, st, r) =>
        val t = st.t + 1
        val sSum = st.s + r.x
        val m = st.m + (r.x * 1000000L - sSum * 1000000L / t)
        val minm = math.min(st.minm, m)
        (PhState(t, sSum, m, minm), Some(PhHit(key, r.day, r.x, m, m - minm)))
    }
  }

  /** Deterministic day-ordered multi-batch replay of the per-type
    * daily revenue rollup through [[phStreamTws]] — the producer
    * behind the a53 parity row: OpLake dumps the per-day (m, ph)
    * emissions, the oracle reads them verbatim, and batch
    * `a53PhSeries` must hash-match — stream ≡ batch Page–Hinkley with
    * state spanning seams. */
  def phReplay(s: SparkSession, d: String,
      batches: Int = 5): DataFrame = {
    import s.implicits._
    replay(s, dailyRevenueOf(s, d), batches)(m =>
      phStreamTws(m.toDF("event_type", "day", "x"))).toDF()
  }

  // ---- streaming sliding median (w33 = streaming w25) ---------------

  case class MedIn(user_id: Long, tsus: Long, event_id: Long,
    cents: Long)
  case class MedHit(event_id: Long, user_id: Long, n_win: Int,
    med_cents: Long)

  /** w25's bounded rolling median as an online per-user machine: the
    * state is the last ≤5 purchase amounts (40 bytes, the whole
    * point — batch w25 re-sorts a 5-row frame per row; the stream
    * keeps just the frame). Lower-median convention identical to the
    * batch fold; a (t, event_id)-ordered feed keeps per-user rows
    * adjacent, and rows within a micro-batch sort on the same total
    * key, so emissions are bit-identical to batch w25 across seams. */
  def medianStreamTws(rows: DataFrame)
      : Dataset[MedHit] = {
    import rows.sparkSession.implicits._
    implicit val winEncoder: Encoder[Vector[Long]] =
      Encoders.kryo[Vector[Long]]
    keyedFold(rows.selectExpr("user_id", "tsus", "event_id", "cents")
        .as[MedIn])(_.user_id, r => (r.tsus, r.event_id),
        Vector.empty[Long]) { (user, win0, r) =>
      val win = (win0 :+ r.cents).takeRight(5)
      (win, Some(MedHit(r.event_id, user, win.length,
        win.sorted.apply((win.length + 1) / 2 - 1))))
    }
  }

  /** Deterministic ts-ordered multi-batch replay of the purchase feed
    * through [[medianStreamTws]] — the producer behind the w33 parity
    * row: OpLake dumps the emissions, the oracle reads them verbatim,
    * batch `w25SlidingMedian` must hash-match. */
  def medianReplay(s: SparkSession, d: String,
      batches: Int = 5): DataFrame = {
    import s.implicits._
    val feed = graft.Tables.events(s, d)
      .filter(org.apache.spark.sql.functions.col("event_type") ===
        "purchase")
      .selectExpr("user_id", "unix_micros(ts) as tsus", "event_id",
        "cast(floor(value * 100 + 0.5) as bigint) as cents")
      .as[(Long, Long, Long, Long)]
      .collect().sortBy(e => (e._2, e._3)).toSeq
    replay(s, feed, batches)(m => medianStreamTws(
      m.toDF("user_id", "tsus", "event_id", "cents"))).toDF()
  }

  // ---- streaming CAS ingest (m11 = streaming m10) --------------------

  case class CasIn(h: String, doc_id: Long, format: String,
    n_bytes: Long, seq: Long)
  case class CasOut(doc_id: Long, format: String, stored: Boolean,
    bytes_written: Long)

  /** Content-addressable-store INGEST decision as keyed state: the
    * first arrival of each content hash is STORED (bytes written),
    * every later copy — same batch or any later batch — is a dedup
    * hit writing nothing. One boolean of state per distinct payload,
    * the O(unique-content) minimum any CAS must hold; arrival order
    * within a batch follows the replay's seq (the ordered-lake
    * contract every parity replay uses). The m11 parity row proves
    * these streaming decisions equal batch m10's min-doc-per-hash
    * derivation exactly. */
  def casStream(assets: DataFrame)
      : Dataset[CasOut] = {
    import assets.sparkSession.implicits._
    keyedFold(assets.selectExpr("h", "doc_id", "format", "n_bytes", "seq")
        .as[CasIn])(_.h, _.seq, false) { (_, seen, r) =>
      (true, Some(CasOut(r.doc_id, r.format, !seen,
        if (seen) 0L else r.n_bytes)))
    }
  }

  /** Deterministic doc_id-ordered multi-batch replay of the media lake
    * through [[casStream]] — the producer behind the m11 parity row:
    * OpLake dumps the per-asset store/dedup-hit decisions, the oracle
    * reads them verbatim, and batch `m11StreamCas` (min-doc-per-hash)
    * must hash-match, proving the cross-batch CAS state replays the
    * batch accounting exactly. */
  def casReplay(s: SparkSession, d: String,
      batches: Int = 4): DataFrame = {
    import s.implicits._
    val assets = graft.operators.Multimodal.media(s, d)
      .selectExpr("md5(media) as h", "doc_id", "format",
        "cast(n_bytes as bigint) as n_bytes", "doc_id as seq")
      .as[(String, Long, String, Long, Long)]
      .collect().sortBy(_._2).toSeq
    replay(s, assets, batches)(m => casStream(
      m.toDF("h", "doc_id", "format", "n_bytes", "seq"))).toDF()
  }

  // ---- streaming chunk-store ingest (m13 = streaming m12) ------------

  case class ChunkIn(h: Long, doc_id: Long, format: String,
    len: Long, off: Long, seq: Long)
  case class ChunkOut(doc_id: Long, format: String, off: Long,
    len: Long, hash: Long, stored: Boolean, bytes_written: Long)

  /** CHUNK-store ingest decision as keyed state — the chunk-level
    * refinement of [[casStream]]: one boolean per distinct
    * (format, chunk-hash); the first arrival (in (seq, off) replay
    * order) writes its bytes, every later instance — same doc, same
    * batch or any later batch — is a dedup hit. This is what an
    * incremental 100-TB ingest front-end actually runs: new variants
    * of existing payloads stream in and only their genuinely novel
    * chunks hit storage. Keying includes the format (a per-pool store)
    * so the accounting reconciles exactly with m12's per-format
    * unique-bytes — short chunk hashes CAN legitimately recur across
    * formats — AND the length, so a 64-bit FNV-1a collision between
    * different-length chunks can never store one chunk while counting
    * the other's bytes as a hit (m12's accounting groups per
    * (format, hash, len); the reconciliation must be structurally
    * true, not collision-probabilistic). The m13 parity row proves
    * the cross-batch chunk state equals batch first-instance
    * accounting exactly. */
  def chunkStream(chunks: DataFrame)
      : Dataset[ChunkOut] = {
    import chunks.sparkSession.implicits._
    keyedFold(chunks.selectExpr("h", "doc_id", "format", "len", "off", "seq")
        .as[ChunkIn])(r => (r.format, r.h, r.len), r => (r.seq, r.off),
        false) { (_, seen, r) =>
      (true, Some(ChunkOut(r.doc_id, r.format, r.off, r.len, r.h, !seen,
        if (seen) 0L else r.len)))
    }
  }

  /** Deterministic (doc_id, off)-ordered multi-batch replay of the CDC
    * chunk relation through [[chunkStream]] — the producer behind the
    * m13 parity row (OpLake dumps the emissions; the oracle reads them
    * verbatim; batch `m13StreamChunkIngest` must hash-match). */
  def chunkReplay(s: SparkSession, d: String,
      batches: Int = 4): DataFrame =
    chunkReplayOf(s, graft.operators.Multimodal.m12Chunks(s, d), batches)

  /** The m13b leg: the SAME replay over the m12b 20-doc first-KiB
    * prefix sample, so the streaming store's decisions can be checked
    * against a from-raw-bytes SQL re-derivation of the split (the
    * recursion is depth-bounded by the KiB cap, which is why the
    * audit runs the prefix rather than full payloads). */
  def chunkPrefixReplay(s: SparkSession, d: String,
      batches: Int = 4): DataFrame =
    chunkReplayOf(s, graft.operators.Multimodal.m13bPrefixChunks(s, d),
      batches)

  private def chunkReplayOf(s: SparkSession, chunkRel: DataFrame,
      batches: Int): DataFrame = {
    import s.implicits._
    val chunks = chunkRel
      .selectExpr("hash as h", "doc_id", "format",
        "cast(len as bigint) as len", "cast(off as bigint) as off",
        "doc_id as seq")
      .as[(Long, Long, String, Long, Long, Long)]
      .collect().sortBy(r => (r._2, r._5)).toSeq
    replay(s, chunks, batches)(m => chunkStream(
      m.toDF("h", "doc_id", "format", "len", "off", "seq"))).toDF()
  }
}
