package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

/** Multimodal-column operators (builder-prompt extension list): media as
  * opaque `binary` columns with typed metadata, decode/feature-extract/
  * frame-sample stages.
  *
  * The decode step is STUBBED — no image/audio codecs exist in this
  * container — with a deterministic byte-histogram "feature extractor";
  * the Spark-side plumbing is the real deliverable: schema contract,
  * per-partition batched processing (the Scala analog of a
  * `mapInPandas` batch UDF), explode shape for frame sampling, and
  * column pruning that never ships the payload when only metadata is
  * needed.
  *
  * The opaque payload is derived from the driver-provided `documents`
  * table (text bytes standing in for encoded media).
  */
object Multimodal {

  /** The corpus scan every m-query reads, spread across the session's
    * cores ([[graft.Tables.spread]] — a no-op on multi-split layouts):
    * payload hashing / histogram / chunking kernels are the per-row
    * cost, so scan parallelism IS the family's wall clock. Shadows the
    * `Tables._` import for every call site in this file. */
  private def documents(s: SparkSession, d: String): DataFrame =
    graft.Tables.spreadCached(s, d, "documents", col("doc_id"))

  /** The media table: (doc_id, media BINARY, format, n_bytes).
    * n_bytes is OCTET length (length of the UTF-8 payload bytes, not
    * the char count) — every segment/frame grid derives from it, and a
    * char-count grid would under-cover multibyte payloads. The DuckDB
    * oracles mirror it as octet_length(encode(text)). */
  private[graft] def mediaOf(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("media"),
      col("source").as("format"),
      length(col("text").cast("binary")).as("n_bytes"))

  def media(s: SparkSession, d: String): DataFrame =
    mediaOf(documents(s, d))

  /** m1 — metadata projection + content fingerprint: reads ONLY the
    * cheap columns + one pass over the payload for the hash; at scale
    * this is the dedup/index pass before any decode. */
  def m1MediaMeta(s: SparkSession, d: String): DataFrame =
    media(s, d)
      .select(
        col("doc_id"), col("format"), col("n_bytes"),
        md5(col("media")).as("content_hash"))

  /** m2 — 16-bin high-nibble byte histogram, entirely in whole-stage
    * codegen: hex() renders 2 chars per byte, dropping every second char
    * leaves exactly the high nibbles, and per-digit char counts are the
    * bins — the same derivation the DuckDB oracle runs. A histogram
    * doesn't need a batch UDF; the batch-UDF extension point for a REAL
    * codec lives in [[m2FeatureExtractBatch]]. Bins are 16 flat BIGINT
    * columns h0..h15 so any comparator/sink sees hashable scalars. */
  def m2FeatureExtract(s: SparkSession, d: String): DataFrame =
    media(s, d)
      .select(col("doc_id"),
        regexp_replace(hex(col("media")), "(.).", "$1").as("hn"))
      .select(
        col("doc_id") +:
          (0 until 16).map { k =>
            val digit = f"$k%X"
            expr(s"cast(length(hn) - length(replace(hn, '$digit', ''))" +
              s" as bigint)").as(s"h$k")
          }: _*)

  /** The batch-UDF slot for a codec-backed extractor: typed per-partition
    * iteration (the Scala analog of a `mapInPandas` batch UDF) with the
    * same (doc_id, h0..h15) contract as m2. STUB: `extractFeatures` is a
    * deterministic fake decode — swap it for a real image/audio codec;
    * the plumbing (schema, batch iteration, partition parallelism) is
    * the production shape and is spec-tested equal to the expression
    * path. */
  def m2FeatureExtractBatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wide = media(s, d)
      .select(col("doc_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // batch loop runs executor-side; one array alloc per row, no
        // driver involvement
        it.map { case (id, bytes) => (id, extractFeatures(bytes)) }
      }
      .toDF("doc_id", "features")
    wide.select(
      col("doc_id") +:
        (0 until 16).map(k => col("features").getItem(k).as(s"h$k")): _*)
  }

  /** STUB: deterministic fake decode — replace with a real codec. */
  private def extractFeatures(bytes: Array[Byte]): Array[Long] = {
    val hist = new Array[Long](16)
    var i = 0
    while (i < bytes.length) { hist((bytes(i) >> 4) & 0xF) += 1; i += 1 }
    hist
  }

  /** m3 — frame sampling: treat the payload as fixed-stride frames and
    * keep every 4th one; explode to (doc_id, frame_idx, frame_hash)
    * rows. Pure column expressions — the slicing happens in codegen. */
  def m3FrameSample(s: SparkSession, d: String): DataFrame = {
    val frameLen = 64
    val stride = 4
    media(s, d)
      .select(col("doc_id"), col("media"), col("n_bytes"))
      .withColumn("frame_idx",
        explode(sequence(lit(0),
          greatest(lit(0),
            // integer division: plain `/` goes through Double in Spark
            // but rounds in DuckDB — `div` truncates identically in
            // both engines (operands non-negative, so truncate = floor)
            expr(s"cast((n_bytes - 1) div ${frameLen * stride} as int)")))))
      .select(
        col("doc_id"), col("frame_idx"),
        md5(expr(
          s"substring(media, frame_idx * $frameLen * $stride + 1, " +
            s"$frameLen)")).as("frame_hash"))
  }

  /** m4 — resize plumbing: treat the payload as rows of 32 bytes and
    * 2×-downsample (every 2nd byte of every 2nd full row — the stride
    * decimation a real resizer performs after decode, with the codec
    * itself stubbed like m2's). Emits the new dimensions plus a content
    * hash of the sampled bytes, all inside codegen (hex-string
    * indexing), so the DuckDB oracle re-derives the identical resize.
    * At scale this is a pure per-row projection — no shuffle, payload
    * read once. */
  def m4Resize(s: SparkSession, d: String): DataFrame =
    resizeOf(media(s, d))

  private[graft] def resizeOf(mediaDf: DataFrame): DataFrame = {
    val w = 32
    val f = 2
    mediaDf
      .select(col("doc_id"), hex(col("media")).as("hx"), col("n_bytes"))
      .withColumn("in_h", expr(s"cast(n_bytes div $w as int)"))
      .withColumn("out_h", expr(s"cast(in_h div $f as int)"))
      .withColumn("out_w", lit(w / f))
      .filter(col("out_h") > 0)
      .withColumn("sampled", expr(
        s"""array_join(transform(
           |  sequence(0, out_h * out_w - 1),
           |  i -> substring(hx,
           |    ((i div out_w) * $f * $w + (i % out_w) * $f) * 2 + 1,
           |    2)),
           |  '')""".stripMargin))
      .select(col("doc_id"), col("out_w"), col("out_h"),
        md5(col("sampled")).as("resized_hash"),
        expr("cast(length(sampled) div 2 as int)").as("n_out_bytes"))
  }

  /** m5 — temporal segment stats: treat the payload as a fixed-rate
    * timeline (256 B per "second"), explode into 1-s segments, and
    * aggregate per segment (byte count, content hash, nibble-sum as the
    * stubbed luminance stand-in) — the scene/segment-stats pass of a
    * video pipeline. Generator + per-row column math: a 2-hour asset
    * fans out across tasks BY SEGMENT instead of pinning one task, and
    * each segment's bytes are read exactly once. */
  def m5SegmentStats(s: SparkSession, d: String): DataFrame =
    m5SegmentStatsOf(media(s, d))

  private[graft] def m5SegmentStatsOf(mediaDf: DataFrame): DataFrame = {
    val segLen = 256
    mediaDf
      .select(col("doc_id"), hex(col("media")).as("hx"), col("n_bytes"))
      .withColumn("seg", explode(expr(
        s"sequence(0, cast((n_bytes - 1) div $segLen as int))")))
      .withColumn("shx",
        expr(s"substring(hx, seg * ${segLen * 2} + 1, ${segLen * 2})"))
      .select(col("doc_id"), col("seg"),
        expr("cast(length(shx) div 2 as int)").as("seg_bytes"),
        md5(col("shx")).as("seg_hash"),
        expr(
          """aggregate(
            |  transform(sequence(1, length(shx)),
            |    i -> instr('0123456789ABCDEF', substring(shx, i, 1)) - 1),
            |  cast(0 as bigint), (acc, x) -> acc + x)""".stripMargin)
          .as("nibble_sum"))
  }

  /** The per-asset 48-bit byte-level simhash — m6's engine-specific
    * layer, dumped by [[graft.OpLake]] so the oracle re-derives only the
    * relational banding + hamming remainder (the t8 pattern). Shingles
    * are 4-byte windows of the payload at stride 4 (rendered via hex —
    * 8 hex chars per window; the stride caps signature cost at
    * n_bytes/4 hashes per asset — full overlap was the bench hotspot —
    * while byte-identical payloads still collapse to identical
    * signatures and lightly-edited ones stay hamming-close), each
    * xxhash64'd into the codegen'd simhash kernel: one projection, no
    * explode, no shuffle for the signature. */
  private[graft] def m6Sigs(s: SparkSession, d: String): DataFrame =
    m6SigsOf(media(s, d))

  private[graft] def m6SigsOf(mediaDf: DataFrame): DataFrame =
    mediaDf
      .select(col("doc_id"), hex(col("media")).as("hx"), col("n_bytes"))
      .select(col("doc_id"),
        graft.functions.VectorExprs.simhash(expr(
          """transform(
            |  sequence(1, cast(greatest(1, n_bytes - 3) as int), 4),
            |  p -> xxhash64(substring(hx, p * 2 - 1, 8)))"""
            .stripMargin), 48).as("sh"))

  /** m6 — MEDIA near-duplicate detection: perceptual-hash-shaped dedup
    * over the opaque binary payload (re-encoded or lightly-edited asset
    * copies). A real pipeline would decode and pHash the pixels — the
    * codec-free stand-in simhashes overlapping 4-byte windows, which
    * has the property that matters for the plumbing: similar byte
    * streams → small hamming distance. Pair generation is the same
    * banded-hamming pigeonhole as t8 (pairs ≤ 12/48 bits must share a
    * 12-bit chunk), so the self-join is bucket-bounded, and the payload
    * itself never crosses the wire — only 48-bit signatures do. The
    * dedup member of the m-family: m1 catches exact copies by content
    * hash; m6 catches the near-copies m1 misses. */
  def m6MediaNearDup(s: SparkSession, d: String): DataFrame =
    // memoized per (session, dir): the banded self-join is the
    // expensive stage and BOTH consumers read it — m6's own report and
    // m8's closure — so the sweep pays pair-gen once, not twice
    graft.SessionMemo.cached(s, "Multimodal.m6pairs", d)(
      TextOps.bandedHammingPairs(m6Sigs(s, d)))

  /** m7 — SHARED-SEGMENT media near-dup (scene-level): two assets are
    * related if they share ≥2 identical 1-s segments (m5's 256-B grid)
    * — the shape of copied-footage/compilation detection, where m6's
    * whole-asset signature washes out a clip embedded in a longer
    * video. Scale shape: segment hashes group corpus-wide, the ≥2-doc
    * support cut (the t36/t37 rule) shrinks the join input to only
    * segments that CAN pair, the pair join is SHUFFLE_HASH-pinned
    * (both sides corpus-scaled — never broadcast), and only 16-byte
    * hashes + ids shuffle, never payload. */
  def m7SegmentNearDup(s: SparkSession, d: String): DataFrame =
    m7Of(media(s, d))

  private[graft] def m7Of(mediaDf: DataFrame): DataFrame = {
    val segs = m5SegmentStatsOf(mediaDf)
      .select(col("doc_id"), col("seg_hash"))
      .dropDuplicates("doc_id", "seg_hash")
    val shared = segs.groupBy("seg_hash")
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("seg_hash")
    val cut = segs.join(shared.hint("SHUFFLE_HASH"), Seq("seg_hash"))
    cut.as("x")
      .join(cut.as("y"),
        col("x.seg_hash") === col("y.seg_hash") &&
          col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_segs"))
      .filter(col("n_shared_segs") >= 2)
  }

  /** m8 — ASSET DEDUP CLUSTERS: m6's pairwise near-dup relation
    * closed into TRANSITIVE clusters with t17's min-label propagation
    * (the same edge-connected-only fixpoint; singletons never enter
    * the loop), then a per-cluster census — the keep-one-per-cluster
    * manifest an asset-dedup pass actually acts on. The oracle
    * re-derives the closure with an independent algorithm
    * (recursive-SQL reachability over the same signature dump), the
    * t17/g2 cross-check discipline. */
  def m8AssetClusters(s: SparkSession, d: String): DataFrame = {
    // the m6 pair-gen is the expensive part (signature scan + banded
    // self-join) and arrives session-pinned from m6MediaNearDup; the
    // projection over the cached relation is free, and componentsOf's
    // round loop pins the edges for the rounds and frees them on exit
    val pairs = m6MediaNearDup(s, d).select(col("doc_a"), col("doc_b"))
    val nodes = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    TextOps.componentsOf(nodes, pairs, Seq("m8", d))
      .groupBy("comp")
      .agg(count(lit(1)).as("n_assets"), min(col("doc_id")).as("keep_id"))
  }

  /** m9 — CONTENT-DEFINED KEYFRAME SELECTION: over m3's frame grid,
    * keep the frames whose content hash starts with a 0-mod-8 hex
    * nibble (`'0'`/`'8'` — an expected 1/8 sample). Selecting on the
    * CONTENT hash instead of a fixed stride is the video analog of
    * content-defined chunking: insert or drop frames upstream and the
    * same frames keep getting selected downstream of the edit, where a
    * stride grid shifts everything — the property that makes keyframe
    * fingerprints join across re-encodes of the same asset. Emits the
    * per-asset keyframe census (count, span, integer per-mille rate).
    *
    * Scale: rides m3's one-pass payload scan — the selection predicate
    * is a codegen'd string compare on the already-computed hash, the
    * census one map-side-combining aggregate; no shuffle carries
    * payload bytes, and assets with zero keyframes survive via the
    * frame-side aggregate (no join at all). */
  def m9Keyframes(s: SparkSession, d: String): DataFrame = {
    val isKey = substring(col("frame_hash"), 1, 1).isin("0", "8")
    m3FrameSample(s, d)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(isKey, 1L).otherwise(0L)).as("n_keyframes"),
        min(when(isKey, col("frame_idx"))).as("first_key"),
        max(when(isKey, col("frame_idx"))).as("last_key"))
      .select(col("doc_id"), col("n_frames"), col("n_keyframes"),
        coalesce(col("first_key"), lit(-1)).as("first_key"),
        coalesce(col("last_key"), lit(-1)).as("last_key"),
        expr("n_keyframes * 1000 div n_frames").as("key_permille"))
  }

  /** m10 — CONTENT-ADDRESSABLE STORAGE SAVINGS: what a CAS layer
    * (dedup-by-content-hash, the media-lake storage idiom) would save
    * per format — asset/unique-payload counts and the byte delta. One
    * payload pass for the hash (the m1 fingerprint discipline), then
    * a two-level aggregate on the 16-byte hash; payload bytes never
    * shuffle (the hash and n_bytes do). */
  def m10CasSavings(s: SparkSession, d: String): DataFrame =
    m10CasSavingsOf(media(s, d))

  private[graft] def m10CasSavingsOf(m: DataFrame): DataFrame =
    m
      .groupBy(col("format"), md5(col("media")).as("h"), col("n_bytes"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("format")
      .agg(sum(col("cnt")).as("n_assets"),
        count(lit(1)).as("n_unique"),
        sum(expr("cnt * cast(n_bytes as bigint)")).as("bytes_total"),
        sum(expr("(cnt - 1) * cast(n_bytes as bigint)"))
          .as("bytes_saved"))
      .withColumn("dup_assets", col("n_assets") - col("n_unique"))

  /** Chunk relation (doc_id, format, off, len, hash) off the codegen'd
    * [[graft.functions.CdcChunk]] expression — dumped by
    * [[graft.OpLake]] so the m12 oracle re-derives the dedup
    * accounting from the identical split. */
  private[graft] def m12ChunksOf(m: DataFrame): DataFrame =
    m.select(col("doc_id"), col("format"),
        explode(graft.functions.CdcChunk(col("media"))).as("c"))
      .select(col("doc_id"), col("format"), col("c.off").as("off"),
        col("c.len").as("len"), col("c.hash").as("hash"))

  private[graft] def m12Chunks(s: SparkSession, d: String): DataFrame =
    m12ChunksOf(media(s, d))

  /** m12 — CONTENT-DEFINED CHUNK DEDUP (FastCDC gear-hash split, the
    * LBFS/Venti recipe): the chunk-level extension of m10's whole-asset
    * CAS — near-identical payloads (appended logs, re-muxed captures,
    * prefix-shifted variants) share every chunk past the first
    * re-aligned boundary even though their whole-asset hashes differ.
    * Per format: chunk totals, unique-chunk bytes, the whole-asset
    * unique bytes for comparison, and the EXTRA bytes chunking saves
    * on top of whole-asset dedup (provably ≥ 0: identical assets split
    * identically, so every whole-asset dup is also a chunk dup). Only
    * (format, hash, len) triples shuffle — payload bytes never leave
    * the scan, the chunk split runs inside whole-stage codegen, and
    * the rollup combines map-side. */
  def m12CdcDedup(s: SparkSession, d: String): DataFrame =
    m12CdcDedupOf(media(s, d))

  private[graft] def m12CdcDedupOf(m: DataFrame): DataFrame = {
    val perHash = m12ChunksOf(m)
      .groupBy("format", "hash", "len")
      .agg(count(lit(1)).as("cnt"))
    perHash.groupBy("format").agg(
        sum(col("cnt")).as("n_chunks"),
        count(lit(1)).as("n_unique_chunks"),
        sum(expr("cnt * cast(len as bigint)")).as("bytes_total"),
        sum(col("len").cast("long")).as("bytes_unique"))
      .join(m10CasSavingsOf(m).select(col("format"),
        (col("bytes_total") - col("bytes_saved"))
          .as("bytes_unique_whole")), Seq("format"))
      .select(col("format"), col("n_chunks"), col("n_unique_chunks"),
        col("bytes_total"), col("bytes_unique"),
        col("bytes_unique_whole"),
        (col("bytes_unique_whole") - col("bytes_unique"))
          .as("cdc_extra_saved"))
  }

  /** m12b — SPLIT-SEMANTICS AUDIT: the chunk BOUNDARIES themselves,
    * independently recomputable. m12's oracle re-derives the dedup
    * accounting from the dumped chunk relation — it trusts the split.
    * This query removes that trust edge on a bounded sample: both
    * sides chunk the first KiB of a deterministic 20-doc sample — the
    * engine through the codegen'd [[graft.functions.CdcChunk]]
    * expression, the oracle by re-running the gear-hash recursion
    * (LCG gear table, h←2h+gear[b], 6-bit mask, min 16 / max 256,
    * FNV-1a chunk ids) from the RAW parquet bytes in a recursive CTE.
    * A drift in CdcChunk's boundary or hash rule goes red here even
    * if every downstream accounting hash still reconciles. */
  def m12bCdcSplitAudit(s: SparkSession, d: String): DataFrame =
    media(s, d)
      .filter(col("doc_id") % 25 === 0)
      .orderBy("doc_id").limit(20)
      .select(col("doc_id"),
        explode(graft.functions.CdcChunk(
          expr("substring(media, 1, 1024)"))).as("c"))
      .select(col("doc_id"), col("c.off").cast("long").as("off"),
        col("c.len").cast("long").as("len"), col("c.hash").as("hash"))

  /** The m12b sample, chunked: first KiB of the deterministic 20-doc
    * sample through the codegen'd [[graft.functions.CdcChunk]] — the
    * chunk relation both m12b (batch) and m13b (streaming) audit
    * against the raw-bytes SQL recursion. */
  private[graft] def m13bPrefixChunks(s: SparkSession, d: String)
      : DataFrame =
    media(s, d)
      .filter(col("doc_id") % 25 === 0)
      .orderBy("doc_id").limit(20)
      .select(col("doc_id"), col("format"),
        explode(graft.functions.CdcChunk(
          expr("substring(media, 1, 1024)"))).as("c"))
      .select(col("doc_id"), col("format"), col("c.off").as("off"),
        col("c.len").as("len"), col("c.hash").as("hash"))

  /** m13b — STREAMING SPLIT AUDIT: closes the trust edge m13's parity
    * row leaves open. m13 proves stream ≡ batch — but both sides
    * consume the SAME engine chunk relation, so a drift in the split
    * itself (CdcChunk boundaries or hashes) moves both sides together
    * and parity stays green; m12b catches that drift for the BATCH
    * path only. Here the engine side is the real streaming store's
    * emissions — [[graft.streaming.TwsOps.chunkPrefixReplay]], the
    * RocksDB-backed transformWithState replay over the m12b 20-doc
    * first-KiB sample — and the ORACLE re-derives everything from RAW
    * parquet bytes: the gear-hash recursion re-splits the prefix in a
    * recursive CTE (no engine dump read anywhere), then a window
    * recomputes the first-instance store decision per
    * (format, hash, len) in (doc_id, off) replay order. A
    * streaming-only drift (state key, arrival order, dedup decision)
    * OR a split drift now goes red independently of m13. Memoized per
    * (session, sf): the replay collects the ~60-chunk sample once. */
  def m13bStreamSplitAudit(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.cached(s, "Multimodal.m13b", d)(
      graft.streaming.TwsOps.chunkPrefixReplay(s, d)
        .select(col("doc_id"), col("format"),
          col("off").cast("long").as("off"),
          col("len").cast("long").as("len"),
          col("hash"), col("stored"),
          col("bytes_written").cast("long").as("bytes_written")))

  /** m13 — the STREAM≡BATCH parity row for the CHUNK store (the
    * twelfth parity row; the m-family's second): batch recompute of
    * the per-chunk-instance store/dedup-hit decision — an instance is
    * STORED iff it is the (doc_id, off)-minimal instance of its
    * (format, chunk-hash) pool key (first arrival in the replay's
    * order; per-format pools so the accounting reconciles exactly
    * with m12's per-format unique bytes). The oracle reads the
    * streaming [[graft.streaming.TwsOps.chunkReplay]] emissions
    * verbatim, so the hash gate proves the cross-batch
    * boolean-per-chunk-hash state replays this batch derivation
    * exactly — m12's chunk-dedup savings hold under continuous
    * incremental ingest, not just batch rebuild. Shuffles only
    * (hash, doc_id, off) triples — the same hash shuffle m12 pays. */
  def m13StreamChunkIngest(s: SparkSession, d: String): DataFrame = {
    val ch = m12Chunks(s, d)
    // (format, hash, len) — the chunk store's identity key; len keeps
    // a same-hash different-length collision from aliasing two chunks
    val firsts = ch.groupBy("format", "hash", "len")
      .agg(min(struct(col("doc_id"), col("off"))).as("f"))
    ch.join(firsts, Seq("format", "hash", "len"))
      .select(col("doc_id"), col("format"),
        col("off").cast("long").as("off"),
        (col("doc_id") === col("f.doc_id") &&
          col("off") === col("f.off")).as("stored"),
        when(col("doc_id") === col("f.doc_id") &&
          col("off") === col("f.off"), col("len").cast("long"))
          .otherwise(0L).as("bytes_written"))
  }

  /** m11 — the STREAM≡BATCH parity row for the CAS layer (the
    * eleventh parity row; the m-family's first): batch recompute of
    * the per-asset store/dedup-hit decision — an asset is STORED iff
    * it is the min doc_id of its content hash (first arrival in the
    * replay's doc_id order). The oracle reads the streaming
    * [[graft.streaming.TwsOps.casReplay]] emissions verbatim, so the
    * hash gate proves the cross-batch boolean-per-hash state replays
    * this batch derivation exactly — m10's savings accounting holds
    * under continuous ingest, not just batch rebuild. The window
    * partitions on the 16-byte hash (the shuffle m10 pays anyway). */
  def m11StreamCas(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
    media(s, d)
      .select(col("doc_id"), col("format"),
        md5(col("media")).as("h"),
        col("n_bytes").cast("long").as("n_bytes"))
      .withColumn("first_doc", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("format"),
        (col("doc_id") === col("first_doc")).as("stored"),
        when(col("doc_id") === col("first_doc"), col("n_bytes"))
          .otherwise(0L).as("bytes_written"))
  }

  /** Scale-stress probe (diag-only, the z-family convention):
    * z28 runs the CDC dedup at `stressReps`× where every replica gets
    * a DISTINCT i-dependent prefix prepended — all whole-asset hashes
    * differ (CAS reclaims nothing across replicas), yet every payload
    * tail re-aligns after the first content boundary, so chunk-level
    * unique bytes must stay near the base corpus' (+ O(reps × docs ×
    * chunk) boundary slop) while total bytes grow ~reps×. The
    * adversarial shape CDC exists for, measured. */
  def diag: Map[String, (SparkSession, String) => DataFrame] = Map(
    "z28_m12_20x" -> ((s: SparkSession, d: String) => {
      val reps = (0 until TextOps.stressReps).map(i =>
          documents(s, d).select(
            (col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            concat(lit("v" * i + ":"), col("text")).as("text"),
            col("source")))
        .reduce(_ unionByName _)
      m12CdcDedupOf(mediaOf(reps))
    }))

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m12_cdc_dedup" -> m12CdcDedup _,
    "m12b_cdc_split_audit" -> m12bCdcSplitAudit _,
    "m13_stream_chunks" -> m13StreamChunkIngest _,
    "m13b_stream_split_audit" -> m13bStreamSplitAudit _,
    "m11_stream_cas" -> m11StreamCas _,
    "m10_cas_savings" -> m10CasSavings _,
    "m9_keyframes" -> m9Keyframes _,
    "m8_asset_clusters" -> m8AssetClusters _,
    "m7_segment_neardup" -> m7SegmentNearDup _,
    "m6_media_neardup" -> m6MediaNearDup _,
    "m5_segment_stats" -> m5SegmentStats _,
    "m1_media_meta" -> m1MediaMeta _,
    "m2_feature_extract" -> m2FeatureExtract _,
    "m3_frame_sample" -> m3FrameSample _,
    "m4_resize" -> m4Resize _,
  )
}
