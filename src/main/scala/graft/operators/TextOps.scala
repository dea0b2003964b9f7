package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables._
import graft.functions.VectorExprs.simhash

/** Training-data-pipeline text operators over the `documents` table:
  * exact + near dedup, fingerprinting, token/quality stats, language ID.
  *
  * Scale notes (100 TB design):
  *  - exact dedup groups on a 128-bit content hash, never the raw text —
  *    the shuffle carries 16 bytes + doc_id per row, not documents;
  *  - near-dup works on 48-bit shingle hashes (two xxhash64 values per
  *    token 3-gram, hashed straight from the token triple; MinHash
  *    permutations come from double hashing h1 + i·h2, so the per-shingle
  *    hash cost is constant in the number of permutations);
  *  - the exact-jaccard variant (t6) is the correctness baseline and is
  *    quadratic in shared-shingle frequency; MinHash/LSH (t7) and SimHash
  *    (t8) bound pair generation to same-band buckets and verify only the
  *    candidate set — the scale path;
  *  - everything is codegen'd `functions._` or custom codegen'd
  *    expressions (`simhash`), no UDFs.
  */
object TextOps {

  /** The corpus scan every t-query reads, spread across the session's
    * cores ([[graft.Tables.spread]] — a no-op on multi-split layouts):
    * tokenize/shingle/hash array kernels are the per-row cost, so scan
    * parallelism IS the family's wall clock. Shadows the `Tables._`
    * import for every call site in this file. */
  private def documents(s: SparkSession, d: String): DataFrame =
    graft.Tables.spreadCached(s, d, "documents", col("doc_id"))

  /** Exact deduplication by full-content hash (the reference's
    * whole-value table compare `psi_table.c:74-105` is the same
    * semantics: change-detect by content equality). */
  def t1ExactDedup(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("copies"))

  /** Token statistics: whitespace tokenization + char/word ratios. */
  def t2TokenStats(s: SparkSession, d: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    documents(s, d)
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars_m"),
        size(toks).as("n_tokens"),
        (length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
          size(toks)).as("avg_token_len"))
  }

  /** Quality scoring: stopword ratio, punctuation ratio, token density —
    * the length/punct/stopword heuristics of C4-style filters. */
  def t3QualityScore(s: SparkSession, d: String): DataFrame =
    qualityScoreOf(documents(s, d))

  private def qualityScoreOf(docs: DataFrame): DataFrame = {
    val stop = Seq("the", "a", "of", "to", "and")
    val toks = split(trim(col("text")), "\\s+")
    val nTok = size(toks).cast("double")
    val stopCnt =
      size(filter(toks, t => t.isin(stop.map(lit): _*))).cast("double")
    val punctCnt =
      length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("double")
    docs
      .select(
        col("doc_id"),
        (stopCnt / nTok).as("stopword_ratio"),
        (punctCnt / length(col("text")).cast("double")).as("punct_ratio"),
        (nTok / length(col("text")).cast("double")).as("token_density"))
  }

  /** t12 — deterministic hash-based train/val/test split: the
    * materialization step every training pipeline runs before export.
    * Bucketing is a pure function of the CONTENT hash (not doc_id), so
    * re-ingested duplicates land in the same split and the assignment
    * survives re-partitioning/re-ingestion — no RNG, no state. */
  def t12HashSplit(s: SparkSession, d: String): DataFrame = {
    val h = md5(col("text").cast("binary"))
    // 24 bits of hash (6 hex chars) → near-uniform buckets: 16^6 % 100
    // leaves a ≤6e-6 relative bias per bucket (the earlier 2-char ascii
    // derivation had only 256 reachable values — a systematic 90.2/5.5/
    // 4.3 skew). conv() parses hex; the oracle rebuilds the same integer
    // digit-wise (DuckDB has no conv).
    val bucket =
      (conv(substring(h, 1, 6), 16, 10).cast("long") % 100).cast("int")
    documents(s, d)
      .select(
        col("doc_id"),
        bucket.as("bucket"),
        when(bucket < 90, "train")
          .when(bucket < 95, "val")
          .otherwise("test").as("split"))
  }

  /** Language identification: deterministic marker-word scoring (en/es/fr
    * stopword hits; CJK/Cyrillic by script range), 'und' fallback. A real
    * deployment swaps the marker table for n-gram profiles; the Spark
    * shape (pure column expressions, no shuffle) is the point. */
  def t4LangId(s: SparkSession, d: String): DataFrame = {
    val toks = split(lower(trim(col("text"))), "\\s+")
    def hits(ws: Seq[String]) =
      size(filter(toks, t => t.isin(ws.map(lit): _*)))
    val en = hits(Seq("the", "a", "of", "and", "to", "is"))
    val es = hits(Seq("el", "la", "de", "y", "que", "en"))
    val fr = hits(Seq("le", "la", "de", "et", "que", "est"))
    val hasCjk = length(regexp_replace(col("text"), "[^\\u4e00-\\u9fff]", ""))
    val hasCyr = length(regexp_replace(col("text"), "[^\\u0400-\\u04ff]", ""))
    documents(s, d)
      .select(
        col("doc_id"),
        when(hasCjk > 0, "zh")
          .when(hasCyr > 0, "ru")
          .when(en >= es && en >= fr && en > 0, "en")
          .when(es >= fr && es > 0, "es")
          .when(fr > 0, "fr")
          .otherwise("und").as("pred_lang"))
  }

  /** Word-3-gram shingles per document (tokenized once, then windowed —
    * SQL `arr[i]` is 0-based). */
  private def shingled(s: SparkSession, d: String): DataFrame =
    shingledOf(documents(s, d))

  private[graft] def shingledOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        split(trim(col("text")), "\\s+").as("toks"))
      .select(
        col("doc_id"),
        // size(toks) < 3 would make sequence() DESCEND (0, -1, …) and
        // hash null tokens into bogus shared shingles — guard to empty
        expr(
          """CASE WHEN size(toks) >= 3 THEN
            |  transform(sequence(0, size(toks) - 3),
            |    i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))
            |ELSE array() END""".stripMargin)
          .as("shingles"))

  /** Distinct shingle-hash relation, one row per (doc, distinct shingle):
    * (doc_id, h1, h2) with two independent 48-bit xxhash64 values per
    * token 3-gram (hashed straight from the token triple — no intermediate
    * shingle string). The 64-bit dedup runs inside the array
    * (array_distinct is hash-set O(n) for atomic types — NOT for structs,
    * which scan pairwise), and the array build is INLINE in explode():
    * a standalone projection holding a higher-order function is
    * CodegenFallback — it gets evaluated interpreted and materializes the
    * array across the stage boundary, which measured ~10× slower than the
    * generator evaluating the same tree once per input row. h1/h2 are
    * plain post-explode scalars, so they whole-stage-codegen. 48 bits
    * keeps every downstream integer composition (jaccard set sizes,
    * simhash bit sums, containment prefixes) inside exact Long range;
    * the MinHash permutations hash (h1, h2, seed) per band row, so
    * they need no arithmetic headroom. */
  private def shingleExplodedOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"),
        // same short-doc guard as `shingled`: < 3 tokens ⇒ no shingles,
        // not a descending sequence of null-token hashes
        explode(expr(
          """CASE WHEN size(toks) >= 3 THEN
            |  array_distinct(transform(sequence(0, size(toks) - 3),
            |    i -> xxhash64(toks[i], toks[i + 1], toks[i + 2])))
            |ELSE array() END""".stripMargin)).as("h"))
      .select(
        col("doc_id"),
        shiftrightunsigned(col("h"), 16).as("h1"),
        expr("shiftrightunsigned(xxhash64(h, 1), 16)").as("h2"))

  private def shingleExploded(s: SparkSession, d: String): DataFrame =
    shingleExplodedOf(documents(s, d))

  /** Document fingerprint: min-hash-of-shingles (single-permutation
    * MinHash == the rolling-hash fingerprint class). */
  def t5Fingerprint(s: SparkSession, d: String): DataFrame =
    shingled(s, d)
      .select(
        col("doc_id"),
        array_min(transform(col("shingles"), sh => md5(sh.cast("binary"))))
          .as("fingerprint"))

  /** t34 — WINNOWING fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * selection rule): hash the positional 3-gram shingles, slide a
    * w=4 window over them, keep each window's minimum — a guaranteed
    * fingerprint every w consecutive shingles at expected density
    * 2/(w+1), vs t5's single global min (no local guarantee). Docs
    * shorter than one window keep their global min, so every shingled
    * doc fingerprints. The rightmost-tie POSITION rule only affects
    * where a fingerprint anchors, not its value, so the value set is
    * exactly the distinct window minima — which is all the pair join
    * consumes, and all both engines need agree on. Selection is a
    * per-doc array kernel (NO shuffle — the corpus-scan half is
    * embarrassingly parallel); only the ≤ 2/(w+1)-density fingerprint
    * relation shuffles, cut to globally-duplicated values first (t6's
    * exactness-preserving input cut). Hashes are the first 48 bits of
    * md5, so both engines derive identical values from the bytes. */
  def t34Winnowing(s: SparkSession, d: String): DataFrame =
    t34WinnowingOf(shingled(s, d))

  private[graft] def t34WinnowingOf(shingledDocs: DataFrame): DataFrame = {
    val fps = shingledDocs
      .select(col("doc_id"), expr(
        """transform(shingles,
          |  sh -> CAST(conv(substring(md5(sh), 1, 12), 16, 10)
          |    AS BIGINT))""".stripMargin).as("hs"))
      .select(col("doc_id"), explode(expr(
        """array_distinct(CASE
          |  WHEN size(hs) >= 4 THEN transform(sequence(3, size(hs) - 1),
          |    e -> least(hs[e - 3], hs[e - 2], hs[e - 1], hs[e]))
          |  WHEN size(hs) >= 1 THEN array(array_min(hs))
          |  ELSE array() END)""".stripMargin)).as("h"))
    val hot = fps.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("h")
    val fh = fps.join(hot, Seq("h"))
    // corpus-scaled self-join: SHUFFLE_HASH pin (the t10/t11/t13 rule —
    // the static planner would broadcast the unmaterialized side), and
    // the identical a/b exchange subtrees collapse via ReuseExchange so
    // the fingerprint pass runs twice (hot + one side), not three times
    fh.as("a")
      .join(fh.as("b").hint("SHUFFLE_HASH"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
  }

  /** N-gram Jaccard near-duplicate pairs (exact): explode distinct
    * shingle hashes, self-join, jaccard = |∩| / (|A|+|B|-|∩|) ≥ 0.5.
    * The exact baseline the LSH paths approximate. */
  /** Cached (doc_id, h1, h2, n) shingle relation — ONE tokenize+hash
    * pass shared by the exact (t6) and approximate (t7/t8) near-dup
    * paths and their composites (t10/t11); the per-doc distinct count
    * rides a window over the doc_id shuffle. */
  /** The shared (doc_id, h1, h2) relation carries NO per-doc count
    * column: annotating every shingle row with its doc's count costs
    * either a full-relation window shuffle or a join whose build side
    * the static planner mis-sizes (the pre-materialization cache
    * estimate) into a corpus-scaled broadcast. The only consumer of
    * counts is t6, which derives them itself behind a real Exchange. */
  // localCheckpoint, not .cache(): seven consumers re-scan this
  // relation and the RDD re-read beat the in-memory columnar cache on
  // interleaved minima (t13 0.50 vs 0.78 s, t33 cpu 9 vs 14 s warm —
  // round 10); the materialized stats also make build-side sizes real
  private[operators] def shRelationOf(docs: DataFrame): DataFrame =
    shingleExplodedOf(docs).localCheckpoint()

  // memoized per (session, dir): seven queries (t7/t8/t13/t25/t32/
  // t33 + the lsh pair build) read the same shingle relation — one
  // cache entry, not one re-cache warning per consumer
  private def shRelation(s: SparkSession, d: String): DataFrame =
    lshMemo(s, d + "#sh")(shRelationOf(documents(s, d)))

  /** Verified LSH near-dup pair set, memoized per (session, dir): t7,
    * t10 and t11 all consume the same pairs — one banded join + verify
    * per session instead of three. Evicted via [[graft.SessionMemo]].
    * `lshCached` entries are PINNED by the memo itself (single cache
    * owner — builders hand back bare plans); `lshMemo` entries reuse
    * the plan without pinning (the shingle relation is scan-shaped and
    * cheap to recompute). */
  private val lshMemo = graft.SessionMemo.forDataFrames()
  private val lshCached = graft.SessionMemo.forCachedDataFrames()
  private[graft] def lshPairs(s: SparkSession, d: String): DataFrame =
    lshCached(s, d)(minHashLshOf(shRelation(s, d)))

  /** Exact (t6) near-dup pair set, memoized per (session, dir) like
    * [[lshPairs]]: t6 and the t13 recall contract both consume it, and
    * t13's two aggregates would otherwise re-run the quadratic self-join
    * twice more per bench sweep. */
  private[graft] def exactPairs(s: SparkSession, d: String): DataFrame =
    lshCached(s, d + "#exact")(exactPairsOf(s, d))

  def t6NgramJaccard(s: SparkSession, d: String): DataFrame =
    exactPairs(s, d)

  private def exactPairsOf(s: SparkSession, d: String): DataFrame = {
    val sh = shRelation(s, d).select(col("doc_id"), col("h1").as("h"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // exactness-preserving input cut: a shingle held by a single doc can
    // never produce a pair, so the self-join only needs the globally
    // duplicated shingles (sizes still come from the FULL counts above);
    // on mostly-unique corpora this shrinks the join input by ~10×.
    // n is annotated onto the reduced relation (enables the size-ratio
    // prefilter inside the self-join) — sizes sit behind an Exchange,
    // so AQE sizes the annotation join from real stats
    val hot = sh.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("h")
    val shHot = sh.join(hot, Seq("h")).join(sizes, Seq("doc_id"))
    // size-ratio prefilter: jaccard = |∩|/|∪| ≤ min(na,nb)/max(na,nb),
    // so pairs past the 0.5 gate must have sizes within 2× — pruning
    // pair generation inside the shingle join, before the heavy groupBy
    val inter = shHot.as("a")
      .join(shHot.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") <= col("b.n") * 2 && col("b.n") <= col("a.n") * 2)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    // sizes is per-doc (scales with the corpus) — no broadcast hint;
    // AQE broadcasts while it fits and shuffles beyond that
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(
        col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (col("sa.n") + col("sb.n") - col("inter")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** MinHash + LSH banded near-dup: 24 permutations via double hashing
    * (h1 + i·h2), 12 bands of 2; same-band candidates verified with exact
    * jaccard over the hash sets (array_intersect on the candidates only —
    * never the full pair space). 12 bands put per-pair candidate recall
    * at the jaccard=0.5 gate at 1-(1-0.5²)¹² ≈ 97% (8 bands was ~90%);
    * actual recall vs the exact pair set is asserted every Verify run by
    * `t13_lsh_recall`, so a corpus where banding loses a true pair fails
    * the driver gate loudly instead of silently thinning t7/t10/t11. */
  def t7MinHashLsh(s: SparkSession, d: String): DataFrame =
    lshPairs(s, d)

  /** Same-band CANDIDATE pair set (pre-verification): 24 min-hash
    * permutations via double hashing, 12 bands of 2, distinct same-band
    * pairs. Factored out of [[minHashLshOf]] because this relation is
    * ALSO the exact set the STREAMING near-dup operator
    * (`streaming.TwsOps.nearDupDocsStream`) must have emitted after a
    * full replay — the t25 oracle row pins that batch≡stream equality
    * through the driver's hash gate. */
  /** The (doc_id, band, band_key) relation both the candidate join and
    * the t61 cost planner read: signature[i] = min over shingles of
    * (h1 + i*h2) — 48-bit inputs, no overflow under ANSI arithmetic.
    * 16 codegen'd min aggregates over the shared cached shingle
    * relation: pure HashAggregate, one shuffle on doc_id, no array
    * state (a collect_list here would force ObjectHashAggregate and
    * carry the hash sets through every join). */
  private[graft] def lshBandsOf(sh: DataFrame): DataFrame = {
    val numHashes = 24
    val bandSize = 2
    val numBands = numHashes / bandSize
    // 24 INDEPENDENT hash functions via per-seed xxhash64 of the
    // shingle hash — NOT the un-modded double-hash h1 + i·h2: without
    // a modulus, i·h2 (≤ 23·2^48) dominates h1 (< 2^48) for every
    // i ≥ 2, so 22 of the 24 "permutations" collapse to h2-order and
    // the whole sketch degrades to ~2 effective permutations. Found
    // by the round-8 cross-sf sweep: three jaccard-0.91–0.96 pairs at
    // sf0.001 whose one differing shingle held the min h2 disagreed
    // on 23–24/24 signatures and shared ZERO bands (P ≈ 1e-12 for a
    // true MinHash). Seeded xxhash64 restores the advertised
    // 1-(1-j²)¹² recall curve.
    val sigAggs = (1 until numHashes).map(i =>
      min(expr(s"xxhash64(h1, h2, $i)")).as(s"s_$i"))
    val sigs = sh.groupBy("doc_id")
      .agg(min(expr("xxhash64(h1, h2, 0)")).as("s_0"), sigAggs: _*)
    // band the signatures — the band join and pair dedup shuffle
    // (doc_id, band_key) rows only
    sigs.select(
      col("doc_id"),
      explode(array((0 until numBands).map(b =>
        struct(lit(b).as("band"),
          concat_ws(":", col(s"s_${b * bandSize}"),
            col(s"s_${b * bandSize + 1}")).as("band_key"))): _*))
        .as("bk"))
      .select(col("doc_id"),
        col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Bands over the corpus — dumped by [[graft.OpLake]] so the t61
    * oracle re-aggregates the identical relation in SQL. */
  private[graft] def t61Bands(s: SparkSession, d: String): DataFrame =
    lshBandsOf(shRelation(s, d))

  /** t61 — LSH COST PLANNER: the pre-flight report a 100-TB dedup run
    * reads BEFORE launching the banded join — per band: bucket count,
    * candidate-pair mass (sum over buckets of C(sz,2), the exact row
    * count the band contributes to the pair shuffle) and the hottest
    * bucket (the z26 skew probe's planning input — a band whose
    * max_bucket dwarfs its mean needs salting or a wider band key).
    * Integer-exact everywhere; aggregates over (band, band_key) combine
    * map-side, so the report costs one pass over the band relation the
    * dedup would build anyway. */
  def t61LshCost(s: SparkSession, d: String): DataFrame =
    lshBandsOf(shRelation(s, d))
      .groupBy("band", "band_key").agg(count(lit(1)).as("sz"))
      .groupBy("band").agg(
        count(lit(1)).as("n_buckets"),
        sum(col("sz")).as("n_docs"),
        max(col("sz")).as("max_bucket"),
        sum(expr("sz * (sz - 1) div 2")).as("cand_pairs"),
        sum(when(col("sz") === 1, 1L).otherwise(0L)).as("n_singletons"))

  private[graft] def lshCandidatesOf(sh: DataFrame): DataFrame = {
    val bands = lshBandsOf(sh)
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** t25: the streaming↔batch near-dup parity row — the Spark side is
    * the batch candidate relation; the ORACLE side is the pair set the
    * streaming operator emitted during Verify's deterministic
    * multi-batch replay (dumped by [[graft.OpLake]]). A hash match
    * means the cross-batch bucket state reconstructs exactly the
    * batch banding — the same closure ts16–ts18 gave the encoders. */
  def t25StreamNearDup(s: SparkSession, d: String): DataFrame =
    lshCandidatesOf(shRelation(s, d))

  private[operators] def minHashLshOf(sh: DataFrame): DataFrame = {
    val cands = lshCandidatesOf(sh)
    // exact-jaccard verification via per-doc shingle-SET arrays: one
    // bounded row per doc (≤ distinct shingles), candidates join the
    // sets once and intersect in-task. The alternative — joining pairs
    // back onto the exploded shingle relation — either broadcasts a
    // corpus-scaled side (the pre-materialization cache stats
    // under-estimate it, and AQE cannot demote a broadcast with no
    // shuffle boundary under the build side: driver OOM at 20×) or
    // materializes a pair×shingles intermediate (disk blowup). The
    // array build sits behind its own Exchange, so AQE picks the join
    // strategy from REAL sizes: broadcast at small SF, shuffle at scale.
    val docSets = sh.groupBy("doc_id")
      .agg(collect_list(col("h1")).as("hs"))
    cands
      .join(docSets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(docSets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(
        col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa.hs"), col("sb.hs")))
          .cast("double").as("inter"),
        size(col("sa.hs")).cast("double").as("na"),
        size(col("sb.hs")).cast("double").as("nb"))
      .select(
        col("doc_a"), col("doc_b"),
        (col("inter") / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Per-doc 48-bit simhash signatures — the engine-specific layer of t8.
    * Verify dumps this relation to parquet ([[graft.OpLake]]) so the
    * DuckDB oracle can re-derive the banding + hamming + gate
    * independently (the TsLake dump-and-recompute pattern). */
  private[graft] def simhashSigs(s: SparkSession, d: String): DataFrame =
    shRelation(s, d)
      .groupBy("doc_id")
      .agg(collect_list(col("h1")).as("hs"))
      .select(col("doc_id"), simhash(col("hs"), 48).as("sh"))

  /** Banded-hamming pair generation over a (doc_id, sh) 48-bit
    * signature relation — pigeonhole: any pair within hamming ≤ 12 of
    * 48 bits agrees exactly on at least one of the 4 12-bit chunks, so
    * the self-join is bounded to same-chunk buckets (never all-pairs).
    * Shared by t8 (text shingle simhash) and m6 (media byte simhash). */
  private[graft] def bandedHammingPairs(sigs: DataFrame): DataFrame = {
    val chunks = sigs.select(
      col("doc_id"), col("sh"),
      explode(expr(
        """transform(sequence(0, 3), c ->
          |  struct(c as chunk,
          |    shiftright(sh, c * 12) & 4095 as ckey))""".stripMargin))
        .as("ck"))
      .select(col("doc_id"), col("sh"),
        col("ck.chunk").as("chunk"), col("ck.ckey").as("ckey"))
    chunks.as("x")
      .join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") &&
          col("x.ckey") === col("y.ckey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= 12)
      .select("doc_a", "doc_b", "hamming")
  }

  /** SimHash near-dup: 48-bit simhash over shingle hashes (codegen'd
    * `simhash` kernel, no explode/shuffle for the signature), pairs
    * within hamming ≤ 12 via banded join on 4×12-bit chunks. */
  def t8SimHash(s: SparkSession, d: String): DataFrame =
    bandedHammingPairs(simhashSigs(s, d))

  /** BPE-ish tokenization: GPT-2-style pretokenizer classes (leading-
    * space word / number / punctuation runs) without lookahead so the
    * same pattern runs on Java regex and RE2. Token count approximates
    * LLM token budgeting at corpus scale — pure codegen'd regexp, no
    * UDF. */
  def t9BpeTokens(s: SparkSession, d: String): DataFrame = {
    val pat = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"
    documents(s, d)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0)))
          .as("n_bpe_tokens"),
        (length(col("text")).cast("double") /
          size(regexp_extract_all(col("text"), lit(pat), lit(0))))
          .as("chars_per_token"))
  }

  /** t62 — TOKENIZER FERTILITY BY LANGUAGE: tokens-per-word and
    * chars-per-token rolled up per predicted language (the t4 rule) —
    * the multilingual-pipeline diagnostic that flags languages where a
    * Latin-centric tokenizer explodes (high fertility means a doc
    * consumes its token budget on fragments; CJK under a word-split
    * tokenizer is the classic case). Ratios are exact scaled integers
    * (ppm / milli) over per-language sums, so the report is bit-stable
    * and the rollup is one map-side-combined pass over the corpus —
    * language cardinality bounds the shuffle, not doc count. */
  def t62Fertility(s: SparkSession, d: String): DataFrame = {
    val pat = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"
    val m = documents(s, d).select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_words"),
      size(regexp_extract_all(col("text"), lit(pat), lit(0)))
        .cast("long").as("n_toks"),
      length(col("text")).cast("long").as("n_chars"))
    t4LangId(s, d).join(m, Seq("doc_id"))
      .groupBy("pred_lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("pred_lang"), col("n_docs"), col("n_words"),
        col("n_tokens"),
        expr("n_tokens * 1000000 div n_words").as("fertility_ppm"),
        expr("n_chars * 1000 div n_tokens").as("chars_per_token_milli"))
  }

  /** Dedup resolution: canonical id per doc = min(self, near-dup
    * neighbors) — one union-find hop over the t6 pair set; the
    * "keep-one-copy" materialization step of a dedup pipeline. */
  def t10DedupResolve(s: SparkSession, d: String): DataFrame = {
    // pair set from the bounded LSH path (t7), not the quadratic exact
    // join (t6): candidates are same-band only and get exact-jaccard
    // verified, so at the 0.5 gate the result equals the exact pair set
    // whenever banding recall is total — a property t13_lsh_recall
    // re-asserts against the oracle on every Verify run (t6 remains the
    // exact baseline)
    val pairs = lshPairs(s, d).select(col("doc_a"), col("doc_b"))
    val neighborMin = pairs
      .select(col("doc_b").as("doc_id"), col("doc_a").as("cand"))
      .groupBy("doc_id")
      .agg(min(col("cand")).as("min_nb"))
    // the neighbor set scales with the corpus — pin the join to a
    // shuffle so no plan ever builds a corpus-sized broadcast (the
    // driver-side broadcast build is what dies first at 20×/100 TB)
    documents(s, d).select(col("doc_id"))
      .join(neighborMin.hint("SHUFFLE_HASH"), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        least(col("doc_id"), coalesce(col("min_nb"), col("doc_id")))
          .as("canonical_id"))
  }

  /** Composed pipeline filter: documents that pass quality thresholds AND
    * survive near-dup removal (drop the larger id of each pair) — the
    * end-to-end "training-set selection" query. */
  def t11QualityFilter(s: SparkSession, d: String): DataFrame = {
    val q = t3QualityScore(s, d)
      .filter(
        col("stopword_ratio") <= 0.5 &&
          col("token_density") >= 0.05 && col("token_density") <= 0.5)
      .select(col("doc_id"))
    // LSH pair set for the same reason as t10 — this is the query that
    // was corpus-quadratic through t6 and the slowest of the bench sweep
    // corpus-scaled right side — shuffle, never broadcast (see t10)
    val dupLosers = lshPairs(s, d)
      .select(col("doc_b").as("doc_id"))
      .distinct()
    q.join(dupLosers.hint("SHUFFLE_HASH"), Seq("doc_id"), "left_anti")
  }

  /** t13 — the LSH recall contract as a driver-checkable query: count of
    * exact (t6) pairs, and how many of them the banded+verified LSH path
    * (t7) misses. The oracle pins n_missing_from_lsh to 0 — t10/t11
    * substitute the LSH pair set for the exact one, and this row is what
    * makes that substitution fail LOUDLY (red correctness row) on any
    * corpus where banding recall stops being total, rather than silently
    * dropping duplicate pairs. */
  def t13LshRecall(s: SparkSession, d: String): DataFrame = {
    val exact = exactPairs(s, d).select("doc_a", "doc_b")
    val lsh = lshPairs(s, d).select("doc_a", "doc_b")
    // the LSH pair set scales with the corpus — same SHUFFLE_HASH pin
    // as t10/t11 (also keeps the plan shape independent of whether the
    // pair caches happen to be materialized with row stats)
    val missing = exact.join(lsh.hint("SHUFFLE_HASH"),
      Seq("doc_a", "doc_b"), "left_anti")
    exact.agg(count(lit(1)).as("n_exact_pairs"))
      .crossJoin(missing.agg(count(lit(1)).as("n_missing_from_lsh")))
  }

  /** Stress-family corpus replication factor — the z-queries run the
    * sf corpus at `reps`× with distinct doc/vec ids. Default 20 (the
    * per-round envelope); raise via GRAFT_STRESS_REPS for
    * overnight-class extrapolation runs (COVERAGE records a 100× one).
    * Query names keep their historical `_20x` suffix — they are ids. */
  private[graft] def stressReps: Int =
    sys.env.getOrElse("GRAFT_STRESS_REPS", "20").toInt

  /** Sub-plan probes for hotspot profiling (in `SparkEntry.diag`, run
    * with `graft.TimeOne` — not part of the driver-visible surface). */
  def diag: Map[String, (SparkSession, String) => DataFrame] = Map(
    // t68 at 20× doc replication (distinct ids, identical text): the
    // checkpoint grid stays ≤128 rows by the ceiling-width rule, the
    // final cum_tokens is exactly 20× the base corpus, and the final
    // cum_vocab EQUALS the base vocabulary (clones add tokens, never
    // types) — the Heaps-curve shape a dedup-starved corpus shows
    "z30_t68_20x" -> ((s: SparkSession, d: String) => {
      val reps = (0 until stressReps).map(i => documents(s, d)
          .select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            col("text")))
        .reduce(_ unionByName _)
      heapsOf(reps)
    }),
    "z1_sh_relation" -> ((s: SparkSession, d: String) =>
      shingleExploded(s, d)),
    // LSH scale stress: the sf corpus replicated 20× (distinct doc_ids;
    // every doc gains 19 perfect clones) through the full MinHash+LSH
    // path — the run that would be quadratic corpus² on the exact path
    "z6_t7_20x" -> ((s: SparkSession, d: String) => {
      val reps = (0 until stressReps).map(i => documents(s, d)
          .select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            col("text")))
        .reduce(_ unionByName _)
      minHashLshOf(shRelationOf(reps))
    }),
    // connected components at 20×: every clone group is a complete
    // 20+-node subgraph (diameter 1), so the fixpoint must land in ~2
    // rounds while the label relation carries ~every doc — the loop's
    // state scales with the duplicate population, and this pins it
    "z10_t17_20x" -> ((s: SparkSession, d: String) => {
      val reps = (0 until stressReps).map(i => documents(s, d)
          .select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            col("text")))
        .reduce(_ unionByName _)
      componentsOf(reps.select(col("doc_id")),
        minHashLshOf(shRelationOf(reps))
          .select(col("doc_a"), col("doc_b")))
    }),
    // composed-pipeline scale stress: the full t11 shape (quality filter
    // + LSH dup removal) on the corpus replicated 20× — the run the
    // round-1 t6-composed version could not survive
    "z8_t11_20x" -> ((s: SparkSession, d: String) => {
      val reps = (0 until stressReps).map(i => documents(s, d)
          .select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            col("text")))
        .reduce(_ unionByName _)
      // MATERIALIZE the pair set before composing (exactly what
      // production t11 gets from the session-memoized lshPairs): with
      // the raw plan inlined instead, the anti-join query re-references
      // the 20-way-union subtree and AQE re-materializes the per-branch
      // stages per consumer — measured 202 AQE jobs / 227 s / tens of
      // GB of duplicated shuffle at 20×, vs 11 jobs for the pair set
      // alone. localCheckpoint truncates the composed plan to a leaf.
      val losers = minHashLshOf(shRelationOf(reps))
        .select(col("doc_b").as("doc_id"))
        .distinct()
        .localCheckpoint(true)
      qualityScoreOf(reps)
        .filter(
          col("stopword_ratio") <= 0.5 &&
            col("token_density") >= 0.05 && col("token_density") <= 0.5)
        .select(col("doc_id"))
        .join(losers.hint("SHUFFLE_HASH"), Seq("doc_id"), "left_anti")
    }),
    // segment-dedup scale stress: 20× corpus (every doc gains 19 perfect
    // clones, so EVERY segment becomes cross-doc duplicated) — pins that
    // both shuffles stay hash-only and the count join survives a corpus
    // where the frequency side is as large as the segment side
    "z11_t18_20x" -> ((s: SparkSession, d: String) => {
      val reps = (0 until stressReps).map(i => documents(s, d)
          .select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            col("text")))
        .reduce(_ unionByName _)
      segmentDedupOf(reps)
    }),
    // packing scale stress: 20× corpus over 64 shards — pins that the
    // prefix-sum window stays shard-local (shards are the scale-out
    // axis: per-shard chain length grows ~N/shards, not N) and that
    // the summary never materializes per-doc rows to the driver
    "z14_t26_20x" -> ((s: SparkSession, d: String) => {
      val reps = (0 until stressReps).map(i => documents(s, d)
          .select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            col("text")))
        .reduce(_ unionByName _)
      packOf(reps, 2048, 64)
        .groupBy("shard")
        .agg(count(lit(1)).as("docs"),
          max(col("tok_offset")).as("max_off"),
          (max(col("bin")) + 1).as("bins"))
    }),
    // containment scale stress: 20× corpus — every clone group is a
    // complete containment clique (ratio-cut-free pair space), so this
    // pins that pair generation stays bounded by shared-shingle
    // buckets even without t6's size prefilter
    "z15_t32_20x" -> ((s: SparkSession, d: String) => {
      val reps = (0 until stressReps).map(i => documents(s, d)
          .select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            col("text")))
        .reduce(_ unionByName _)
      containmentOf(shRelationOf(reps))
        .agg(count(lit(1)).as("pairs"),
          sum(when(col("containment") === 1.0, 1L).otherwise(0L))
            .as("full_containment"))
    }),
    // prefix-filter scale stress: the SAME 20× corpus and the SAME
    // output aggregate as z15, through t33's pruned candidate path —
    // the z15-vs-z16 timing delta IS the measured value of prefix
    // filtering on a clique-heavy (worst-case) pair space
    "z16_t33_20x" -> ((s: SparkSession, d: String) => {
      val reps = (0 until stressReps).map(i => documents(s, d)
          .select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            col("text")))
        .reduce(_ unionByName _)
      prefixContainmentOf(shRelationOf(reps))
        .agg(count(lit(1)).as("pairs"),
          sum(when(col("containment") === 1.0, 1L).otherwise(0L))
            .as("full_containment"))
    }),
    // prune-ratio probe: t33's verified candidate count next to the
    // naive shared-shingle pair space t32 aggregates over — the
    // fraction of the comparison space prefix filtering removes
    "z17_t33_prune" -> ((s: SparkSession, d: String) => {
      val shRel = shRelation(s, d)
      val sh = shRel.select(col("doc_id"), col("h1").as("h"))
      val hot = sh.groupBy("h").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2).select("h")
      val shHot = sh.join(hot, Seq("h"))
      val naive = shHot.as("a")
        .join(shHot.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      prefixCandidatesOf(shRel).agg(count(lit(1)).as("cand_pairs"))
        .crossJoin(naive.agg(count(lit(1)).as("naive_pairs")))
    }),
    // winnowing scale stress: 20× corpus through t34 — the selection
    // pass is per-doc (scales linearly with docs); only the
    // fingerprint-pair join sees the clone cliques, and its input is
    // the 2/(w+1)-density fingerprint relation, not the shingles
    "z18_t34_20x" -> ((s: SparkSession, d: String) => {
      val reps = (0 until stressReps).map(i => documents(s, d)
          .select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            col("text")))
        .reduce(_ unionByName _)
      t34WinnowingOf(shingledOf(reps))
        .agg(count(lit(1)).as("pairs"),
          sum(col("n_shared")).as("total_shared"))
    }),
    // dup-span scale stress: 20× corpus — every 8-token window gains
    // 19 cross-doc twins, so EVERY window is duplicated and the
    // interval-union sweep runs at its worst case (covered ≡ n_tokens
    // on every ≥8-token doc); also pins the SHUFFLE_HASH freq join
    // when the dup-hash side is as large as the window side
    "z19_t36_20x" -> ((s: SparkSession, d: String) => {
      val reps = (0 until stressReps).map(i => documents(s, d)
          .select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            col("text")))
        .reduce(_ unionByName _)
      dupSpansOf(reps)
        .agg(count(lit(1)).as("docs"),
          sum(col("covered_tokens")).as("covered"),
          sum(col("n_tokens")).as("tokens"),
          sum(when(col("covered_tokens") === col("n_tokens"), 1L)
            .otherwise(0L)).as("fully_covered"))
    }),
    // ExactSubstr-rewrite scale stress: 20× clones — the GLOBAL-first
    // semantics must keep exactly the i=0 replica's base behavior
    // (clone ids are strictly larger) and cut every ≥8-token clone to
    // nothing; removed mass follows the exact closed form
    // base_removed + 19 × Σ tokens(docs with ≥8 tokens). Also the
    // worst case of the within-doc position⋈removal join (every
    // position of every clone covered).
    // BM25 at 20×: the full path (df/idf build + inverted-index
    // scoring + per-query top-k) over the replicated corpus — postings
    // scale 20×, but the query set stays 15 terms and the model stays
    // O(vocab), so wall time must track the postings scan, not pairs
    "z24_t50_20x" -> ((s: SparkSession, d: String) => {
      val reps = (0 until stressReps).map(i => documents(s, d)
          .select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            col("text")))
        .reduce(_ unionByName _)
      t50Of(bm25TokensOf(reps))
    }),
    "z21_t46_20x" -> ((s: SparkSession, d: String) => {
      val reps = (0 until stressReps).map(i => documents(s, d)
          .select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
            col("text")))
        .reduce(_ unionByName _)
      exactsubstrRewriteOf(reps)
        .agg(count(lit(1)).as("docs"),
          sum(col("n_removed")).as("removed"),
          sum(when(col("n_removed") === col("n_tokens"), 1L)
            .otherwise(0L)).as("fully_removed"))
    }),
    "z2_inter_nocache" -> ((s: SparkSession, d: String) => {
      val sh = shingleExploded(s, d)
        .select(col("doc_id"), col("h1").as("h"))
        .withColumn("n",
          count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      sh.as("a")
        .join(sh.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
            col("a.n") <= col("b.n") * 2 && col("b.n") <= col("a.n") * 2)
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
    }),
  )

  /** The distinct token-trigram STRINGS of every document (doc_id,
    * trigram) — the decontamination join key. Production would hash the
    * trigram (xxhash64, as the dedup family does); strings here keep the
    * relation oracle-derivable in an independent engine. */
  private def tokenTrigrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"),
        explode(expr(
          """CASE WHEN size(toks) >= 3 THEN
            |  array_distinct(transform(sequence(0, size(toks) - 3),
            |    i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])))
            |ELSE array() END""".stripMargin)).as("trigram"))

  /** t14 — benchmark decontamination: flag corpus documents that share
    * ≥ 3 distinct token trigrams with any eval-set document (the
    * train/test-overlap scrub every LLM pipeline runs before training;
    * the 3-gram-overlap criterion is the standard published recipe).
    * The eval set (here: doc_id < 10) is benchmark-suite-sized, so it
    * BROADCASTS — the corpus side streams through one hash join and the
    * shuffle carries only (doc, eval, hit) matches, never the corpus
    * trigram relation. */
  def t14Decontaminate(s: SparkSession, d: String): DataFrame = {
    val tg = tokenTrigrams(documents(s, d))
    val eval_ = tg.filter(col("doc_id") < 10)
      .select(col("doc_id").as("eval_id"), col("trigram"))
    tg.filter(col("doc_id") >= 10)
      .join(broadcast(eval_), Seq("trigram"))
      .groupBy("doc_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
  }

  /** t23 — FUZZY benchmark decontamination: t14's exact n-gram overlap
    * catches verbatim contamination; this catches paraphrase-level
    * contamination via the MinHash+LSH near-dup path — an eval doc and a
    * corpus doc whose shingle sets are jaccard ≥ 0.5 similar. Reuses the
    * session's verified LSH pair set (one tokenize+hash pass serves
    * dedup, recall audit, AND decontamination), filtered to cross-set
    * pairs; at scale the eval side is vanishingly small, so the banded
    * candidate space bounds the work exactly as in t7. */
  def t23FuzzyDecontaminate(s: SparkSession, d: String): DataFrame =
    lshPairs(s, d)
      .filter(col("doc_a") < 10 && col("doc_b") >= 10)
      .select(col("doc_a").as("eval_id"), col("doc_b").as("doc_id"),
        col("jaccard"))

  /** t15 — PII scrub: count and redact email / phone patterns (the
    * pre-training privacy pass). The corpus is synthetic, so PII is
    * planted deterministically inside the query (both engines plant
    * identically); patterns are kept in the Java∩RE2 regex dialect so
    * the oracle's engine matches byte-for-byte. Pure codegen'd regexp
    * work — the scrub runs inside the scan projection at scale. */
  def t15PiiScrub(s: SparkSession, d: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\+1-555-[0-9]{4}"
    val planted = documents(s, d).select(
      col("doc_id"),
      concat(
        col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(lit(" call +1-555-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("t"))
    planted.select(
      col("doc_id"),
      size(regexp_extract_all(col("t"), lit(emailRe), lit(0)))
        .as("n_emails"),
      size(regexp_extract_all(col("t"), lit(phoneRe), lit(0)))
        .as("n_phones"),
      regexp_replace(regexp_replace(col("t"), emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>").as("scrubbed"))
  }

  /** t16 — intra-document repetition score (the Gopher/MassiveText
    * repetition filters): duplicated-trigram fraction and the most
    * frequent token's share of the document. Both are per-doc column
    * math + one partial-aggregated explode — no cross-doc work, scales
    * linearly. */
  def t16Repetition(s: SparkSession, d: String): DataFrame =
    repetitionOf(documents(s, d))

  private[graft] def repetitionOf(docs: DataFrame): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val tg = expr(
      """CASE WHEN size(toks) >= 3 THEN
        |  transform(sequence(0, size(toks) - 3),
        |    i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))
        |ELSE array() END""".stripMargin)
    val base = docs
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        tg.as("tg"), col("toks"))
      .select(col("doc_id"), col("n_tokens"),
        when(size(col("tg")) > 0,
          (size(col("tg")) - size(array_distinct(col("tg"))))
            .cast("double") / size(col("tg")).cast("double"))
          .otherwise(lit(0.0)).as("dup_trigram_frac"),
        col("toks"))
    val topTok = base
      .select(col("doc_id"), col("n_tokens"), explode(col("toks")).as("tok"))
      .groupBy("doc_id", "n_tokens", "tok")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n_tokens")
      .agg(max(col("c")).as("maxc"))
      .select(col("doc_id"),
        (col("maxc").cast("double") / col("n_tokens").cast("double"))
          .as("top_token_ratio"))
    base.select("doc_id", "n_tokens", "dup_trigram_frac")
      .join(topTok, Seq("doc_id"))
  }

  /** t17 — duplicate CLUSTERS with transitive closure: t10's one-hop
    * min-neighbor resolution under-merges chains (A~B, B~C, no A~C pair
    * leaves C pointing at B). This is min-label propagation to a
    * fixpoint — the standard distributed connected-components algorithm
    * (Pregel/GraphX semantics) as plain DataFrame joins: per iteration
    * ONE edge⋈label shuffle join + a min-aggregate, repeated at most
    * graph-diameter times (the driver loop iterates over rounds, never
    * over rows; near-dup cluster diameters are tiny in practice). The
    * oracle re-derives the closure independently via recursive SQL. */
  def t17DupComponents(s: SparkSession, d: String): DataFrame =
    // memoized: t57's survivorship census re-reads the same closure,
    // and componentsOf pins its edge relation internally — one
    // closure run + one cache lineage per (session, dir)
    lshCached(s, d + "#t17c")(
      componentsOf(documents(s, d).select(col("doc_id")),
        lshPairs(s, d).select(col("doc_a"), col("doc_b"))))

  private[graft] def componentsOf(docs: DataFrame, pairs: DataFrame,
      maxIters: Int = 20): DataFrame = {
    val edges = pairs.unionByName(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      // .cache(), deliberately NOT localCheckpoint: measured (round
      // 10) — the eager checkpoint's extra materialization pass over
      // the edge build costs more than the columnar cache's per-round
      // re-scan here (g2 3.1-3.4 s ckpt vs 2.2-2.9 s cache warm)
      .cache()
    // iterate ONLY over edge-connected nodes — on a near-dup graph
    // that is a small fraction of the corpus (most docs are unique);
    // singletons rejoin as self-labeled roots afterwards, so the
    // fixpoint loop never carries corpus-scale state
    var labels = edges.select(col("doc_a").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("comp"))
      .cache()
    // one propagation hop per round, then a monotone checksum —
    // labels only ever decrease, so an unchanged sum(comp) IS the
    // fixpoint proof (no compare-join action needed)
    var iter = 0
    var done = false
    var prev = BigDecimal(-1)
    while (!done && iter < maxIters) {
      val viaNb = edges
        .join(labels.withColumnRenamed("doc_id", "nb"),
          col("doc_b") === col("nb"))
        .select(col("doc_a").as("doc_id"), col("comp"))
      // checkpoint the hop BEFORE the halving self-join: the union-
      // rooted plan trips Catalyst's constraint rewrite under a
      // self-join, and the truncation is the round's plan-flattening
      // anyway (label-scaled relation — one cheap pass). LAZY
      // checkpoint: the round's checksum action below materializes it
      // (first job over the RDD writes the checkpoint blocks), so the
      // round pays ONE action instead of an eager-materialize THEN the
      // checksum — measured ~0.3 s/round of scheduling overhead on the
      // m8 media graph
      val hop = labels.unionByName(viaNb)
        .groupBy("doc_id").agg(min(col("comp")).as("comp"))
        .localCheckpoint(false)
      // path halving (pointer jumping): also point each node at its
      // parent's parent — comp(x) ≤ x is invariant, so comp(comp) only
      // tightens labels, and rounds drop from O(diameter) to
      // O(log diameter) (the m8 media graph: 11 hops → 4 rounds). The
      // extra join is label-scaled (smaller than the edge join the
      // round already pays).
      val parents = hop
        .select(col("doc_id").as("pc"), col("comp").as("pcomp"))
      // merged stays LAZY: it sits depth-1 on the checkpointed hop, so
      // plan growth is bounded without a second eager materialization
      // — the round pays exactly two actions (hop checkpoint +
      // checksum) instead of three
      val merged = hop.join(parents, hop("comp") === parents("pc"),
          "left")
        .select(hop("doc_id").as("doc_id"),
          least(hop("comp"), coalesce(col("pcomp"), hop("comp")))
            .as("comp"))
      // eager localCheckpoint EVERY round: measured on the m8 media
      // graph (11-round fixpoint), cache()-per-round leaves each
      // round's plan nesting every prior round, and the ANALYZER cost
      // compounds ~1.6×/round (0.4 s → 10.9 s by round 5) even though
      // the data is cached — truncating the logical plan to the
      // materialized RDD holds every round at a flat ~0.3 s. The
      // materialization itself is one pass over the label vector
      // (edge-connected nodes only), which a cache would do anyway; on
      // a cluster this would be a reliable checkpoint for executor-
      // loss recovery too.
      val chk = BigDecimal(merged
        .agg(sum(col("comp").cast("decimal(38,0)")).as("s"))
        .first().getDecimal(0))
      labels = merged
      done = chk == prev
      prev = chk
      iter += 1
      if (sys.env.contains("GRAFT_CLOSURE_DEBUG")) System.err.println(s"[closure] round $iter chk=$chk")
    }
    edges.unpersist(blocking = false)
    // a silent cap would return a WRONG closure (under-merged labels
    // that the oracle would flag but a production caller would trust) —
    // fail loudly instead, naming the knob
    if (!done)
      throw new IllegalStateException(
        s"t17 components: min-label propagation not at fixpoint after " +
          s"$maxIters rounds — clone-graph diameter exceeds the cap; " +
          "raise maxIters")
    docs.select(col("doc_id"))
      .join(labels.hint("SHUFFLE_HASH"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("comp"))
  }

  /** t18: cross-document SEGMENT dedup (the line-level dedup pass of
    * C4/RefinedWeb-style corpus cleaning, applied to 10-token segments —
    * this corpus has no newlines). A segment counts as duplicated when
    * its text occurs in ≥ 2 DISTINCT documents. Per doc: total segments
    * and cross-doc-duplicated segments.
    *
    * Scale: segments reduce to 8-byte xxhash64 values immediately after
    * the in-task split, so both shuffles (hash→distinct-doc count, and
    * the count join back) carry hashes, never segment text. The frequency
    * side is corpus-scaled, so the join stays un-hinted for AQE to pick
    * shuffle vs broadcast from runtime stats. */
  def t18SegmentDedup(s: SparkSession, d: String): DataFrame =
    segmentDedupOf(documents(s, d))

  /** The 10-token-segment relation (doc_id, seg_hash) shared by t18
    * (cross-doc segment dedup) and t49 (incremental bloom dedup):
    * segments reduce to 8-byte xxhash64 in-task, so every downstream
    * shuffle carries hashes, never segment text. */
  private[graft] def tenTokenSegsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, cast(ceil(size(t)/10.0) as int) - 1),
          |  i -> xxhash64(array_join(slice(t, i*10+1, 10), ' ')))"""
          .stripMargin)).as("seg_hash"))

  private[graft] def segmentDedupOf(docs: DataFrame): DataFrame = {
    val segs = tenTokenSegsOf(docs)
    val freq = segs.groupBy("seg_hash")
      .agg(count_distinct(col("doc_id")).as("n_docs"))
    segs.join(freq, Seq("seg_hash"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup_segs"))
  }

  /** t19: per-document top-3 salient terms by a tf-idf surrogate.
    * score = tf · (N / df) — the log is dropped deliberately: ln() is not
    * IEEE-exact across engines (libm vs java.lang.Math differ in the last
    * ulp) while ·/÷ are, so the surrogate is bit-deterministic for the
    * oracle AND rank-equivalent to tf-idf per doc (log is monotone; tf
    * ties broken by term). One explode + two hash aggregations + a
    * bounded per-doc window (WindowGroupLimit pushes the top-3). */
  def t19Tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val terms = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = terms.groupBy("term").agg(count_distinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df_, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") *
          (col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("score"))
  }

  /** t21's unigram model: p(term) = corpus frequency, carried as
    * ln(p) QUANTIZED to DECIMAL(18,9). The quantization is the
    * cross-engine determinism trick: ln() differs in the last ulp
    * between libm and the JVM, so the model dumps the rounded decimal
    * and every downstream sum is exact decimal arithmetic — the oracle
    * consumes the dumped model and re-derives only +/÷, which are
    * IEEE-exact. (Model size = vocabulary, broadcast-scale.) */
  def t21Model(s: SparkSession, d: String): DataFrame = {
    val terms = documents(s, d)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
    val n = terms.agg(count(lit(1)).as("n_total"))
    terms.groupBy("term").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(n))
      .select(col("term"),
        log(col("cnt").cast("double") / col("n_total").cast("double"))
          .cast("decimal(18,9)").as("logp"))
  }

  /** t21: unigram log-probability scoring — the CCNet/KenLM-style
    * perplexity quality filter, reduced to its Spark-shaped core: score
    * each document by the mean token log-probability under a unigram
    * model of the corpus (higher = more typical; rare-token-heavy docs
    * score low). The model is vocabulary-sized → broadcast join; the
    * per-doc sum is a partial-aggregated DECIMAL sum, so the score is
    * identical under any partitioning. */
  def t21UnigramLogprob(s: SparkSession, d: String): DataFrame = {
    val terms = documents(s, d)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
    terms.join(broadcast(t21Model(s, d)), Seq("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("logp")).as("sum_logp"))
      .select(col("doc_id"), col("n_tokens"),
        (col("sum_logp").cast("double") / col("n_tokens").cast("double"))
          .as("mean_logp"))
  }

  /** t35 — CCNet-style PERPLEXITY TIERING (Wenzek et al. 2019 split
    * the corpus into head/middle/tail thirds by LM perplexity; t21's
    * unigram mean-logprob is the deterministic stand-in): every doc
    * gets its exact global tercile WITHOUT a global sort. The a15
    * two-pass order-statistic probe, globalized: (1) score-bucket
    * histogram (partial-aggregated groupBy), cumulative walk as a
    * grid self-join (the grid is ~10² buckets — NO single-partition
    * window anywhere); (2) only candidate-bucket rows rank locally,
    * producing the exact (score, doc_id) threshold TUPLES at ranks
    * ⌊n/3⌋ and ⌊2n/3⌋, broadcast as one row; (3) one scan assigns
    * tiers by lexicographic comparison — rank-cut ≡ tuple-cut because
    * (score desc, doc_id) is a total order. */
  def t35PerplexityTiers(s: SparkSession, d: String): DataFrame = {
    // the scored relation feeds FOUR subtrees (histogram, total,
    // candidate-bucket rank, final tier assignment) — materialize the
    // one-pass doc-scale score vector instead of re-running the
    // tokenize+join+aggregate t21 pass per subtree (guide §1.2)
    val withB = t21UnigramLogprob(s, d)
      .select(col("doc_id"), col("mean_logp"))
      .withColumn("bkt", floor(col("mean_logp") * 100))
      .localCheckpoint()
    val sc = withB
    val hist = withB.groupBy("bkt").agg(count(lit(1)).as("c"))
    // cum(bkt) = Σ c over buckets ≥ bkt: a desc-cumulative window over
    // the VALUE-BOUNDED bucket grid (bkt = floor(logp·100), a few
    // hundred rows by construction — the a8 documented-boundedness
    // rule), replacing the inequality self-join the planner could only
    // execute as a CartesianProduct
    val cum = hist.withColumn("cum",
      sum(col("c")).over(Window.orderBy(col("bkt").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = sc.agg(count(lit(1)).as("n"))
    val cand = cum.crossJoin(broadcast(tot))
      .withColumn("k33", floor(col("n") / 3))
      .withColumn("k66", floor(col("n") * 2 / 3))
      .withColumn("lo", col("cum") - col("c") + 1)
      .filter((col("k33") >= col("lo") && col("k33") <= col("cum")) ||
        (col("k66") >= col("lo") && col("k66") <= col("cum")))
      .select(col("bkt"), (col("lo") - 1).as("below"),
        col("k33"), col("k66"))
    val wloc = Window.partitionBy(col("bkt"))
      .orderBy(col("mean_logp").desc, col("doc_id"))
    val thr = withB.join(broadcast(cand), Seq("bkt"))
      .withColumn("r", row_number().over(wloc) + col("below"))
      .filter(col("r") === col("k33") || col("r") === col("k66"))
      .agg(
        max(when(col("r") === col("k33"), col("mean_logp"))).as("v33"),
        max(when(col("r") === col("k33"), col("doc_id"))).as("id33"),
        max(when(col("r") === col("k66"), col("mean_logp"))).as("v66"),
        max(when(col("r") === col("k66"), col("doc_id"))).as("id66"))
    withB.crossJoin(broadcast(thr))
      .select(col("doc_id"),
        when(col("mean_logp") > col("v33") ||
          (col("mean_logp") === col("v33") &&
            col("doc_id") <= col("id33")), "head")
          .when(col("mean_logp") > col("v66") ||
            (col("mean_logp") === col("v66") &&
              col("doc_id") <= col("id66")), "middle")
          .otherwise("tail").as("tier"))
  }

  /** t36 — EXACT-SUBSTRING duplicated-span coverage (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" §4.1
    * — their ExactSubstr removes 50-token spans shared verbatim across
    * documents; the 8-token windows here are the same semantics at this
    * corpus's doc length). Every overlapping window is hashed; a hash
    * seen in ≥2 DISTINCT docs marks its [p, p+7] token interval, and
    * each doc reports the exact size of the UNION of its marked
    * intervals via a running-max sweep INSIDE the per-doc window
    * partition (no global sort, no interval materialization). The
    * frequency shuffle carries 8-byte hashes, never window text —
    * t18's rule, applied to overlapping spans instead of disjoint
    * segments. */
  def t36DupSpans(s: SparkSession, d: String): DataFrame =
    dupSpansOf(documents(s, d))

  private[graft] def dupSpansOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
    val wins = toks.select(col("doc_id"), explode(expr(
        """CASE WHEN size(toks) >= 8 THEN
          |  transform(sequence(1, size(toks) - 7),
          |    p -> named_struct('p', p,
          |      'h', xxhash64(concat_ws(' ', slice(toks, p, 8)))))
          |ELSE CAST(array() AS ARRAY<STRUCT<p: INT, h: BIGINT>>)
          |END""".stripMargin)).as("w"))
      .select(col("doc_id"), col("w.p").as("p"), col("w.h").as("h"))
    val dupHashes = wins.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("h")
    val prev = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    // the dup-hash set is corpus-scaled — SHUFFLE_HASH pin, never
    // broadcast (the t10/t11/t13 rule from the round-2 20x OOM)
    val covered = wins.join(dupHashes.hint("SHUFFLE_HASH"), Seq("h"))
      .withColumn("pm", coalesce(max(col("p") + lit(7)).over(prev), lit(0)))
      .select(col("doc_id"),
        greatest(lit(0),
          col("p") + lit(7) - greatest(col("pm"), col("p") - 1))
          .as("contrib"))
      .groupBy("doc_id").agg(sum(col("contrib")).as("cov"))
    toks.select(col("doc_id"), size(col("toks")).as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("cov"), lit(0L)).as("covered_tokens"))
  }

  /** t37 — C4-style BOILERPLATE STRIP with text reconstruction
    * (Raffel et al. 2020 §2.2 drop lines that repeat verbatim across
    * the corpus — menus, cookie banners; t18's 10-token segments are
    * this corpus's "lines"). Segments occurring in ≥3 distinct docs
    * are dropped and the doc is REWRITTEN from its surviving tokens —
    * corpus rewriting, not per-doc stats. Scale shape: the frequency
    * join returns only (doc_id, removed-segment-index array) — ints,
    * never text — and the clean text reassembles from the ORIGINAL
    * token arrays in a final shuffle-free projection, so document
    * bodies cross the wire zero times. */
  def t37BoilerplateStrip(s: SparkSession, d: String): DataFrame = {
    val toks = documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
    val segs = toks.select(col("doc_id"), explode(expr(
        """transform(sequence(0, cast(ceil(size(toks)/10.0) as int) - 1),
          |  i -> named_struct('i', i,
          |    'h', xxhash64(array_join(slice(toks, i*10+1, 10), ' '))))"""
          .stripMargin)).as("g"))
      .select(col("doc_id"), col("g.i").as("i"), col("g.h").as("h"))
    val hot = segs.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 3).select("h")
    // hot-segment set is corpus-scaled — same SHUFFLE_HASH pin as t36
    val removed = segs.join(hot.hint("SHUFFLE_HASH"), Seq("h"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("i"))).as("rm"))
    toks.join(removed, Seq("doc_id"), "left")
      .withColumn("rm", coalesce(col("rm"), expr("CAST(array() AS ARRAY<INT>)")))
      .select(col("doc_id"),
        expr("""array_join(filter(toks,
          |  (tk, ix) -> NOT array_contains(rm, cast(ix div 10 as int))),
          |  ' ')""".stripMargin).as("clean_text"),
        size(col("rm")).as("n_removed_segs"))
  }

  /** t38 — repeat-factor UPSAMPLING (data epochs per domain):
    * Muennighoff et al. 2023 ("Scaling Data-Constrained Language
    * Models") show up to ~4 epochs of repeated data is nearly as good
    * as fresh — under-represented sources replay extra epochs to
    * balance the mix. epochs(src) = min(4, ⌈n_max / n_src⌉), all
    * integer (`div` ceil by (a+b-1) div b — no float rates, the t31
    * discipline), derived per-LANG (the skewed axis of this corpus —
    * low-resource languages replay, the multilingual-balancing use) and
    * BROADCAST; the corpus pass is one joined projection whose
    * generator fans each doc to its epoch count. Output one row per
    * (doc, epoch) — the materialized sampling plan a trainer consumes. */
  def t38Upsample(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val nmax = counts.agg(max(col("n_lang")).as("n_max"))
    val rates = counts.crossJoin(broadcast(nmax))
      .select(col("lang"),
        least(lit(4L), expr("(n_max + n_lang - 1) div n_lang"))
          .as("epochs"))
    docs.join(broadcast(rates), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        explode(expr("sequence(0, cast(epochs as int) - 1)")).as("epoch"))
  }

  /** t22: the composed Gopher-rules document gate (Rae et al. 2021,
    * "Scaling Language Models" §A1.1 — the published pre-training filter
    * set): word-count bounds, mean-word-length bounds, symbol-to-word
    * ratio, alphabetic-word fraction, and a minimum stop-word count,
    * evaluated together into one keep/drop decision per document. Every
    * signal is integer counting + one exact division, so the oracle
    * reproduces the booleans bit-for-bit; the whole gate is one codegen
    * projection over the pruned (doc_id, text) scan — zero shuffles,
    * which is what lets it run as the FIRST pass over 100 TB (cheapest
    * filter first, before any dedup shuffle touches the survivors). */
  def t22GopherFilter(s: SparkSession, d: String): DataFrame =
    gopherFilterOf(documents(s, d))

  private val gopherToks = split(trim(col("text")), "\\s+")
  private val gopherNWords = size(gopherToks)
  private val gopherMeanLen = (length(regexp_replace(col("text"), "\\s+", ""))
    .cast("double") / gopherNWords.cast("double"))
  private val gopherSymRatio =
    (length(regexp_replace(col("text"), "[^#…]", "")).cast("double") /
      gopherNWords.cast("double"))
  private val gopherAlphaFrac =
    (size(filter(gopherToks, t => t.rlike("[A-Za-z]"))).cast("double") /
      gopherNWords.cast("double"))
  private val gopherStopCnt = size(filter(gopherToks, t => t.isin(
    Seq("the", "a", "of", "to", "and", "in", "is", "that").map(lit): _*)))

  /** The composed keep/drop predicate over a `text` column — row-local,
    * so it applies identically to a batch relation or a live stream
    * (the streaming ingest gate in CorpusIngestSpec). */
  private[graft] val gopherKeep: org.apache.spark.sql.Column =
    gopherNWords >= 50 && gopherNWords <= 100000 &&
      gopherMeanLen >= 3.0 && gopherMeanLen <= 10.0 &&
      gopherSymRatio <= 0.1 && gopherAlphaFrac >= 0.8 &&
      gopherStopCnt >= 2

  private[graft] def gopherFilterOf(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      gopherNWords.as("n_words"),
      gopherMeanLen.as("mean_word_len"),
      gopherSymRatio.as("symbol_ratio"),
      gopherAlphaFrac.as("alpha_word_frac"),
      gopherStopCnt.as("n_stopwords"),
      gopherKeep.as("keep"))

  /** t64 — SCORE→FILTER CALIBRATION TABLE: does the cheap t3 quality
    * score predict the expensive t22 Gopher verdict? Decile-bucket the
    * stopword ratio and report the keep rate per bucket — the
    * reliability diagram a pipeline reads before swapping a full
    * filter cascade for a single cheap score threshold at 100 TB
    * (monotone keep_ppm over buckets = the score is a usable proxy).
    * Integer output; both scans are row-local projections and the
    * rollup is decile-bounded. */
  def t64Calibration(s: SparkSession, d: String): DataFrame =
    t3QualityScore(s, d)
      .select(col("doc_id"),
        least(lit(9L), floor(col("stopword_ratio") * 10).cast("long"))
          .as("bucket"))
      .join(gopherFilterOf(documents(s, d))
        .select(col("doc_id"), col("keep")), Seq("doc_id"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
      .select(col("bucket"), col("n_docs"), col("n_keep"),
        expr("n_keep * 1000000 div n_docs").as("keep_ppm"))

  /** t20: deterministic stratified sampling — per-language keep rates
    * (rebalance an over-represented language corpus: en 10%, zh 30%,
    * rest 50%) decided by a content-derived hash bucket, so the sample
    * is reproducible under any partitioning and needs no sampling state.
    * Same 24-bit md5 bucket derivation as t12 (near-uniform), salted so
    * the sample is independent of the train/val/test split. */
  def t20StratifiedSample(s: SparkSession, d: String): DataFrame = {
    val h = md5(concat(lit("strat:"), col("text")).cast("binary"))
    val bucket =
      (conv(substring(h, 1, 6), 16, 10).cast("long") % 1000).cast("int")
    val rate = when(col("lang") === "en", 100)
      .when(col("lang") === "zh", 300)
      .otherwise(500)
    documents(s, d)
      .withColumn("bucket", bucket)
      .filter(col("bucket") < rate)
      .select(col("doc_id"), col("lang"), col("source"), col("bucket"))
  }

  /** t26: sequence PACKING (concat-and-chunk) — the pretraining step
    * that lays documents end-to-end and cuts fixed-size context
    * windows. Each doc gets its shard, its token offset in the shard's
    * concatenated stream, the context bin that offset falls in, and
    * whether it straddles a bin boundary (the fraction a packer either
    * splits or pads around). Shard-local prefix sum: one window per
    * shard ordered by doc_id — shards are the scale-out axis (a 100 TB
    * corpus packs thousands of shards in parallel; within a shard the
    * prefix sum is one linear pass, the same shape as the k5 registry
    * slices). `budget` defaults to a power of two so Spark's double
    * division + floor is bit-equal to the oracle's integer division. */
  def t26Pack(s: SparkSession, d: String, budget: Int = 2048,
      nShards: Int = 8): DataFrame =
    packOf(documents(s, d), budget, nShards)

  private[graft] def packOf(docs: DataFrame, budget: Int,
      nShards: Int): DataFrame = {
    val ntok = size(split(trim(col("text")), "\\s+"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"),
        (col("doc_id") % nShards).cast("int").as("shard"),
        ntok.as("n_tokens"))
      .withColumn("tok_offset",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", floor(col("tok_offset") / budget).cast("int"))
      .withColumn("crosses_bin",
        floor((col("tok_offset") + col("n_tokens") - 1) / budget)
          .cast("int") > col("bin"))
  }

  /** t27: deterministic training SHUFFLE + sharding — a reproducible
    * global permutation of the corpus (shard + position per doc) from a
    * salted content-free hash, so any two runs (and any two engines)
    * agree on example order without a seed exchange. The shard is the
    * same 24-bit md5 bucket family as t12; position is a row_number
    * per shard ordered by the full hash. Scale: the sort is per-shard
    * (shard count rides corpus size), never global, and the shuffle
    * carries only (doc_id, 32-byte key). */
  def t27ShuffleShard(s: SparkSession, d: String, nShards: Int = 16)
      : DataFrame = {
    val shard = (conv(substring(col("shuffle_key"), 1, 6), 16, 10)
      .cast("long") % nShards).cast("int")
    val w = Window.partitionBy("shard")
      .orderBy(col("shuffle_key"), col("doc_id"))
    documents(s, d)
      .select(col("doc_id"),
        md5(concat(lit("shuf:"), col("doc_id").cast("string")))
          .as("shuffle_key"))
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(w))
  }

  /** t28: WEIGHTED sampling without floats — per-language top-k by an
    * integer hash lottery. A doc with weight w (here: token count in
    * 32-token units, capped) draws w tickets `md5(doc:i)` and plays its
    * minimum; ordering by that minimum is the discrete Efraimidis-
    * Spiraki A-Res scheme (min of w uniforms ~ Beta(1,w)), so selection
    * probability rises with w — but the comparison is pure string
    * order, no ln()/pow() to drift across engines (the a7/t21 lesson).
    * Scale: tickets are a bounded per-row array (≤ maxUnits), the only
    * shuffle is the per-lang top-k window, and WindowGroupLimit
    * push-down keeps each partition to its k best rows. */
  def t28WeightedSample(s: SparkSession, d: String, topK: Int = 10,
      maxUnits: Int = 64): DataFrame = {
    val ntok = size(split(trim(col("text")), "\\s+"))
    val units =
      least(lit(maxUnits), floor((ntok + lit(31)) / 32)).cast("int")
    val w = Window.partitionBy("lang")
      .orderBy(col("min_ticket"), col("doc_id"))
    documents(s, d)
      .select(col("doc_id"), col("lang"), units.as("w_units"))
      .withColumn("min_ticket",
        array_min(transform(sequence(lit(1), col("w_units")),
          i => md5(concat(lit("ws:"), col("doc_id").cast("string"),
            lit(":"), i.cast("string"))))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
  }

  /** t32: CONTAINMENT near-dup — the asymmetric companion of t6's
    * jaccard: containment = |A∩B| / min(|A|,|B|) catches a small doc
    * embedded in a large one (quote farms, boilerplate wrappers,
    * doc-in-doc scrapes) that jaccard misses because the union is
    * dominated by the big doc. Same shared-shingle input cut as t6
    * (singleton shingles cannot pair) but deliberately NO size-ratio
    * prefilter — asymmetric sizes are the point. The 0.8 gate is
    * integer cross-multiplication (`inter·10 ≥ n_small·8`); the
    * reported ratio is one IEEE division of exact counts. Exact
    * baseline like t6: at 100 TB the scale path is the banded LSH
    * family (t7/t8) feeding the same verify. */
  def t32Containment(s: SparkSession, d: String): DataFrame =
    containmentOf(shRelation(s, d))

  private[graft] def containmentOf(shRel: DataFrame): DataFrame = {
    val sh = shRel.select(col("doc_id"), col("h1").as("h"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val hot = sh.groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("h")
    val shHot = sh.join(hot, Seq("h"))
    val inter = shHot.as("a")
      .join(shHot.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .filter(col("inter") * 10 >= least(col("na"), col("nb")) * 8)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        least(col("na"), col("nb")).as("n_small"),
        (col("inter").cast("double") /
          least(col("na"), col("nb")).cast("double")).as("containment"))
  }

  /** t33: t32's containment via PREFIX FILTERING (the SSJoin/AllPairs
    * candidate-pruning technique) — provably the SAME output, scale
    * path instead of all-pairs. Pigeonhole: if containment ≥ 0.8 then
    * the smaller doc misses at most 0.2·n of its shingles in the
    * other, so probing its ⌊0.2·n⌋+1 globally-RAREST shingles must hit
    * the partner at least once (rarest-first ordering makes the probe
    * postings the shortest ones). Singleton shingles can't be shared,
    * so they only strengthen the bound. Candidate pairs then verify
    * exactly on per-doc shingle-set arrays (t7's verify shape). The
    * oracle is IDENTICAL to t32's SQL — equality of an optimized
    * algorithm against the naive definition, the cbrPlan/ForwardFill
    * closure applied to similarity join. */
  def t33PrefixContainment(s: SparkSession, d: String): DataFrame =
    prefixContainmentOf(shRelation(s, d))

  /** t33's candidate pairs alone — exposed so the diag family can
    * measure the prune ratio (candidates vs the naive shared-shingle
    * pair space) without re-deriving the probe logic. */
  private[graft] def prefixCandidatesOf(shRel: DataFrame): DataFrame = {
    val sh = shRel.select(col("doc_id"), col("h1").as("h"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val freq = sh.groupBy("h").agg(count(lit(1)).as("f"))
    // f = 1 shingles cannot be shared — drop them from the probe pool
    // (they count toward the miss budget, strengthening the pigeonhole)
    val shF = sh.join(freq.filter(col("f") >= 2), Seq("h"))
    val wDoc = Window.partitionBy("doc_id").orderBy(col("f"), col("h"))
    val probes = shF
      .join(sizes, Seq("doc_id"))
      .withColumn("rk", row_number().over(wDoc))
      .filter(col("rk") <= floor(col("n") / 5) + 1)
      .select(col("doc_id"), col("h"))
    probes.as("p")
      .join(sh.as("c"), col("p.h") === col("c.h") &&
        col("p.doc_id") =!= col("c.doc_id"))
      .select(least(col("p.doc_id"), col("c.doc_id")).as("doc_a"),
        greatest(col("p.doc_id"), col("c.doc_id")).as("doc_b"))
      .distinct()
  }

  private[graft] def prefixContainmentOf(shRel: DataFrame): DataFrame = {
    val sh = shRel.select(col("doc_id"), col("h1").as("h"))
    val cands = prefixCandidatesOf(shRel)
    val docSets = sh.groupBy("doc_id").agg(collect_list(col("h")).as("hs"))
    cands
      .join(docSets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(docSets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa.hs"), col("sb.hs"))).cast("long")
          .as("inter"),
        least(size(col("sa.hs")), size(col("sb.hs"))).cast("long")
          .as("n_small"))
      .filter(col("inter") * 10 >= col("n_small") * 8)
      .withColumn("containment",
        col("inter").cast("double") / col("n_small").cast("double"))
  }

  /** t30: global BIGRAM vocabulary — the corpus-wide adjacent-pair
    * count that is the inner loop of BPE/WordPiece tokenizer training
    * (t9 applies a merge table; this is the job that builds one).
    * zip_with over two shifted slices forms the bigrams in one
    * projection (no self-join), then a plain count: Spark's partial
    * (map-side) aggregation makes this the classic scalable wordcount —
    * the exchange carries one row per DISTINCT bigram per task, not per
    * occurrence. Top-k by (count desc, bigram) is a total order, so
    * the cut is deterministic; TakeOrderedAndProject keeps it
    * per-partition + driver merge, no global sort. */
  def t30BigramVocab(s: SparkSession, d: String, topK: Int = 100)
      : DataFrame = {
    val toks = split(trim(lower(col("text"))), "\\s+")
    documents(s, d)
      .select(explode(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(topK)
  }

  /** t67 — BLEU-STYLE N-GRAM PRECISION over the near-dup candidate
    * pairs: for each LSH pair (a < b), the modified (clipped) unigram
    * and bigram precision of a against b — Σ_g min(cnt_a(g), cnt_b(g))
    * over a's gram count, as floor ppm. The eval-metric view of the
    * dedup family: jaccard (t7) says "how much shingle SET overlap",
    * clipped precision says "how much of a's actual token mass b
    * reproduces", which is what a contamination or paraphrase audit
    * reports. Tokenization is the t2/t7 contract (trim + \s+ split,
    * case-preserved). Scale: gram counts are per-doc bounded rows;
    * the pair relation is the already-bounded LSH candidate set; both
    * clip joins shuffle on (doc, gram) — never a corpus×corpus
    * product, and payload text never rides past the explode. */
  def t67NgramPrecision(s: SparkSession, d: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val docs = documents(s, d)
    val uni = docs.select(col("doc_id"), explode(toks).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val big = docs.select(col("doc_id"), explode(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val lens = docs.select(col("doc_id"), size(toks).as("n1"))
    val pairs = lshPairs(s, d).select("doc_a", "doc_b")
    def clip(cnt: DataFrame, out: String) = pairs
      .join(cnt.select(col("doc_id").as("doc_a"), col("g"),
        col("c").as("ca")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("g"),
        col("c").as("cb")), Seq("doc_b", "g"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(least(col("ca"), col("cb"))).as(out))
    pairs
      .join(clip(uni, "clip1"), Seq("doc_a", "doc_b"), "left")
      .join(clip(big, "clip2"), Seq("doc_a", "doc_b"), "left")
      .join(lens.select(col("doc_id").as("doc_a"), col("n1")),
        Seq("doc_a"))
      .select(col("doc_a"), col("doc_b"),
        col("n1").as("n_tokens_a"),
        coalesce(col("clip1"), lit(0L)).as("clip1"),
        expr("coalesce(clip1, 0) * 1000000 div n1").as("p1_ppm"),
        expr("coalesce(clip2, 0) * 1000000 div greatest(n1 - 1, 1)")
          .as("p2_ppm"))
  }

  /** t68 — HEAPS-LAW VOCABULARY GROWTH: cumulative corpus tokens vs
    * cumulative distinct vocabulary along the doc_id order, at ≤128
    * data-derived checkpoints (chunk width = max_id/128 + 1, a ceiling
    * division, so the checkpoint GRID is bounded at any corpus size —
    * the windows run over ≤128 rows, never over docs). The curve a
    * tokenizer/vocab
    * team reads before sizing a BPE merge budget. The trick that
    * keeps it one-pass relational: cum_vocab(d) = #{tokens whose
    * FIRST document ≤ d} — a min-aggregate per token then a bounded
    * grid rollup, no sequential scan and no distinct-over-window. */
  def t68HeapsLaw(s: SparkSession, d: String): DataFrame =
    heapsOf(documents(s, d))

  private[operators] def heapsOf(docs: DataFrame): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    // ceiling width: chunk = doc_id div w ≤ 127, so the grid is ≤128
    // rows at ANY corpus size
    val width = docs.agg(expr(
      "(max(doc_id) div 128) + 1").as("w"))
    val perDoc = docs.select(col("doc_id"),
      size(toks).cast("long").as("ntok"))
    val firstDoc = docs.select(col("doc_id"), explode(toks).as("g"))
      .groupBy("g").agg(min(col("doc_id")).as("first_doc"))
    val tokChunk = perDoc.crossJoin(broadcast(width))
      .select(expr("doc_id div w").as("chunk"), col("ntok"))
      .groupBy("chunk")
      .agg(sum(col("ntok")).as("toks"), count(lit(1)).as("nd"))
    val vocChunk = firstDoc.crossJoin(broadcast(width))
      .select(expr("first_doc div w").as("chunk"))
      .groupBy("chunk").agg(count(lit(1)).as("voc"))
    // grid-bounded windows: ≤129 checkpoint rows by construction
    val wg = Window.orderBy("chunk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokChunk.join(vocChunk, Seq("chunk"), "left")
      .withColumn("cum_docs", sum(col("nd")).over(wg))
      .withColumn("cum_tokens", sum(col("toks")).over(wg))
      .withColumn("cum_vocab",
        sum(coalesce(col("voc"), lit(0L))).over(wg))
      .select(col("chunk"), col("cum_docs"), col("cum_tokens"),
        col("cum_vocab"))
  }

  /** t31: DOMAIN MIXING — rebalance the corpus to uniform source
    * shares by hash-rate downsampling every source to the smallest
    * one's size (keep-rate n_min/n_src). The accept test is pure
    * integer cross-multiplication (`bucket·n_src < 1e6·n_min`) on a
    * content-derived 1e6 bucket — no float rates to drift, and the
    * sample is reproducible under any partitioning (t20's property,
    * with DERIVED per-domain rates instead of fixed ones). Scale: two
    * broadcast joins of a source-dimension table (≤ distinct sources)
    * onto one pass over the corpus. */
  def t31DomainMix(s: SparkSession, d: String): DataFrame = {
    val h = md5(concat(lit("mix:"), col("text")).cast("binary"))
    val bucket =
      conv(substring(h, 1, 6), 16, 10).cast("long") % 1000000L
    val docs = documents(s, d)
      .select(col("doc_id"), col("source"), bucket.as("bucket"))
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
    val nmin = counts.agg(min(col("n_src")).as("n_min"))
    docs.join(broadcast(counts), Seq("source"))
      .crossJoin(broadcast(nmin))
      .select(col("doc_id"), col("source"),
        col("bucket").cast("int").as("bucket"),
        (col("bucket") * col("n_src") < lit(1000000L) * col("n_min"))
          .as("keep"))
  }

  /** t65 — TEMPERATURE-SCALED MIX PLANNER (the published multilingual
    * sampling recipe: p_i ∝ n_i^α with α = 0.5, the mBERT/XLM-R
    * exponentiated-share smoothing): per source, the target share,
    * planned token allocation against the t53 half-corpus budget, the
    * implied sampling rate, and the epoch multiplier for upsampled
    * tails. sqrt is IEEE-exact (correctly rounded in both engines), so
    * floor(sqrt(n)) is bit-stable; everything after it is integer
    * arithmetic with decimal(38,0)/HUGEINT cross-multiplication so a
    * 100-TB token count cannot overflow the planning products. One
    * aggregate over the corpus; output is source-cardinality-bounded. */
  def t65MixPlanner(s: SparkSession, d: String): DataFrame = {
    val perSrc = documents(s, d)
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .groupBy("source").agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"))
      .withColumn("weight",
        expr("cast(floor(sqrt(cast(n_tokens as double))) as bigint)"))
    val tot = perSrc.agg(sum(col("weight")).as("wsum"),
      expr("sum(n_tokens) div 2").as("budget"))
    perSrc.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("cast(cast(weight as decimal(38,0)) * 1000000 div wsum " +
          "as bigint)").as("target_share_ppm"),
        expr("cast(cast(budget as decimal(38,0)) * weight div wsum " +
          "as bigint)").as("planned_tokens"),
        expr("least(1000000, cast(cast(cast(budget as decimal(38,0)) " +
          "* weight div wsum as decimal(38,0)) * 1000000 " +
          "div n_tokens as bigint))").as("sample_rate_ppm"),
        expr("cast(cast(cast(budget as decimal(38,0)) * weight " +
          "div wsum as decimal(38,0)) * 1000 div n_tokens as bigint)")
          .as("epochs_milli"))
  }

  /** t66 — TRAIN/EVAL SPLIT LEAKAGE AUDIT: the check a pipeline runs
    * AFTER splitting (t12) and deduplicating (t7) — how many val/test
    * documents still have a near-duplicate sitting in train? Exact
    * dedup can't catch these (t12 buckets by content hash, so exact
    * dups land in the SAME split by construction — a property this
    * audit also certifies: near-dup leakage is the only kind left).
    * Per eval split: size, contaminated-doc count (distinct docs with
    * ≥1 train near-dup from the verified LSH pair set), leakage ppm.
    * Composes two memoized relations (split assignment, LSH pairs) —
    * the audit costs one bounded join, not a re-derivation. */
  def t66SplitLeakage(s: SparkSession, d: String): DataFrame = {
    val sp = t12HashSplit(s, d).select(col("doc_id"), col("split"))
    val pr = lshPairs(s, d).select("doc_a", "doc_b")
    val und = pr.unionByName(
      pr.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val contam = und
      .join(sp.toDF("doc_a", "split_a"), Seq("doc_a"))
      .join(sp.toDF("doc_b", "split_b"), Seq("doc_b"))
      .filter(col("split_a").isin("val", "test") &&
        col("split_b") === "train")
      .select(col("split_a").as("split"), col("doc_a"))
      .distinct()
      .groupBy("split").agg(count(lit(1)).as("n_contaminated"))
    sp.filter(col("split").isin("val", "test"))
      .groupBy("split").agg(count(lit(1)).as("n_docs"))
      .join(contam, Seq("split"), "left")
      .select(col("split"), col("n_docs"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        expr("coalesce(n_contaminated, 0) * 1000000 div n_docs")
          .as("leakage_ppm"))
  }

  /** t39: one BPE TRAINING MERGE iteration (Sennrich et al. 2016) —
    * t30 counts the pairs, this op CLOSES the trainer's inner loop:
    * pick the most frequent adjacent pair, apply the merge corpus-wide,
    * and recount. The merge application is the classic greedy
    * left-to-right scan, expressed as one literal `replace` over a
    * boundary-encoded token string (`|a||b|` → `|a_b|`): string replace
    * is non-overlapping left-to-right in every engine, which is exactly
    * BPE's application order, and the sentinel `|` boundaries stop
    * partial-token matches. Scale shape: pair selection is a map-side-
    * combined wordcount + a 1-row driver collect (the learned merge IS
    * the model, same bound as the k-means centroid collect); merge
    * application is a shuffle-free projection; the recount shuffles one
    * row per distinct pair per task. `merges` parameterizes the
    * iteration count (oracle default 1); each step's state stays a
    * DataFrame column, so K merges are K passes, never a driver loop
    * over rows. */
  def t39BpeMerge(s: SparkSession, d: String): DataFrame =
    bpeMergeOf(documents(s, d), merges = 1)

  private[graft] def bpeMergeOf(docs: DataFrame, merges: Int,
      topK: Int = 50): DataFrame = {
    // boundary-encode once: |tok1||tok2||...||tokN|
    var enc = docs.select(col("doc_id"),
      concat(lit("|"),
        array_join(split(trim(lower(col("text"))), "\\s+"), "||"),
        lit("|")).as("s"))
    def toksOf = split(expr("substring(s, 2, length(s) - 2)"), "\\|\\|")
    def pairCounts(e: DataFrame): DataFrame = {
      val tk = toksOf
      e.select(explode(zip_with(
          slice(tk, lit(1), size(tk) - 1),
          slice(tk, lit(2), size(tk) - 1),
          (a, b) => concat_ws(" ", a, b))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
    }
    var lastMerge = ""
    for (_ <- 0 until merges) {
      // 1-row collect: the learned merge is the model artifact
      val top = pairCounts(enc)
        .orderBy(col("n").desc, col("bigram")).limit(1).head()
      lastMerge = top.getString(0)
      val Array(a, b) = lastMerge.split(" ", 2)
      enc = enc.withColumn("s",
        regexp_replace(col("s"),
          lit(java.util.regex.Pattern.quote(s"|$a||$b|")),
          lit(java.util.regex.Matcher.quoteReplacement(s"|${a}_$b|"))))
    }
    pairCounts(enc)
      .orderBy(col("n").desc, col("bigram")).limit(topK)
      .select(lit(lastMerge).as("last_merge"), col("bigram"), col("n"))
  }

  /** t40: fastText-STYLE linear quality classifier (Joulin et al.
    * 2017; the CCNet/LLaMA wiki-vs-crawl data filter): a document's
    * score is the sum of hashed bag-of-words feature weights, keep if
    * positive. Weights here are content-derived integers
    * (md5("ft:"+tok) mod 2001 − 1000 ∈ [−1000,1000]) standing in for a
    * trained weight vector — the SHAPE is the real one: embedding
    * lookup by feature hash + linear score + threshold. The whole gate
    * is one shuffle-free codegen projection (aggregate over the token
    * array — no explode, no join), which is what lets a learned filter
    * run as a first pass over 100 TB; a trained model would swap the
    * hash for a broadcast weight-table join, still one pass. */
  def t40FasttextScore(s: SparkSession, d: String): DataFrame = {
    val tk = split(trim(lower(col("text"))), "\\s+")
    val weight: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      t => conv(substring(
          md5(concat(lit("ft:"), t).cast("binary")), 1, 6), 16, 10)
        .cast("long") % 2001L - 1000L
    documents(s, d).select(
      col("doc_id"),
      size(tk).as("n_tokens"),
      aggregate(transform(tk, weight), lit(0L),
        (acc, x) => acc + x).as("score_sum"))
      .withColumn("keep", col("score_sum") > 0L)
  }

  /** t41: DSIR — Data Selection via Importance Resampling (Xie et al.
    * 2023): rank raw documents by how target-domain-like their hashed
    * n-gram features are. Features are md5-hashed bigrams folded into a
    * FIXED 10 000-bucket space — the design point that makes DSIR scale:
    * the "model" (per-bucket target and raw counts) is O(buckets), not
    * O(corpus), so it BROADCASTS no matter how big the corpus is. The
    * published method scores log p_tgt/p_raw; this keeps the ratio in
    * exact integers — score_num = Σ cnt_tgt(f), score_den = Σ
    * cnt_raw(f) over the doc's features, keep iff the doc's ratio beats
    * the corpus-average ratio by cross-multiplication (no float drift,
    * t31 discipline). Two passes: one wordcount into the 10k-bucket dim
    * (map-side combined), one broadcast-join projection + per-doc sum.
    * Target domain = source 'src1' (the curated-slice stand-in). */
  def t41Dsir(s: SparkSession, d: String): DataFrame = {
    // the hashed-feature relation feeds three consumers (raw counts,
    // target counts, the per-doc scoring join) — cache it once per
    // session instead of re-tokenizing the corpus three times
    dsirScoreOf(lshCached(s, d + "#dsir")(dsirFeatsOf(s, d)))
  }

  /** The DSIR hashed-feature relation (doc_id, source, f): md5-hashed
    * bigrams folded into a fixed 10 000-bucket space. */
  private def dsirFeatsOf(s: SparkSession, d: String): DataFrame = {
    val tk = split(trim(lower(col("text"))), "\\s+")
    documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(zip_with(
          slice(tk, lit(1), size(tk) - 1),
          slice(tk, lit(2), size(tk) - 1),
          (a, b) => concat_ws(" ", a, b))).as("bg"))
      .select(col("doc_id"), col("source"),
        (conv(substring(md5(concat(lit("dsir:"), col("bg"))
          .cast("binary")), 1, 6), 16, 10).cast("long") % 10000L)
          .as("f"))
  }

  /** DSIR scoring over an already-built (doc_id, source, f) hashed
    * feature relation — shared by the session-cached t41 and the
    * persisted-lake t41b so the two variants cannot drift. */
  private def dsirScoreOf(feats: DataFrame): DataFrame = {
    val raw = feats.groupBy("f").agg(count(lit(1)).as("cnt_r"))
    val tgt = feats.filter(col("source") === "src1")
      .groupBy("f").agg(count(lit(1)).as("cnt_t"))
    val dim = raw.join(tgt, Seq("f"), "left")
      .select(col("f"), col("cnt_r"),
        coalesce(col("cnt_t"), lit(0L)).as("cnt_t"))
    val tot = dim.agg(sum(col("cnt_r")).as("n_r"),
      sum(col("cnt_t")).as("n_t"))
    feats.join(broadcast(dim), Seq("f"))
      .groupBy("doc_id")
      .agg(sum(col("cnt_t")).as("score_num"),
        sum(col("cnt_r")).as("score_den"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("score_num"), col("score_den"),
        (col("score_num") * col("n_r") > col("score_den") * col("n_t"))
          .as("keep"))
  }

  private val dsirLakeWritten =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** t41b — DSIR over a PERSISTED feature lake: the 100 TB variant of
    * t41 (PLANS.md t41 row). t41's session cache of the exploded
    * corpus×bigram relation is right at test SF but evicts/spills at
    * corpus scale; here the tokenize+hash pass runs ONCE as a batch
    * job and lands as parquet hive-partitioned on `fp = f % 16` (the
    * e10/ivfIndexPath build≠serve split), and all three consumers —
    * count dims and scoring join — read the lake, never re-tokenizing.
    * Same output, same oracle, hash-must-match t41. */
  def t41bDsirLake(s: SparkSession, d: String): DataFrame = {
    val path = dsirLakeWritten.computeIfAbsent(
        s"${graft.IndexDir.base}#$d", { _ =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val base = graft.IndexDir.base + "/dsirlake"
      val p = s"$base/$md5"
      dsirFeatsOf(s, d)
        .withColumn("fp", col("f") % 16)
        // cluster by the layout key before the partitioned write
        // (guide §6): without it every upstream task writes one file
        // per fp it touches — tasks × 16 small files instead of one
        // per partition value
        .repartition(col("fp"))
        .write.mode("overwrite").partitionBy("fp").parquet(p)
      p
    })
    dsirScoreOf(s.read.parquet(path).select("doc_id", "source", "f"))
  }

  /** t43 — INTRA-document segment dedup (the CCNet preprocessing pass
    * that drops repeated lines WITHIN a page — nav menus, repeated
    * headers — before any corpus-level pass; t37 is the cross-corpus
    * counterpart). A segment (10-token unit, the t18/t37 "line")
    * survives iff it is the FIRST occurrence of its content inside its
    * own document; the doc is rewritten from survivors. Entirely
    * per-doc array kernels — one shuffle-free codegen projection over
    * the corpus, the same cheapest-first class as t22/t40: at 100 TB
    * this runs in the scan, no shuffle, no state. First-occurrence is
    * `array_position(segs, segs[i]) = i` (1-based first index), which
    * both engines evaluate identically on the segment STRINGS — no
    * hash collisions to reconcile. */
  def t43LineDedup(s: SparkSession, d: String): DataFrame =
    lineDedupOf(documents(s, d))

  private[graft] def lineDedupOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        expr("""transform(
          |  sequence(0, cast(ceil(size(split(trim(text), '\\s+'))/10.0)
          |    as int) - 1),
          |  i -> array_join(slice(split(trim(text), '\\s+'),
          |    i*10+1, 10), ' '))""".stripMargin).as("segs"))
      .select(col("doc_id"), col("segs"),
        expr("""filter(transform(sequence(1, size(segs)),
          |  i -> CASE WHEN array_position(segs, element_at(segs, i)) = i
          |    THEN element_at(segs, i) END),
          |  x -> x IS NOT NULL)""".stripMargin).as("kept"))
      .select(col("doc_id"),
        size(col("segs")).as("n_segs"),
        (size(col("segs")) - size(col("kept"))).as("n_dup_segs"),
        array_join(col("kept"), " ").as("clean_text"))

  /** t44 — tokenizer VOCAB COVERAGE: build the top-1000 token
    * vocabulary (count desc, token asc — a total order, deterministic
    * cut) and measure each document's out-of-vocabulary token count,
    * the coverage eval run before freezing a tokenizer. Scale shape:
    * the vocab is a bounded dimension (1000 rows) → BROADCAST anti
    * semantics via a left join; the corpus pass is one explode +
    * map-side-combined per-doc count. All integers. */
  def t44VocabCoverage(s: SparkSession, d: String): DataFrame = {
    val tk = split(trim(lower(col("text"))), "\\s+")
    val toks = documents(s, d)
      .select(col("doc_id"), explode(tk).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(1000)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (count(lit(1)) - count(col("in_vocab"))).as("n_oov"))
  }

  /** t45 — LENGTH-SORTED BATCH COMPOSITION and its padding waste: fixed
    * batches of 16 pad every member to the batch max, so batching
    * docs sorted by length (within a shard — per-worker sorted
    * batching, the standard trainer/inference trick) collapses the
    * waste vs arrival order. Emits per-batch accounting for BOTH
    * strategies (the measured A/B a pipeline owner reads before
    * enabling it); companion of t26, which removes padding entirely by
    * packing. Windows partition by the 8-way shard — never global —
    * and every quantity is an integer. */
  def t45BatchPadding(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("doc_id"),
      (col("doc_id") % 8).cast("int").as("shard"),
      size(split(trim(col("text")), "\\s+")).as("n_tokens"))
    def batched(strategy: String, w: org.apache.spark.sql.expressions
        .WindowSpec): DataFrame =
      base.withColumn("rn", row_number().over(w))
        .withColumn("batch_id", ((col("rn") - 1) / 16).cast("int"))
        .groupBy(col("shard"), col("batch_id"))
        .agg(count(lit(1)).as("n_docs"),
          max(col("n_tokens")).as("max_len"),
          sum(col("n_tokens")).as("sum_len"))
        .select(lit(strategy).as("strategy"), col("shard"),
          col("batch_id"), col("n_docs"), col("max_len"), col("sum_len"),
          (col("max_len") * col("n_docs") - col("sum_len")).as("waste"))
    batched("arrival", Window.partitionBy("shard").orderBy("doc_id"))
      .unionByName(batched("sorted", Window.partitionBy("shard")
        .orderBy(col("n_tokens"), col("doc_id"))))
  }

  /** t46 — ExactSubstr REWRITE (Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better"): t36 MEASURES
    * duplicated-span mass; this op performs the published
    * deduplication — every occurrence of a duplicated 8-token window
    * except the GLOBAL FIRST (min (doc_id, position), intra-doc
    * repeats included, as in the paper's concatenated-corpus view) is
    * removed and each document is REWRITTEN from its surviving
    * tokens. Scale shape: window frequency + first-occurrence reduce
    * on 8-byte hashes (SHUFFLE_HASH-pinned join back, the t36 rule);
    * coverage is resolved by a WITHIN-DOC position⋈removal range join
    * (per-doc bounded product, linear in corpus); reconstruction is
    * sort_array over (pos, token) structs inside the doc group —
    * deterministic under any partitioning. */
  def t46ExactsubstrRewrite(s: SparkSession, d: String): DataFrame =
    exactsubstrRewriteOf(documents(s, d))

  private[graft] def exactsubstrRewriteOf(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tk"))
    val wins = toks.filter(size(col("tk")) >= 8)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(tk) - 7),
          |  p -> named_struct('p', p,
          |    'h', xxhash64(concat_ws(' ', slice(tk, p, 8)))))"""
          .stripMargin)).as("g"))
      .select(col("doc_id"), col("g.p").as("p"), col("g.h").as("h"))
    val firsts = wins.groupBy("h")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("p"))).as("first"))
      .filter(col("cnt") >= 2)
    val removals = wins.join(firsts.hint("SHUFFLE_HASH"), Seq("h"))
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("p") === col("first.p")))
      .select(col("doc_id"), col("p"))
    val pos = toks
      .select(col("doc_id"), posexplode(col("tk")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("tok"))
    val covered = pos.join(removals,
        pos("doc_id") === removals("doc_id") &&
          col("pos") >= col("p") && col("pos") <= col("p") + 7)
      .select(pos("doc_id"), col("pos")).distinct()
    val kept = pos.join(covered, Seq("doc_id", "pos"), "left_anti")
    val agg = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
          " ").as("clean_text"))
    toks.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("tk")).as("n_tokens"),
        (size(col("tk")) - coalesce(col("n_kept"), lit(0L)).cast("int"))
          .as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** t42 — the BATCH side of the streaming-exact-dedup parity gate:
    * the distinct content-hash set of the corpus. The oracle side reads
    * the [[graft.streaming.TwsOps.dedupReplay]] dump (the emitted rows
    * of the built-in `dropDuplicatesWithinWatermark` stream over the
    * same corpus), so the driver's hash compare asserts the stream
    * emitted EXACTLY one winner per distinct content — the stream≡batch
    * parity pattern of t25/t29/w13/w16. */
  def t42StreamDedup(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(md5(col("text").cast("binary")).as("text_hash"))
      .distinct()

  /** t47 — CROSS-SPLIT CONTAMINATION MATRIX: for every pair of t12's
    * train/val/test splits, the distinct token trigrams present in BOTH
    * splits plus the trigram-level jaccard — the split-hygiene audit a
    * pipeline runs after any re-split (t14/t23 scrub against an eval
    * SET; this one audits the split ASSIGNMENT itself). Scale shape:
    * trigrams collapse to 64-bit md5-prefix keys before any shuffle
    * (hashes-not-text; md5 so the oracle derives identical keys), the
    * per-split distinct is the only corpus-scaled exchange, and the
    * pair join runs on the ≤3×-distinct-gram relation with per-split
    * totals broadcast. Counts are integers; jaccard is one int/int
    * double division — identical across engines. CONVENTION (encoded
    * identically on both engine and oracle sides): only split pairs
    * with ≥1 overlapping trigram are EMITTED — a fully clean pair
    * produces no row, not a zero row — so a future change to the
    * split count must not assume 3-choose-2 output rows. */
  def t47SplitOverlap(s: SparkSession, d: String): DataFrame = {
    val split = t12HashSplit(s, d).select(col("doc_id"), col("split"))
    val sg = tokenTrigrams(documents(s, d))
      .select(col("doc_id"),
        substring(md5(col("trigram")), 1, 16).as("g"))
      .join(split, Seq("doc_id"))
      .select(col("split"), col("g"))
    // ONE grouped membership pass instead of distinct + a distinct-gram
    // SELF-JOIN (round-10, guide §2.4/§1.2): t12's split universe is
    // the FIXED literal trio {train, val, test} (see t12HashSplit's
    // when-chain — the names below are coupled to it), so per-gram
    // membership is three max(bool) flags in a primitive codegen
    // HashAggregate, and every output quantity is a sum over those
    // flags: n_a = Σ in_a (distinct grams per split), n_shared(a,b) =
    // Σ in_a·in_b. One hash(g) exchange replaces the old three shuffles
    // of the distinct relation (distinct + totals + both self-join
    // sides) and its ~1M-row hash probe; a collect_set variant was
    // measured SLOWER than the join (ObjectHashAggregate + per-gram
    // array allocation). Emission convention preserved: a pair with
    // zero overlap produces no row (filter n_shared >= 1); pair order
    // is the same lexicographic split_a < split_b the join used
    // (test < train < val). Counts and the jaccard division are
    // unchanged expressions.
    def in(name: String) =
      max(when(col("split") === name, 1L).otherwise(0L))
    val m = sg.groupBy("g")
      .agg(in("train").as("tr"), in("val").as("va"), in("test").as("te"))
      .agg(sum(col("tr")).as("n_tr"), sum(col("va")).as("n_va"),
        sum(col("te")).as("n_te"),
        sum(col("tr") * col("va")).as("s_tr_va"),
        sum(col("tr") * col("te")).as("s_tr_te"),
        sum(col("va") * col("te")).as("s_va_te"))
    def pairRow(a: String, b: String,
        shared: org.apache.spark.sql.Column,
        na: org.apache.spark.sql.Column,
        nb: org.apache.spark.sql.Column) =
      struct(lit(a).as("split_a"), lit(b).as("split_b"),
        shared.as("n_shared"), na.as("n_a"), nb.as("n_b"))
    m.select(explode(array(
        pairRow("test", "train", col("s_tr_te"), col("n_te"), col("n_tr")),
        pairRow("test", "val", col("s_va_te"), col("n_te"), col("n_va")),
        pairRow("train", "val", col("s_tr_va"), col("n_tr"), col("n_va"))
      )).as("r"))
      .select(col("r.split_a").as("split_a"),
        col("r.split_b").as("split_b"),
        col("r.n_shared").as("n_shared"),
        col("r.n_a").as("n_a"), col("r.n_b").as("n_b"))
      .filter(col("n_shared") >= 1)
      .select(col("split_a"), col("split_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
          .as("gram_jaccard"))
  }

  /** t48 — WITHIN-DOCUMENT REPETITION filter (the Gopher quality rules,
    * Rae et al. 2021 §A1.1): fraction of duplicated 2-grams and
    * 3-grams inside each document, keep iff dup_frac_2 ≤ 0.2 ∧
    * dup_frac_3 ≤ 0.18 (the published thresholds). Catches the
    * boilerplate-loop/SEO-spam failure mode that cross-doc dedup
    * (t1/t7) structurally cannot see. Pure per-document projection —
    * tokenize, shift-zip the n-grams, count total vs distinct
    * list-wise — so the whole filter is ONE whole-stage-codegen pass
    * with ZERO exchanges (the t40 gate shape): at 100 TB this runs at
    * scan speed. All quantities integer; the two fractions are single
    * int/int divisions so both engines agree bit-for-bit. */
  def t48Repetition(s: SparkSession, d: String): DataFrame = {
    val tk = split(trim(lower(col("text"))), "\\s+")
    documents(s, d)
      .select(col("doc_id"), tk.as("t"))
      .select(col("doc_id"), size(col("t")).as("n_tokens"),
        expr("""CASE WHEN size(t) >= 2 THEN
          |  transform(sequence(0, size(t) - 2),
          |    i -> concat_ws(' ', t[i], t[i + 1]))
          |ELSE array() END""".stripMargin).as("g2"),
        expr("""CASE WHEN size(t) >= 3 THEN
          |  transform(sequence(0, size(t) - 3),
          |    i -> concat_ws(' ', t[i], t[i + 1], t[i + 2]))
          |ELSE array() END""".stripMargin).as("g3"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("g2")).as("n_2grams"),
        size(array_distinct(col("g2"))).as("n_2distinct"),
        size(col("g3")).as("n_3grams"),
        size(array_distinct(col("g3"))).as("n_3distinct"))
      .select(col("doc_id"), col("n_tokens"),
        col("n_2grams"), col("n_2distinct"),
        col("n_3grams"), col("n_3distinct"),
        when(col("n_2grams") > 0,
          (col("n_2grams") - col("n_2distinct")).cast("double") /
            col("n_2grams").cast("double")).otherwise(0.0)
          .as("dup_frac_2"),
        when(col("n_3grams") > 0,
          (col("n_3grams") - col("n_3distinct")).cast("double") /
            col("n_3grams").cast("double")).otherwise(0.0)
          .as("dup_frac_3"))
      // the keep gate in exact integer cross-multiplication:
      // (n - distinct)/n ≤ thr  ⇔  (n - distinct) * 100 ≤ n * thr·100
      .withColumn("keep",
        (col("n_2grams") - col("n_2distinct")) * 100 <=
          col("n_2grams") * 20 &&
        (col("n_3grams") - col("n_3distinct")) * 100 <=
          col("n_3grams") * 18)
  }

  /** t49 — INCREMENTAL (cross-run) dedup via bloom prefilter: the
    * new-crawl-vs-already-indexed-corpus pass every continuously-fed
    * training pipeline runs. Prior corpus = docs with doc_id % 3 = 0
    * (the stand-in for yesterday's index); incoming = the rest. The
    * prior's distinct 10-token-segment hashes (t18's relation) fold
    * into ONE bloom image — O(numBits) bytes to the driver, never
    * O(segments) — which probes the incoming scan as a foldable
    * literal at scan speed, no shuffle. Bloom hits (no false negatives
    * by construction) then pass an EXACT confirm join against the
    * prior hash relation, scrubbing false positives, so the output is
    * exact and the oracle is a plain semi-join — the two-phase shape
    * production uses: the probe prunes the join input from
    * all-incoming-segments to candidate hits; only candidates shuffle.
    * At 100 TB, `items`/`bits` derive from prior-corpus stats (the
    * e9 corpus-derived-k discipline); both are arguments. */
  def t49IncrementalDedup(s: SparkSession, d: String,
      items: Long = 1L << 22, bits: Long = 1L << 25): DataFrame = {
    val segs = tenTokenSegsOf(documents(s, d))
    val prior = segs.filter(col("doc_id") % 3 === 0)
      .select("seg_hash").distinct()
    val incoming = segs.filter(col("doc_id") % 3 =!= 0)
    // one aggregation pass; the collect is the O(bits) filter image
    val bloomImage = prior
      .agg(graft.functions.Bloom
        .bloom_agg(col("seg_hash"), items, bits).as("bf"))
      .head().getAs[Array[Byte]](0)
    val hits = incoming
      .filter(graft.functions.Bloom
        .bloom_might_contain(bloomImage, col("seg_hash")))
      .join(prior, Seq("seg_hash")) // exact FP scrub on 8-byte hashes
      .groupBy("doc_id").agg(count(lit(1)).as("dup"))
    incoming.groupBy("doc_id").agg(count(lit(1)).as("n_segs"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("dup"), lit(0L)).as("n_prior_dup_segs"),
        (coalesce(col("dup"), lit(0L)) > 0).as("is_contaminated"))
  }

  /** t50's token universe: lowercased whitespace tokens, alphabetic and
    * ≥ 5 chars — one deterministic filter both engines apply verbatim. */
  private[graft] def bm25Tokens(s: SparkSession, d: String): DataFrame =
    bm25TokensOf(documents(s, d))

  private[graft] def bm25TokensOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
      .filter(length(col("term")) >= 5 && col("term").rlike("^[a-z]+$"))

  /** Per-term document frequency + BM25 idf (Lucene's
    * ln(1 + (N − df + ½)/(df + ½)) — always positive). Verify dumps
    * this relation (`t50_idf`) so the oracle reuses Spark's `ln` bits
    * verbatim (the t21 discipline: transcendentals computed ONCE). */
  private[graft] def t50Idf(s: SparkSession, d: String): DataFrame =
    t50IdfOf(bm25Tokens(s, d))

  private[graft] def t50IdfOf(toks: DataFrame): DataFrame = {
    val n = toks.agg(countDistinct(col("doc_id")).as("n_docs"))
    toks.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(n)) // 1 row — |D| rides along, no collect
      .select(col("term"), col("df"),
        log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))).as("idf"))
  }

  /** t50 — BM25 TOP-K KEYWORD SEARCH over an inverted index: the
    * lexical-retrieval counterpart of the e-family's ANN serving (and
    * the other half of every hybrid retrieval stack). The postings
    * relation (doc_id, term, tf) IS the inverted index — partitioned
    * by term, so a query's lookup touches only its terms' posting
    * lists; the 15-term query set and the idf model broadcast (both
    * O(vocab-head), never corpus-scaled), making scoring a map-side
    * join + one (q_id, doc_id) aggregation. k1 = 1.2, b = 0.75 (the
    * Robertson/Lucene defaults). Queries are data-derived: the top-15
    * df terms, 3 per query, 5 queries — deterministic on both engines
    * from the dumped df ranking. Scores round to 1e-6 before ranking
    * so the rank ties break identically cross-engine. */
  def t50Bm25(s: SparkSession, d: String): DataFrame =
    t50Of(bm25Tokens(s, d))

  private[graft] def t50Of(toks: DataFrame): DataFrame = {
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // dl, df and |D| derive from tf, NOT from toks (round 10, guide
    // §1.2/§2.4): every branch then contains tf's Exchange subtree
    // verbatim, ReuseExchange collapses them, and the tokenize +
    // per-token regex pass runs ONCE per query instead of four times.
    // The integers are identical by construction — dl = Σ tf is the
    // doc's token count, df = tf's row count per term (one row per
    // (doc, term)), |D| = distinct docs in tf — so the idf doubles
    // (and the dumped t50_idf the oracle consumes) are bit-identical.
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(sum(col("dl")).as("sum_dl"),
      count(lit(1)).as("n_docs"))
    val nd = tf.agg(countDistinct(col("doc_id")).as("n_docs"))
    val qterms = tf.groupBy("term")
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd)) // 1 row — |D| rides along, no collect
      .select(col("term"), col("df"),
        log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))).as("idf"))
      .orderBy(col("df").desc, col("term")).limit(15) // TakeOrdered, no global window
      .withColumn("rk", row_number().over(
        Window.orderBy(col("df").desc, col("term")))) // 15 rows post-limit
      .select(expr("(rk - 1) div 3").as("q_id"), col("term"), col("idf"))
    tf.join(broadcast(qterms), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("comp",
        col("idf") * ((col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") / col("avgdl"))))))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("comp")).as("raw"), count(lit(1)).as("n_hit_terms"))
      .withColumn("score", round(col("raw"), 6))
      .withColumn("rank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("score"), col("n_hit_terms"))
  }

  private val bm25IndexWritten =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Write-once INVERTED-INDEX layout for [[t50bBm25Serve]] — the
    * lexical counterpart of e10's persisted IVF lists (build ≠ serve):
    * `postings/` holds (doc_id, term, tf, dl) hive-partitioned by a
    * 64-way term-hash bucket, so a query's terms prune the scan to
    * their buckets; `model/` holds the idf table with the corpus
    * stats (sum_dl, n_docs) riding every row — serve never rescans the
    * corpus. Keyed by MD5 of the data dir (the e10 collision-proof
    * discipline); base overridable via GRAFT_INDEX_DIR. */
  private[graft] def bm25IndexPath(s: SparkSession, d: String): String =
    bm25IndexWritten.computeIfAbsent(
        s"${graft.IndexDir.base}#$d", { _ =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val base = graft.IndexDir.base
      val path = s"$base/bm25-$md5"
      val toks = bm25Tokens(s, d)
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .join(dl, Seq("doc_id"))
        .withColumn("bkt", pmod(xxhash64(col("term")), lit(64)))
        .write.mode("overwrite").partitionBy("bkt")
        .parquet(s"$path/postings")
      val stats = dl.agg(sum(col("dl")).as("sum_dl"),
        count(lit(1)).as("n_docs"))
      t50Idf(s, d).crossJoin(broadcast(stats))
        .write.mode("overwrite").parquet(s"$path/model")
      path
    })

  /** t50b — BM25 SERVE from the persisted inverted index: the query's
    * 15 terms (ranked from the persisted model, no corpus scan)
    * broadcast into the postings read, joined on (bkt, term) so
    * dynamic partition pruning drops every non-query bucket at the
    * source — the e10 DPP-serve shape for lexical search. Must produce
    * exactly t50's rows (same oracle), proving index-build + serve ≡
    * inline scoring. */
  def t50bBm25Serve(s: SparkSession, d: String): DataFrame = {
    val path = bm25IndexPath(s, d)
    val model = s.read.parquet(s"$path/model")
    val qt = model
      .orderBy(col("df").desc, col("term")).limit(15)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("df").desc, col("term"))))
      .select(expr("(rk - 1) div 3").as("q_id"), col("term"),
        col("idf"), col("sum_dl"), col("n_docs"),
        pmod(xxhash64(col("term")), lit(64)).as("bkt"))
    // the query's bucket list is O(|query terms|) — a bounded driver
    // value like the k-means model, never corpus-scaled. Filtering the
    // scan with the literal list guarantees STATIC partition pruning
    // (visible as PartitionFilters), independent of whether the DPP
    // cost model would fire at this data size.
    val qBuckets = qt.select(col("bkt")).distinct()
      .collect().map(_.getLong(0)).sorted
    val posts = s.read.parquet(s"$path/postings")
      .filter(col("bkt").isin(qBuckets: _*))
    posts.join(broadcast(qt), Seq("bkt", "term"))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("comp",
        col("idf") * ((col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") / col("avgdl"))))))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("comp")).as("raw"), count(lit(1)).as("n_hit_terms"))
      .withColumn("score", round(col("raw"), 6))
      .withColumn("rank", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("score"), col("n_hit_terms"))
  }

  // ---- t51: Stupid Backoff bigram LM scoring ------------------------

  /** Tokens + the t12 md5-bucket split (bucket < 90 = train): the
    * model trains on the 90% split and scores the held-out 10%, so
    * backoff and OOV branches are actually exercised (scoring the
    * training corpus with its own model never backs off). */
  private[graft] def t51Toks(s: SparkSession, d: String): DataFrame = {
    val h = md5(col("text").cast("binary"))
    val bucket =
      (conv(substring(h, 1, 6), 16, 10).cast("long") % 100).cast("int")
    documents(s, d).select(col("doc_id"), (bucket < 90).as("is_train"),
      split(trim(lower(col("text"))), "\\s+").as("t"))
  }

  /** Adjacent token pairs, keyed by the bigram STRING ("w1 w2" —
    * tokens cannot contain whitespace, so the key is collision-free)
    * plus the backoff key w2. Generator-shaped explode: a long doc
    * fans its pairs across tasks. */
  private def t51PairsOf(toks: DataFrame): DataFrame =
    toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(" +
          "concat(t[i-1], ' ', t[i]) as bigram, " +
          "t[i-1] as w1, t[i] as w2))")).as("p"))
      .select(col("doc_id"), col("p.bigram").as("bigram"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** Train-split unigram counts, memoized per (session, dir): the t51
    * family consumed this relation THREE times per scoring run (the
    * bigram model's c(w₁) join side, the unigram backoff model, the
    * OOV stats row) and each consumption re-ran the full tokenize +
    * explode + aggregate corpus pass (guide §1.2 — the t35 shape).
    * The relation is the train VOCABULARY — Zipf-bounded, far below
    * corpus scale — so pinning it is O(model), not O(corpus); at
    * cluster scale this is the LM's persisted count table. Pinned via
    * eager localCheckpoint, NOT .cache(): the materialized RDD carries
    * its real (small) size, so the bigram model's c(w₁) join keeps its
    * auto-broadcast, where an unmaterialized cache's unknown stats
    * demoted it to a sort-merge join (observed in the round-10 plan
    * diff). */
  private val t51UniMemo = graft.SessionMemo.forDataFrames()
  private def t51TrainUnigrams(s: SparkSession, d: String): DataFrame =
    t51UniMemo(s, s"$d#t51uni")(
      t51Toks(s, d).filter(col("is_train"))
        .select(explode(col("t")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .localCheckpoint())

  /** Seen-bigram branch of Stupid Backoff (Brants et al. 2007):
    * S(w₂|w₁) = c(w₁w₂)/c(w₁), carried as ln quantized to
    * DECIMAL(18,9) — the t21/t50 determinism trick (ln computed once
    * in Spark, dumped; every downstream op is exact decimal +/÷).
    * Model size is the seen-bigram vocabulary — Zipf-bounded, far
    * below corpus scale, but NOT broadcast-assumed: the scoring join
    * hash-partitions on the bigram key. */
  /** Like the unigram relation, the trained bigram model is pinned
    * per (session, dir) via eager localCheckpoint: it is consumed by
    * the scoring run AND by the model dump, and the materialized
    * (Zipf-bounded) size keeps the scoring join's auto-broadcast
    * where the post-checkpoint join's inflated size ESTIMATE demoted
    * it to a sort-merge join. */
  private val t51BgMemo = graft.SessionMemo.forDataFrames()
  def t51BigramModel(s: SparkSession, d: String): DataFrame =
    t51BgMemo(s, s"$d#t51bg") {
      val uni = t51TrainUnigrams(s, d)
      t51PairsOf(t51Toks(s, d).filter(col("is_train")))
        .groupBy(col("bigram"), col("w1")).agg(count(lit(1)).as("cbg"))
        .join(uni.select(col("term").as("w1"), col("cnt").as("c1")),
          Seq("w1"))
        .select(col("bigram"),
          log(col("cbg").cast("double") / col("c1").cast("double"))
            .cast("decimal(18,9)").as("logp"))
        .localCheckpoint()
    }

  /** Backoff branch: α·c(w₂)/N with α = 0.4, same quantization. */
  def t51UnigramModel(s: SparkSession, d: String): DataFrame = {
    val uni = t51TrainUnigrams(s, d)
    val n = uni.agg(sum(col("cnt")).cast("double").as("n_total"))
    uni.crossJoin(broadcast(n))
      .select(col("term"),
        log(lit(0.4) * col("cnt").cast("double") / col("n_total"))
          .cast("decimal(18,9)").as("logp"))
  }

  /** 1-row model stats: train-token count + the OOV floor ln(α/N)
    * (an unseen word scored as count 1). */
  def t51ModelStats(s: SparkSession, d: String): DataFrame =
    t51TrainUnigrams(s, d)
      .agg(sum(col("cnt")).as("n_train_tokens"))
      .select(col("n_train_tokens"),
        log(lit(0.4) / col("n_train_tokens").cast("double"))
          .cast("decimal(18,9)").as("oov_logp"))

  /** t51 — STUPID BACKOFF LM SCORING: held-out documents scored by
    * mean pair log-score under the train-split bigram model — the
    * KenLM-perplexity data-quality signal (cf. CCNet) with the
    * industrial-scale LM smoothing actually used at corpus size
    * (Brants et al. 2007 chose Stupid Backoff BECAUSE it distributes:
    * no discount renormalization pass, every branch a count ratio).
    * Per pair: the bigram model if seen, else α·unigram, else the OOV
    * floor. All three branches are pre-quantized decimals, so the
    * per-doc sum is exact under any partitioning; the scoring join
    * moves (bigram, w2) strings against the Zipf-bounded model with
    * NO broadcast assumption. The oracle consumes the dumped models
    * and re-derives pair explode + joins + decimal mean in SQL. */
  def t51BackoffLm(s: SparkSession, d: String): DataFrame = {
    val pairs = t51PairsOf(t51Toks(s, d).filter(!col("is_train")))
    val bg = t51BigramModel(s, d)
      .select(col("bigram"), col("logp").as("bg_logp"))
    val uni = t51UnigramModel(s, d)
      .select(col("term").as("w2"), col("logp").as("uni_logp"))
    pairs
      // the model is above the broadcast threshold by design (seen-
      // bigram vocabulary), so the scoring join hash-partitions on the
      // bigram key; SMJ beat a SHUFFLE_HASH pin here (measured 0.6 vs
      // 0.8 s warm — the per-partition hash build of ~1M string keys
      // costs more than the sorts it saves)
      .join(bg, Seq("bigram"), "left")
      .join(uni, Seq("w2"), "left")
      .crossJoin(broadcast(t51ModelStats(s, d).select(col("oov_logp"))))
      .select(col("doc_id"),
        coalesce(col("bg_logp"), col("uni_logp"), col("oov_logp"))
          .as("lp"),
        col("bg_logp").isNull.as("backed_off"),
        (col("bg_logp").isNull && col("uni_logp").isNull).as("oov"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("backed_off"), 1L).otherwise(0L)).as("n_backoff"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov"),
        sum(col("lp")).as("slp"))
      .select(col("doc_id"), col("n_pairs"), col("n_backoff"),
        col("n_oov"),
        (col("slp").cast("double") / col("n_pairs").cast("double"))
          .as("mean_logp"))
  }

  /** t53 — TOKEN-BUDGET CORPUS SELECTION: keep the highest-quality
    * documents until a global token budget (half the corpus here) is
    * spent — the data-mixing step that turns per-doc quality scores
    * (t21's LM logprob, quantized to integer micros) into an actual
    * training set. The global quality-ordered prefix sum is TWO-LEVEL
    * (the l2/k5 discipline): score-bucket subtotals (score >> 10 —
    * arithmetic shift, so floor semantics hold for negative logprobs
    * where `div` would truncate toward zero) roll up in one bounded
    * window, and the per-doc refinement window partitions by bucket.
    * No row-scaled global window anywhere; the oracle re-derives the
    * selection with ONE direct window, proving two-level ≡ direct. */
  def t53TokenBudget(s: SparkSession, d: String): DataFrame = {
    // 3 longs per doc, consumed 3× (budget, bucket subtotals, main) —
    // cache instead of re-tokenizing the corpus three times; at lake
    // scale this is the persisted score table (t41b discipline)
    val scored = t21UnigramLogprob(s, d)
      .select(col("doc_id"), col("n_tokens"),
        expr("cast(floor(mean_logp * 1000000) as bigint)").as("score"))
      .cache()
    val tot = scored.agg(expr("sum(n_tokens) div 2").as("budget"))
    val bucketed = scored.withColumn("bkt", expr("shiftright(score, 10)"))
    val bucketW = org.apache.spark.sql.expressions.Window
      .orderBy(col("bkt").desc)
      .rowsBetween(Long.MinValue, -1)
    val bOff = bucketed.groupBy("bkt")
      .agg(sum(col("n_tokens")).as("btok"))
      .withColumn("boff",
        coalesce(sum(col("btok")).over(bucketW), lit(0L)))
      .select("bkt", "boff")
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy("bkt").orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Long.MinValue, -1)
    bucketed
      .withColumn("lprev",
        coalesce(sum(col("n_tokens")).over(localW), lit(0L)))
      // bOff is bucket-grid-bounded (a few thousand rows at ANY corpus
      // size) — pin broadcast so a warmed cache statistic can't flip
      // the strategy between cold and warm plans (the t13 lesson)
      .join(broadcast(bOff), Seq("bkt"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("score"), col("n_tokens"),
        (col("boff") + col("lprev")).as("sel_offset"),
        ((col("boff") + col("lprev")) < col("budget")).as("kept"))
  }

  /** t54 — CORPUS NOVELTY CURVE: for each document, the fraction of its
    * distinct word-3-grams never seen in any LOWER-doc_id document, then
    * aggregated into 100-doc buckets — the marginal-information signal a
    * curation pass uses to decide when additional crawl data stops
    * adding content (novelty decays toward the inter-document
    * duplication floor as the corpus grows; cf. the RefinedWeb/C4
    * dedup-saturation analyses).
    *
    * Scale: shingles travel as 64-bit hashes, never strings; the
    * first-occurrence relation is one partial-aggregated `min(doc_id)`
    * groupBy on the hash, re-joined on the SAME hash key (one shuffle
    * partitioning reused), and the per-doc→bucket rollup is a
    * map-side-combining two-level aggregation. O(total distinct
    * shingles) — the t1 exact-dedup shape applied to n-grams. */
  def t54NgramNovelty(s: SparkSession, d: String): DataFrame = {
    val sh = documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .select(col("doc_id"),
        explode(expr(
          """CASE WHEN size(toks) >= 3 THEN
            |  array_distinct(transform(sequence(0, size(toks) - 3),
            |    i -> xxhash64(toks[i], toks[i + 1], toks[i + 2])))
            |ELSE array() END""".stripMargin)).as("h"))
    val firstSeen = sh.groupBy("h").agg(min(col("doc_id")).as("first_doc"))
    val perDoc = sh.join(firstSeen, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    perDoc
      .groupBy(expr("doc_id div 100").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_shingles")).as("n_shingles"),
        sum(col("n_novel")).as("n_novel"))
      .select(col("bucket"), col("n_docs"), col("n_shingles"),
        col("n_novel"),
        expr("n_novel * 1000000 div n_shingles").as("novelty_ppm"))
  }

  /** t56 — DATASET DATASHEET: the per-(lang, source) release summary a
    * corpus ships with — document/token/char volumes, exact-duplicate
    * rate and corpus share (the "datasheets for datasets" reporting
    * surface, produced by the engine instead of a side script so the
    * numbers come from the same scan discipline as the pipeline).
    *
    * Scale: one pass + one two-level aggregate; the exact distinct is
    * a count-distinct on the md5 content hash (16 bytes/doc in the
    * shuffle, the t1 identity); the global total for shares is a
    * 1-row broadcast, not a window over the corpus. Integer ppm. */
  def t56Datasheet(s: SparkSession, d: String): DataFrame = {
    val base = documents(s, d).select(col("lang"), col("source"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
      col("n_chars"), md5(col("text")).as("th"))
    val slices = base.groupBy("lang", "source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      sum(col("n_chars")).as("total_chars"),
      countDistinct(col("th")).as("n_distinct"))
    val tot = base.agg(count(lit(1)).as("n_total"))
    slices.join(broadcast(tot))
      .select(col("lang"), col("source"), col("n_docs"),
        col("n_tokens"), col("total_chars"),
        expr("(n_docs - n_distinct) * 1000000 div n_docs")
          .as("dup_ppm"),
        expr("n_docs * 1000000 div n_total").as("share_ppm"))
  }

  /** t57 — DEDUP SURVIVORSHIP: the canonicalization stage that follows
    * clustering — per t17 duplicate cluster, elect ONE survivor
    * (longest doc wins, ties to the smallest doc_id — the CCNet-style
    * keep-the-longest rule) and account for what the merge drops.
    * Composes the already-verified t17 component relation with a
    * struct-argmax aggregate, so the added cost over t17 is one
    * broadcast-sized dimension join plus a per-cluster aggregate;
    * singleton clusters ride through (n_dropped = 0). The oracle
    * re-derives clusters via recursive-SQL reachability AND the
    * election independently (max-then-min, not arg_max, so tie
    * semantics are explicit). */
  def t57Survivorship(s: SparkSession, d: String): DataFrame = {
    val comp = t17DupComponents(s, d)
    comp.join(documents(s, d).select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      .groupBy("comp")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_chars"), (-col("doc_id")).as("negid")))
          .as("m"),
        sum(col("n_chars")).as("total_chars"))
      .select(col("comp"), col("n_members"),
        expr("cast(-m.negid as bigint)").as("survivor_id"),
        expr("m.n_chars").as("survivor_chars"),
        (col("n_members") - 1).as("n_dropped"), col("total_chars"))
  }

  /** t58 — LANGUAGE-ID EVALUATION: t4's n-gram classifier scored
    * against the corpus ground-truth `lang` column as a confusion
    * matrix (true × predicted counts, per-true-language share in ppm,
    * correctness flag) — the classifier-eval pass every curation
    * heuristic needs before it gates data. One classify pass + one
    * matrix rollup; the share window is the bounded language grid. */
  def t58LangidEval(s: SparkSession, d: String): DataFrame = {
    val cells = t4LangId(s, d)
      .join(documents(s, d).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n_docs"))
    val tot = cells.groupBy("lang").agg(sum(col("n_docs")).as("n_lang"))
    cells.join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        (col("lang") === col("pred_lang")).as("correct"),
        expr("n_docs * 1000000 div n_lang").as("share_ppm"))
  }

  /** t59 — DUP-CLUSTER SIZE CENSUS: the distribution report behind
    * every dedup decision — how many clusters of each size t17's
    * closure found, how many docs they hold, and each size class's
    * corpus share. This is the number a curation team reads before
    * picking keep-one-per-cluster vs downweighting (a corpus whose
    * mass sits in a few huge clusters dedups very differently from
    * long-tail pair dups). Rides the memoized t17 closure — zero new
    * corpus passes; the rollups are cluster-scaled then size-scaled
    * (both far below corpus scale). Integer-exact. */
  def t59ClusterCensus(s: SparkSession, d: String): DataFrame = {
    val cs = t17DupComponents(s, d)
      .groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    val tot = cs.agg(sum(col("cluster_size")).as("n_docs_total"))
    cs.groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .crossJoin(broadcast(tot))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        expr("cluster_size * n_clusters * 1000000 div n_docs_total")
          .as("share_ppm"))
  }

  /** The engine-computed per-source surprise (−ln share) dumped for
    * the t60 oracle — the t21/a27 discipline: transcendental values
    * are computed ONCE (here) and both engines read the same bits;
    * every count/share/quantized column is re-derived independently
    * in SQL from raw parquet + these doubles. */
  private[graft] def t60Surprise(s: SparkSession, d: String)
      : DataFrame = {
    val src = documents(s, d).groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
    val tot = src.agg(sum(col("n_docs")).as("t"))
    src.crossJoin(broadcast(tot))
      .select(col("source"),
        (-log(col("n_docs").cast("double") / col("t").cast("double")))
          .as("surprise"))
  }

  /** t60 — DATA-MIX ENTROPY REPORT: per-source share and Shannon
    * contribution p·ln(1/p) — the diversity dial behind every mixing
    * decision (a corpus collapsing onto one source scores ~0; uniform
    * mix scores ln k). The integer columns (counts, ppm shares, the
    * micro-unit contributions) are exact; the one transcendental (the
    * surprise) is computed once and shared with the oracle via the
    * model-dump pattern, and the quantized contribution re-applies
    * the identical float sequence on both engines (div → mul → mul →
    * floor). Output is source-cardinality-bounded — one aggregate
    * over the corpus at any scale. */
  def t60MixEntropy(s: SparkSession, d: String): DataFrame = {
    val src = documents(s, d).groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
    val tot = src.agg(sum(col("n_docs")).as("t"))
    src.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        expr("n_docs * 1000000 div t").as("share_ppm"),
        (-log(col("n_docs").cast("double") / col("t").cast("double")))
          .as("surprise"),
        expr("cast(floor(cast(n_docs as double) / cast(t as double) " +
          "* (-ln(cast(n_docs as double) / cast(t as double))) " +
          "* 1000000 + 0.5) as bigint)").as("contrib_micro"))
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t58_langid_eval" -> t58LangidEval _,
    "t59_cluster_census" -> t59ClusterCensus _,
    "t60_mix_entropy" -> t60MixEntropy _,
    "t61_lsh_cost" -> t61LshCost _,
    "t62_fertility" -> t62Fertility _,
    "t64_calibration" -> t64Calibration _,
    "t65_mix_planner" -> t65MixPlanner _,
    "t66_split_leakage" -> t66SplitLeakage _,
    "t57_survivorship" -> t57Survivorship _,
    "t56_datasheet" -> t56Datasheet _,
    "t54_ngram_novelty" -> t54NgramNovelty _,
    "t53_token_budget" -> t53TokenBudget _,
    "t51_backoff_lm" -> t51BackoffLm _,
    "t50_bm25" -> t50Bm25 _,
    "t50b_bm25_serve" -> t50bBm25Serve _,
    "t49_incremental_dedup" ->
      ((s: SparkSession, d: String) => t49IncrementalDedup(s, d)),
    "t48_repetition" -> t48Repetition _,
    "t47_split_overlap" -> t47SplitOverlap _,
    "t43_line_dedup" -> t43LineDedup _,
    "t46_exactsubstr_rewrite" -> t46ExactsubstrRewrite _,
    "t44_vocab_coverage" -> t44VocabCoverage _,
    "t45_batch_padding" -> t45BatchPadding _,
    "t42_stream_dedup" -> t42StreamDedup _,
    "t39_bpe_merge" ->
      ((s: SparkSession, d: String) => t39BpeMerge(s, d)),
    "t40_fasttext_score" -> t40FasttextScore _,
    "t41_dsir" -> t41Dsir _,
    "t41b_dsir_lake" -> t41bDsirLake _,
    "t31_domain_mix" -> t31DomainMix _,
    "t32_containment" -> t32Containment _,
    "t33_prefix_containment" -> t33PrefixContainment _,
    "t30_bigram_vocab" ->
      ((s: SparkSession, d: String) => t30BigramVocab(s, d)),
    "t25_stream_neardup" -> t25StreamNearDup _,
    "t26_pack" -> ((s: SparkSession, d: String) => t26Pack(s, d)),
    // t29: the SPARK side is batch t26; the oracle side is the
    // streaming packer's replay dump — hash match = stream≡batch parity
    "t29_stream_pack" -> ((s: SparkSession, d: String) => t26Pack(s, d)),
    "t27_shuffle_shard" ->
      ((s: SparkSession, d: String) => t27ShuffleShard(s, d)),
    "t28_weighted_sample" ->
      ((s: SparkSession, d: String) => t28WeightedSample(s, d)),
    "t17_dup_components" -> t17DupComponents _,
    "t18_segment_dedup" -> t18SegmentDedup _,
    "t19_tfidf" -> t19Tfidf _,
    "t20_stratified_sample" -> t20StratifiedSample _,
    "t21_unigram_logprob" -> t21UnigramLogprob _,
    "t35_perplexity_tiers" -> t35PerplexityTiers _,
    "t36_dup_spans" -> t36DupSpans _,
    "t37_boilerplate_strip" -> t37BoilerplateStrip _,
    "t38_upsample" -> t38Upsample _,
    "t22_gopher_filter" -> t22GopherFilter _,
    "t14_decontaminate" -> t14Decontaminate _,
    "t23_fuzzy_decontaminate" -> t23FuzzyDecontaminate _,
    "t15_pii_scrub" -> t15PiiScrub _,
    "t16_repetition" -> t16Repetition _,
    "t9_bpe_tokens" -> t9BpeTokens _,
    "t10_dedup_resolve" -> t10DedupResolve _,
    "t11_quality_filter" -> t11QualityFilter _,
    "t1_exact_dedup" -> t1ExactDedup _,
    "t2_token_stats" -> t2TokenStats _,
    "t3_quality_score" -> t3QualityScore _,
    "t4_lang_id" -> t4LangId _,
    "t5_fingerprint" -> t5Fingerprint _,
    "t34_winnowing" -> t34Winnowing _,
    "t6_ngram_jaccard" -> t6NgramJaccard _,
    "t7_minhash_lsh" -> t7MinHashLsh _,
    "t8_simhash" -> t8SimHash _,
    "t12_hash_split" -> t12HashSplit _,
    "t13_lsh_recall" -> t13LshRecall _,
    "t67_ngram_precision" -> t67NgramPrecision _,
    "t68_heaps_law" -> t68HeapsLaw _,
  )
}
