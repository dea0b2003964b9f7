package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Changelog, Graph, Layout, Multimodal, Relational, Settings, Similarity, Skew, TextOps, TsQueries, Validation}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` enumerates the implemented operator surface (one entry per
  * SURVEY §2 operator class / extension op); `oracleSql` gives the DuckDB
  * equivalent for the hash-match correctness gate. Queries whose semantics
  * aren't ANSI-SQL-practical (approx sketches, LSH banding) have no oracle
  * → rows-only check.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * 3-way join + grouped rollup — exercises scan, broadcast join, shuffle
    * agg in one plan. */
  def entry(spark: SparkSession): DataFrame =
    Relational.j1InnerJoin(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.all ++ TextOps.all ++ Similarity.all ++ TsQueries.all ++
      Settings.all ++ Multimodal.all ++ Graph.all ++ Changelog.all ++
      Layout.all ++ Validation.all

  /** Diagnostic probes (z-family stresses, sub-plan probes): not part of
    * the driver surface; TimeOne and Explain resolve `queries ++ diag`. */
  def diag: Map[String, (SparkSession, String) => DataFrame] =
    TextOps.diag ++ Similarity.diag ++ Graph.diag ++ Relational.diag ++
      Skew.diag ++ Multimodal.diag

  // ---- TS-family oracle plumbing -----------------------------------
  // Verify materializes the decoded TS layers (TsLake.ensureDumped) to a
  // fixed path; the oracle recomputes every ts-query from those dumps —
  // winner-version selection, joins and windows re-derived in SQL, so
  // the relational semantics are independently checked.
  private def TsDump = graft.ts.TsLake.DumpDir
  private def tsrel(n: String) = s"read_parquet('$TsDump/$n/*.parquet')"

  // Engine-specific artifact dumps (simhash signatures, LSH buckets,
  // trained centroids, HLL estimates) — same pattern, non-TS queries.
  private def OpDump = graft.OpLake.DumpDir
  private def oprel(n: String) = s"read_parquet('$OpDump/$n/*.parquet')"

  /** Winner-version CTE chain replicating `TsPipeline.latestTables` over
    * a per-section-entry dump: CRC-ok current tables, complete (all
    * section numbers present), latest by last-section arrival then
    * version, one entry set per section number (latest first_seq).
    * Emits CTEs prefixed with `p` ending in `${p}cur`. */
  private def winCte(rel: String, p: String): String =
    s"""${p}e AS (SELECT * FROM $rel WHERE crc_ok AND current_next),
       |${p}agg AS (SELECT pid, table_id, table_id_extension,
       |    version_number, last_section_number,
       |    count(DISTINCT section_number) AS n_sections,
       |    max(first_seq) AS last_arrival
       |  FROM ${p}e GROUP BY 1, 2, 3, 4, 5
       |  HAVING count(DISTINCT section_number) = last_section_number + 1),
       |${p}win AS (SELECT pid, table_id, table_id_extension, version_number
       |  FROM (SELECT pid, table_id, table_id_extension, version_number,
       |      row_number() OVER (
       |        PARTITION BY pid, table_id, table_id_extension
       |        ORDER BY last_arrival DESC, version_number DESC) AS rn
       |    FROM ${p}agg) WHERE rn = 1),
       |${p}sect AS (SELECT ${p}e.* FROM ${p}e JOIN ${p}win
       |  USING (pid, table_id, table_id_extension, version_number)),
       |${p}keep AS (SELECT pid, table_id, table_id_extension,
       |    version_number, section_number, max(first_seq) AS keep_seq
       |  FROM ${p}sect GROUP BY 1, 2, 3, 4, 5),
       |${p}cur AS (SELECT s.* FROM ${p}sect s JOIN ${p}keep k
       |  ON s.pid = k.pid AND s.table_id = k.table_id
       |  AND s.table_id_extension = k.table_id_extension
       |  AND s.version_number = k.version_number
       |  AND s.section_number = k.section_number
       |  AND s.first_seq = k.keep_seq)""".stripMargin.replace('\n', ' ')

  // single source of truth for the program-processor JSON body — the
  // Spark queries format with the same constant
  private val ts9DocFmt = "{" + graft.operators.TsQueries.procBodyFmt + "}"

  /** The DuckDB cosine identical (op-for-op, so bit-for-bit in IEEE
    * doubles) to the codegen'd `vec_dot`/`vec_norm` kernels — proven by
    * the e1 hash match; reused for the full IVF oracle. */
  private def cosSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) / " +
      s"(sqrt(list_sum(list_transform(range(1, len($a) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)))) * " +
      s"sqrt(list_sum(list_transform(range(1, len($b) + 1), " +
      s"i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))"

  /** The IVF pipeline SQL (assignment → probes → in-list scoring →
    * top-5), parameterized by the coarse-centroid source: e5 derives the
    * centroids in SQL (first 16 corpus vectors); e6 reads the TRAINED
    * model from the Verify dump and re-derives everything downstream. */
  private def ivfSql(centroidSrc: String,
      candCond: String = "TRUE", nprobe: Int = 4): String =
    s"""WITH c AS ($centroidSrc),
       |  sims AS (SELECT e.vec_id, e.embedding, e.label, c.centroid_id,
       |      ${cosSql("e.embedding", "c.cv")} AS sim
       |    FROM embeddings e CROSS JOIN c),
       |  assigned AS (SELECT vec_id, embedding, label, centroid_id FROM (
       |      SELECT vec_id, embedding, label, centroid_id,
       |        row_number() OVER (
       |        PARTITION BY vec_id ORDER BY sim DESC, centroid_id)
       |        AS rn
       |      FROM sims) WHERE rn = 1),
       |  probes AS (SELECT query_id, q, centroid_id FROM (
       |      SELECT vec_id AS query_id, embedding AS q, centroid_id,
       |        row_number() OVER (
       |          PARTITION BY vec_id ORDER BY sim DESC, centroid_id)
       |          AS rn
       |      FROM sims WHERE vec_id < 10) WHERE rn <= $nprobe),
       |  scored AS (SELECT p.query_id, a.vec_id AS cand_id,
       |      ${cosSql("p.q", "a.embedding")} AS cosine
       |    FROM probes p JOIN assigned a USING (centroid_id)
       |    WHERE p.query_id <> a.vec_id AND ($candCond))
       |SELECT query_id, cand_id, rnk FROM (
       |  SELECT query_id, cand_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
       |  FROM scored) WHERE rnk <= 5"""

  /** Exact brute-force top-5 (the e1 oracle), reused verbatim as the
    * ground-truth CTE of the e15 recall evaluation. */
  /** The t50 BM25 chain up to the ranked relation `bm25rk` — shared by
    * the t50 oracle and the e18 RRF-fusion oracle. idf comes from the
    * Spark dump so `ln` is computed exactly once. */
  private def t50Cte: String =
    s"""WITH bm25toks AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
       |      AS term FROM documents),
       |bm25ft AS (SELECT doc_id, term FROM bm25toks
       |  WHERE len(term) >= 5 AND regexp_matches(term, '^[a-z]+$$')),
       |bm25tf AS (SELECT doc_id, term, count(*) AS tf
       |  FROM bm25ft GROUP BY 1, 2),
       |bm25dl AS (SELECT doc_id, count(*) AS dl FROM bm25ft GROUP BY 1),
       |bm25st AS (SELECT CAST(sum(dl) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS avgdl FROM bm25dl),
       |bm25m AS (SELECT * FROM ${oprel("t50_idf")}),
       |bm25qt AS (SELECT term, idf,
       |    (row_number() OVER (ORDER BY df DESC, term) - 1) // 3
       |      AS q_id
       |  FROM (SELECT * FROM bm25m ORDER BY df DESC, term LIMIT 15)),
       |bm25sc AS (SELECT bm25qt.q_id, bm25tf.doc_id,
       |    sum(bm25qt.idf * ((CAST(bm25tf.tf AS DOUBLE) * 2.2)
       |      / (CAST(bm25tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75
       |        * (CAST(bm25dl.dl AS DOUBLE)
       |          / (SELECT avgdl FROM bm25st)))))) AS raw,
       |    count(*) AS n_hit_terms
       |  FROM bm25tf JOIN bm25qt USING (term)
       |    JOIN bm25dl USING (doc_id)
       |  GROUP BY 1, 2),
       |bm25r AS (SELECT q_id, doc_id, round(raw, 6) AS score,
       |    n_hit_terms FROM bm25sc),
       |bm25rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY score DESC, doc_id) AS rank FROM bm25r)"""

  private def e1Sql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
      |    FROM embeddings WHERE vec_id < 10),
      |  c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
      |  sims AS (SELECT query_id, cand_id,
      |    list_sum(list_transform(range(1, len(qv) + 1),
      |      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(range(1, len(qv) + 1),
      |        i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
      |      * sqrt(list_sum(list_transform(range(1, len(cv) + 1),
      |        i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))))
      |      AS cosine
      |    FROM q CROSS JOIN c WHERE query_id <> cand_id)
      |SELECT query_id, cand_id, rnk FROM (
      |  SELECT query_id, cand_id, row_number() OVER (
      |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
      |  FROM sims) WHERE rnk <= 5""".stripMargin

  /** The e14 rerank oracle (exact rerank of the dumped candidate set),
    * reused as a method CTE of the e15 recall evaluation. */
  private def e14Sql: String =
    s"""WITH cand AS (SELECT query_id, cand_id
       |    FROM ${oprel("e14_cands")}),
       |  q AS (SELECT vec_id AS query_id, embedding AS qv
       |    FROM embeddings WHERE vec_id < 10),
       |  sims AS (SELECT c.query_id, c.cand_id,
       |      ${cosSql("q.qv", "e.embedding")} AS cosine
       |    FROM cand c JOIN q ON c.query_id = q.query_id
       |    JOIN embeddings e ON c.cand_id = e.vec_id)
       |SELECT query_id, cand_id, rnk FROM (
       |  SELECT query_id, cand_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
       |  FROM sims) WHERE rnk <= 5""".stripMargin

  /** dot(a,b) in double — the SQL twin of the codegen'd vec_dot. */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** ||a-b||² composed from the same dot primitives the Spark side
    * uses (`Similarity.l2sq`), so both engines share rounding. */
  private def l2Sql(a: String, b: String): String =
    s"(${dotSql(a, a)} + ${dotSql(b, b)} - 2 * ${dotSql(a, b)})"

  /** The IVF-PQ pipeline re-derived end-to-end in SQL: coarse
    * assignment/probes (= the proven e5 CTEs), per-subspace codebooks
    * from the first-16 subvectors, nearest-code encoding, per-query
    * distance tables and the ADC sum — all deterministic, no dump. */
  private def ivfPqSql: String =
    s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv
       |    FROM embeddings WHERE vec_id < 16),
       |  sims AS (SELECT e.vec_id, e.embedding, c.centroid_id,
       |      ${cosSql("e.embedding", "c.cv")} AS sim
       |    FROM embeddings e CROSS JOIN c),
       |  assigned AS (SELECT vec_id, embedding, centroid_id FROM (
       |      SELECT vec_id, embedding, centroid_id, row_number() OVER (
       |        PARTITION BY vec_id ORDER BY sim DESC, centroid_id)
       |        AS rn
       |      FROM sims) WHERE rn = 1),
       |  probes AS (SELECT query_id, centroid_id FROM (
       |      SELECT vec_id AS query_id, centroid_id,
       |        row_number() OVER (
       |          PARTITION BY vec_id ORDER BY sim DESC, centroid_id)
       |          AS rn
       |      FROM sims WHERE vec_id < 10) WHERE rn <= 4),
       |  js AS (SELECT unnest(range(0, 8)) AS j),
       |  cb AS (SELECT x.vec_id AS code, js.j,
       |      list_slice(x.embedding, js.j * 8 + 1, js.j * 8 + 8) AS cbv
       |    FROM embeddings x CROSS JOIN js WHERE x.vec_id < 16),
       |  enc AS (SELECT vec_id, centroid_id, j, code FROM (
       |      SELECT a.vec_id, a.centroid_id, cb.j, cb.code,
       |        row_number() OVER (PARTITION BY a.vec_id, cb.j
       |          ORDER BY ${l2Sql(
             "list_slice(a.embedding, cb.j * 8 + 1, cb.j * 8 + 8)",
             "cb.cbv")} ASC, cb.code ASC) AS rn
       |      FROM assigned a CROSS JOIN cb) WHERE rn = 1),
       |  dtab AS (SELECT q.vec_id AS query_id, cb.j, cb.code,
       |      ${l2Sql(
             "list_slice(q.embedding, cb.j * 8 + 1, cb.j * 8 + 8)",
             "cb.cbv")} AS dt
       |    FROM embeddings q CROSS JOIN cb WHERE q.vec_id < 10),
       |  scored AS (SELECT p.query_id, e.vec_id AS cand_id,
       |      sum(dt) AS adist
       |    FROM probes p JOIN enc e USING (centroid_id)
       |    JOIN dtab ON dtab.query_id = p.query_id AND dtab.j = e.j
       |      AND dtab.code = e.code
       |    WHERE p.query_id <> e.vec_id
       |    GROUP BY 1, 2)
       |SELECT query_id, cand_id, rnk FROM (
       |  SELECT query_id, cand_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY adist ASC, cand_id) AS rnk
       |  FROM scored) WHERE rnk <= 5"""


  /** The t4 language rule as a reusable CTE body — consumed by the
    * t4 oracle and the t62 fertility rollup. */
  private def t4Sql: String =
    """WITH tok AS (SELECT doc_id, text,
        |  regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents)
        |SELECT doc_id, CASE
        |  WHEN length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g'))
        |    > 0 THEN 'zh'
        |  WHEN length(regexp_replace(text, '[^\x{0400}-\x{04ff}]', '', 'g'))
        |    > 0 THEN 'ru'
        |  WHEN len(list_filter(t, x -> x IN
        |      ('the', 'a', 'of', 'and', 'to', 'is')))
        |    >= len(list_filter(t, x -> x IN
        |      ('el', 'la', 'de', 'y', 'que', 'en')))
        |   AND len(list_filter(t, x -> x IN
        |      ('the', 'a', 'of', 'and', 'to', 'is')))
        |    >= len(list_filter(t, x -> x IN
        |      ('le', 'la', 'de', 'et', 'que', 'est')))
        |   AND len(list_filter(t, x -> x IN
        |      ('the', 'a', 'of', 'and', 'to', 'is'))) > 0 THEN 'en'
        |  WHEN len(list_filter(t, x -> x IN
        |      ('el', 'la', 'de', 'y', 'que', 'en')))
        |    >= len(list_filter(t, x -> x IN
        |      ('le', 'la', 'de', 'et', 'que', 'est')))
        |   AND len(list_filter(t, x -> x IN
        |      ('el', 'la', 'de', 'y', 'que', 'en'))) > 0 THEN 'es'
        |  WHEN len(list_filter(t, x -> x IN
        |      ('le', 'la', 'de', 'et', 'que', 'est'))) > 0 THEN 'fr'
        |  ELSE 'und' END AS pred_lang
        |FROM tok"""

  private def tsOracles: Map[String, String] = Map(
    // ts24: same lag + wrap-guarded backward-step rule over the PES
    // header dump
    // ts25: P2 timing checks re-derived from the same dumps — lag
    // windows per PID, identical tick thresholds and wrap guards
    // ts26: every column re-derived from the dumped per-packet
    // payload lengths; overhead = 184·n − payload (4-byte header out)
    "ts26_mux_budget" ->
      s"""WITH per AS (SELECT pid, count(*) AS n,
         |    sum(coalesce(payload_len, 0)) AS payload_bytes
         |  FROM ${tsrel("packets")} GROUP BY 1),
         |t AS (SELECT sum(n) AS tot FROM per)
         |SELECT pid, CAST(per.n AS BIGINT) AS n_packets,
         |  CAST(per.n * 188 AS BIGINT) AS bytes,
         |  CAST(per.payload_bytes AS BIGINT) AS payload_bytes,
         |  CAST(per.n * 184 - per.payload_bytes AS BIGINT)
         |    AS overhead_bytes,
         |  CAST(per.n * 1000000 // t.tot AS BIGINT) AS share_ppm,
         |  pid = 8191 AS is_null_pid
         |FROM per, t""",
    "ts25_tr101290_p2" -> {
      s"""WITH pc AS (SELECT pid, pcr,
         |    coalesce(af_discontinuity, FALSE) AS disc,
         |    pcr - lag(pcr) OVER (PARTITION BY pid ORDER BY seq)
         |      AS delta
         |  FROM ${tsrel("packets")} WHERE pcr IS NOT NULL),
         |pcd AS (SELECT * FROM pc WHERE delta > 0),
         |pt AS (SELECT pid,
         |    pts - lag(pts) OVER (PARTITION BY pid ORDER BY seq)
         |      AS delta
         |  FROM ${tsrel("pes_headers")} WHERE pts IS NOT NULL),
         |ptd AS (SELECT * FROM pt
         |  WHERE delta > 0 AND delta < 4294967296)
         |SELECT 'p2_3a_pcr_repetition' AS check_id,
         |  CAST(coalesce(sum(CASE WHEN delta > 1080000 AND NOT disc
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_bad,
         |  CAST(count(*) AS BIGINT) AS n_obs FROM pcd
         |UNION ALL SELECT 'p2_3b_pcr_discontinuity',
         |  CAST(coalesce(sum(CASE WHEN delta > 2700000 AND NOT disc
         |    THEN 1 ELSE 0 END), 0) AS BIGINT),
         |  CAST(count(*) AS BIGINT) FROM pcd
         |UNION ALL SELECT 'p2_5_pts_repetition',
         |  CAST(coalesce(sum(CASE WHEN delta > 63000 THEN 1
         |    ELSE 0 END), 0) AS BIGINT),
         |  CAST(count(*) AS BIGINT) FROM ptd"""
    },
    "ts24_pts_monotonic" -> {
      s"""WITH p AS (SELECT seq, pid, pts FROM ${tsrel("pes_headers")}
         |  WHERE pts IS NOT NULL),
         |l AS (SELECT pid, pts,
         |    lag(pts) OVER (PARTITION BY pid ORDER BY seq) AS prev
         |  FROM p)
         |SELECT pid, CAST(count(*) AS BIGINT) AS n_steps,
         |  CAST(sum(CASE WHEN pts < prev AND prev - pts < 4294967296
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_backward,
         |  CAST(max(CASE WHEN pts < prev AND prev - pts < 4294967296
         |    THEN prev - pts END) AS BIGINT) AS max_backstep_90k
         |FROM l WHERE prev IS NOT NULL GROUP BY pid"""
    },
    // ts23: each TR 101 290 P1 class re-derived from the dumps — the
    // cadence threshold cross-multiplied in HUGEINT (the decimal(38,0)
    // twin of the engine's exact boundary)
    "ts23_tr101290" -> {
      s"""WITH pk AS (SELECT * FROM ${tsrel("packets")}),
         |ccl AS (SELECT pid, cc, coalesce(af_discontinuity, FALSE)
         |    AS disc,
         |    lag(cc) OVER (PARTITION BY pid ORDER BY seq) AS prev_cc
         |  FROM pk WHERE pid <> 8191 AND has_payload),
         |span AS (SELECT max(pid_ticks) AS span_ticks FROM (
         |  SELECT pid, sum(delta) AS pid_ticks FROM (
         |    SELECT pid, pcr - lag(pcr) OVER (
         |        PARTITION BY pid ORDER BY seq) AS delta
         |      FROM pk WHERE pcr IS NOT NULL)
         |    WHERE delta > 0 AND delta <= 27000000 GROUP BY pid)),
         |npk AS (SELECT count(*) AS n_pk FROM pk),
         |gaps AS (SELECT table_id, first_seq - lag(first_seq) OVER (
         |      PARTITION BY pid, table_id ORDER BY first_seq) AS gap
         |  FROM ${tsrel("sections")} WHERE table_id IN (0, 2)),
         |lategaps AS (SELECT table_id,
         |    CAST(gap AS HUGEINT) * (SELECT span_ticks FROM span) >
         |      CAST((SELECT n_pk FROM npk) AS HUGEINT) * 13500000
         |      AS late
         |  FROM gaps WHERE gap IS NOT NULL),
         |${winCte(tsrel("pmt_rows"), "m")},
         |esp AS (SELECT DISTINCT elementary_pid FROM mcur),
         |seen AS (SELECT DISTINCT pid FROM pk)
         |SELECT 'p1_2_sync_byte' AS check_id,
         |  CAST(sum(CASE WHEN reason <> 'ok' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_bad,
         |  CAST(count(*) AS BIGINT) AS n_obs
         |  FROM ${tsrel("reject_log")}
         |UNION ALL SELECT 'p1_4_continuity',
         |  CAST(sum(CASE WHEN prev_cc IS NOT NULL AND NOT disc
         |    AND ((prev_cc + 1) % 16) <> cc THEN 1 ELSE 0 END)
         |    AS BIGINT),
         |  CAST(count(*) AS BIGINT) FROM ccl
         |UNION ALL SELECT 'p1_3a_pat_cadence',
         |  CAST(coalesce(sum(CASE WHEN late AND table_id = 0
         |    THEN 1 ELSE 0 END), 0) AS BIGINT),
         |  CAST(coalesce(sum(CASE WHEN table_id = 0 THEN 1 ELSE 0
         |    END), 0) AS BIGINT) FROM lategaps
         |UNION ALL SELECT 'p1_5a_pmt_cadence',
         |  CAST(coalesce(sum(CASE WHEN late AND table_id = 2
         |    THEN 1 ELSE 0 END), 0) AS BIGINT),
         |  CAST(coalesce(sum(CASE WHEN table_id = 2 THEN 1 ELSE 0
         |    END), 0) AS BIGINT) FROM lategaps
         |UNION ALL SELECT 'p1_6_pid_missing',
         |  CAST(sum(CASE WHEN seen.pid IS NULL THEN 1 ELSE 0 END)
         |    AS BIGINT),
         |  CAST(count(*) AS BIGINT)
         |  FROM esp LEFT JOIN seen ON esp.elementary_pid = seen.pid
         |UNION ALL SELECT 'p2_2_crc',
         |  CAST(sum(CASE WHEN NOT crc_ok THEN 1 ELSE 0 END) AS BIGINT),
         |  CAST(count(*) AS BIGINT) FROM ${tsrel("sections")}"""
    },
    // ts22: the PTS→last-PCR lookup re-derived with DuckDB's NATIVE
    // ASOF JOIN over the dumps — an independent algorithm vs the
    // engine's two-level merge-fill; integer 90 kHz ticks throughout
    "ts22_pts_pcr_lead" -> {
      s"""WITH pcr AS (SELECT seq, pcr // 300 AS pcr90
         |  FROM ${tsrel("packets")} WHERE pcr IS NOT NULL),
         |pes AS (SELECT seq, pid, pts FROM ${tsrel("pes_headers")}
         |  WHERE pts IS NOT NULL),
         |j AS (SELECT pes.pid, pes.pts, pcr.pcr90
         |  FROM pes ASOF JOIN pcr ON pes.seq >= pcr.seq)
         |SELECT pid, CAST(count(*) AS BIGINT) AS n_stamps,
         |  CAST(min(pts - pcr90) AS BIGINT) AS min_lead_90k,
         |  CAST(max(pts - pcr90) AS BIGINT) AS max_lead_90k,
         |  CAST(sum(pts - pcr90) // count(*) AS BIGINT)
         |    AS avg_lead_90k
         |FROM j GROUP BY 1"""
    },
    // ts21: identical lag + guarded integer avg over the section dump
    "ts21_psi_cadence" -> {
      s"""WITH g AS (SELECT pid, table_id,
         |    first_seq - lag(first_seq) OVER (
         |      PARTITION BY pid, table_id ORDER BY first_seq) AS gap
         |  FROM ${tsrel("sections")})
         |SELECT pid, table_id, CAST(count(*) AS BIGINT) AS n_sections,
         |  CAST(min(gap) AS BIGINT) AS min_gap,
         |  CAST(max(gap) AS BIGINT) AS max_gap,
         |  CAST(CASE WHEN count(gap) = 0 THEN NULL
         |    ELSE sum(gap) // count(gap) END AS BIGINT) AS avg_gap
         |FROM g GROUP BY 1, 2"""
    },
    // ts20: lag + identical integer ms-bucketing over the dumped
    // packet layer; same discontinuity exclusion as spanSecondsOf
    "ts20_pcr_jitter" -> {
      s"""WITH p AS (SELECT pid, seq, pcr FROM ${tsrel("packets")}
         |  WHERE pcr IS NOT NULL),
         |d AS (SELECT pid,
         |    pcr - lag(pcr) OVER (PARTITION BY pid ORDER BY seq)
         |      AS delta FROM p)
         |SELECT pid, delta // 27000 AS bucket_ms,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(min(delta) AS BIGINT) AS min_ticks,
         |  CAST(max(delta) AS BIGINT) AS max_ticks
         |FROM d WHERE delta IS NOT NULL AND delta > 0
         |  AND delta <= 27000000
         |GROUP BY 1, 2"""
    },
    // t25: the ORACLE side is the pair set the STREAMING near-dup
    // operator emitted during Verify's deterministic replay (dumped);
    // the Spark side recomputes the batch banding — the hash match is
    // the stream≡batch parity proof
    "t25_stream_neardup" ->
      s"SELECT doc_a, doc_b FROM ${oprel("stream_neardup_pairs")}",
    // m11: oracle = the streaming CAS replay's per-asset decisions;
    // Spark recomputes min-doc-per-hash — hash match = stream≡batch
    // CAS-accounting parity
    "m11_stream_cas" ->
      s"""SELECT doc_id, format, stored, bytes_written
         |FROM ${oprel("stream_cas")}""",
    // t29: oracle = the streaming packer's replay emissions; Spark side
    // recomputes batch t26Pack — hash match = stream≡batch parity
    "t29_stream_pack" ->
      s"""SELECT doc_id, shard, n_tokens, tok_offset, bin, crosses_bin
         |FROM ${oprel("stream_pack")}""",
    // w13: oracle = the streaming funnel's replay emissions; Spark side
    // recomputes batch w12Funnel — hash match = stream≡batch parity
    "w13_stream_funnel" ->
      s"""SELECT user_id, t_view, t_click, t_purchase
         |FROM ${oprel("stream_funnel")}""",
    // w16: oracle = the streaming retention emissions aggregated into
    // the matrix; Spark side recomputes batch w15Retention — hash
    // match = stream≡batch retention parity
    "w16_stream_retention" ->
      s"""SELECT cohort_day, day_offset, count(*) AS n_users
         |FROM ${oprel("stream_retention")} GROUP BY 1, 2""",
    // w43: oracle = the streaming interpolation emissions verbatim;
    // Spark side recomputes batch w42Interpolate — hash match =
    // stream≡batch gap-fill parity across micro-batch seams
    "w43_stream_interpolate" ->
      s"""SELECT user_id, day, cents, is_interp
         |FROM ${oprel("stream_interp")}""",
    // j17: oracle = the streaming island assignments aggregated into
    // the per-user coverage census; Spark side recomputes batch j16 —
    // hash match = stream≡batch interval-merge parity
    "j17_stream_intervals" ->
      s"""WITH g AS (SELECT user_id, island, min(t) AS t0, max(t) AS t1
         |  FROM ${oprel("stream_intervals")} GROUP BY 1, 2)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
         |  CAST(sum(t1 - t0 + 1800000000) AS BIGINT) AS covered_us,
         |  CAST(max(t1 - t0 + 1800000000) AS BIGINT) AS max_island_us
         |FROM g GROUP BY 1""",
    "ts19_reject_stats" ->
      s"""SELECT reason, count(*) AS n FROM ${tsrel("reject_log")}
         |GROUP BY reason""",
    "e8_ivf_pq" -> ivfPqSql,
    // e25: e8's encoder CTEs (same dot-composed L2, same tie rule),
    // per-row micro-unit quantization BEFORE the integer sums
    "e25_pq_distortion" ->
      s"""WITH js AS (SELECT unnest(range(0, 8)) AS j),
         |  cb AS (SELECT x.vec_id AS code, js.j,
         |      list_slice(x.embedding, js.j * 8 + 1, js.j * 8 + 8) AS cbv
         |    FROM embeddings x CROSS JOIN js WHERE x.vec_id < 16),
         |  enc AS (SELECT vec_id, j, code, d2 FROM (
         |      SELECT e.vec_id, cb.j, cb.code,
         |        ${l2Sql(
             "list_slice(e.embedding, cb.j * 8 + 1, cb.j * 8 + 8)",
             "cb.cbv")} AS d2,
         |        row_number() OVER (PARTITION BY e.vec_id, cb.j
         |          ORDER BY ${l2Sql(
             "list_slice(e.embedding, cb.j * 8 + 1, cb.j * 8 + 8)",
             "cb.cbv")} ASC, cb.code ASC) AS rn
         |      FROM embeddings e CROSS JOIN cb) WHERE rn = 1),
         |  q AS (SELECT vec_id, j, code,
         |      CAST(floor(d2 * 1000000 + 0.5) AS BIGINT) AS err_micro
         |    FROM enc)
         |SELECT CAST(j AS INTEGER) AS j,
         |  CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(count(DISTINCT code) AS BIGINT) AS codes_used,
         |  CAST(sum(err_micro) AS BIGINT) AS sum_err_micro,
         |  CAST(max(err_micro) AS BIGINT) AS max_err_micro,
         |  CAST(sum(err_micro) // count(*) AS BIGINT) AS mean_err_micro
         |FROM q GROUP BY 1""",
    // e5's whole pipeline is deterministic (centroids = first 16 corpus
    // vectors) — assignment, probes and in-list scoring re-derived in SQL
    "e5_ivf_ann" -> ivfSql(
      "SELECT vec_id AS centroid_id, embedding AS cv " +
        "FROM embeddings WHERE vec_id < 16"),
    // e17: identical pipeline SQL with the metadata predicate applied
    // to the candidate (assigned) side — filtered vector search
    "e17_filtered_ann" -> ivfSql(
      "SELECT vec_id AS centroid_id, embedding AS cv " +
        "FROM embeddings WHERE vec_id < 16",
      candCond = "a.label % 2 = 0"),
    // e10: identical semantics to e5 through the PERSISTED partitioned
    // index — the oracle is therefore the same full-pipeline SQL; what
    // e10 adds (the pruned disk layout) is asserted by its plan spec
    "e10_ivf_persisted" -> ivfSql(
      "SELECT vec_id AS centroid_id, embedding AS cv " +
        "FROM embeddings WHERE vec_id < 16"),
    // e6: the trained k-means model (16 rows) is the dumped artifact;
    // the whole IVF remainder is re-derived from it in SQL
    "e6_ivf_kmeans" -> ivfSql(
      s"SELECT centroid_id, cv FROM ${oprel("kmeans_centroids")}"),
    // t8: signatures dumped; banding (4×12-bit chunks), hamming
    // (bit_count of xor), pair dedup and the ≤12 gate re-derived in SQL
    "t8_simhash" ->
      s"""WITH s AS (SELECT doc_id, sh FROM ${oprel("simhash_sigs")}),
         |  ch AS (SELECT doc_id, sh, c, (sh >> (c * 12)) & 4095 AS ckey
         |    FROM s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) t),
         |  p AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |      bit_count(xor(x.sh, y.sh)) AS hamming
         |    FROM ch x JOIN ch y
         |    ON x.c = y.c AND x.ckey = y.ckey AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 12""",
    // t43: first-occurrence is list_position = own index on the segment
    // STRINGS in both engines (no hashes, no collision reconciliation);
    // DuckDB list slices are 1-based inclusive = Spark slice(pos, len)
    "t43_line_dedup" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |g AS (SELECT doc_id, list_transform(
        |    range(0, CAST(ceil(len(tk)/10.0) AS INTEGER)),
        |    i -> array_to_string(
        |      tk[(CAST(i AS INTEGER)*10+1):(CAST(i AS INTEGER)*10+10)],
        |      ' ')) AS segs FROM t),
        |k AS (SELECT doc_id, segs,
        |    list_filter(list_transform(range(1, len(segs) + 1),
        |      i -> CASE WHEN list_position(segs,
        |          segs[CAST(i AS INTEGER)]) = i
        |        THEN segs[CAST(i AS INTEGER)] END),
        |      x -> x IS NOT NULL) AS kept FROM g)
        |SELECT doc_id, CAST(len(segs) AS INTEGER) AS n_segs,
        |  CAST(len(segs) - len(kept) AS INTEGER) AS n_dup_segs,
        |  array_to_string(kept, ' ') AS clean_text
        |FROM k""",
    // t44: the vocab cut is (count desc, token) LIMIT 1000 — a total
    // order, so both engines cut identically; OOV = unmatched LEFT-join
    // rows counted per doc
    "t44_vocab_coverage" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
        |      AS tok
        |  FROM documents),
        |v AS (SELECT tok, 1 AS in_vocab FROM (
        |    SELECT tok, count(*) AS n FROM t GROUP BY tok
        |    ORDER BY n DESC, tok LIMIT 1000)),
        |j AS (SELECT t.doc_id, v.in_vocab FROM t LEFT JOIN v USING (tok))
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(count(*) - count(in_vocab) AS BIGINT) AS n_oov
        |FROM j GROUP BY doc_id""",
    // t45: batch ids from per-shard row_number; // 16 is integer
    // division = Spark's truncated double division (power-of-two
    // divisor, exact in binary)
    "t45_batch_padding" ->
      """WITH b AS (SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS shard,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |      AS INTEGER) AS n_tokens
        |  FROM documents),
        |a AS (SELECT 'arrival' AS strategy, shard,
        |    CAST((row_number() OVER (PARTITION BY shard ORDER BY doc_id)
        |      - 1) // 16 AS INTEGER) AS batch_id, n_tokens FROM b),
        |s AS (SELECT 'sorted' AS strategy, shard,
        |    CAST((row_number() OVER (PARTITION BY shard
        |      ORDER BY n_tokens, doc_id)
        |      - 1) // 16 AS INTEGER) AS batch_id, n_tokens FROM b),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM s)
        |SELECT strategy, shard, batch_id, count(*) AS n_docs,
        |  max(n_tokens) AS max_len,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_len,
        |  CAST(max(n_tokens) * count(*) - sum(n_tokens) AS BIGINT)
        |    AS waste
        |FROM u GROUP BY 1, 2, 3""",
    // t42: the streaming dedup's emitted winners, NOT deduped oracle-
    // side — a double emission or a lost content would break the hash
    // match against the batch distinct set
    "t42_stream_dedup" ->
      s"""SELECT text_hash FROM ${oprel("stream_dedup")}""",
    // m6: same banding/hamming re-derivation as t8, from the media
    // byte-simhash dump
    "m6_media_neardup" ->
      s"""WITH s AS (SELECT doc_id, sh FROM ${oprel("m6_sigs")}),
         |  ch AS (SELECT doc_id, sh, c, (sh >> (c * 12)) & 4095 AS ckey
         |    FROM s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) t),
         |  p AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |      bit_count(xor(x.sh, y.sh)) AS hamming
         |    FROM ch x JOIN ch y
         |    ON x.c = y.c AND x.ckey = y.ckey AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 12""",
    // e14: the PQ candidate set is dumped; the oracle independently
    // reranks the SAME candidates with exact cosine (the e1-proven
    // kernel SQL) — hash match proves the refine stage's exact order
    "e14_rerank" -> e14Sql,
    // e15: ground truth AND all three methods re-derived independently
    // (the proven e1/e5/e8/e14 SELECTs nested as derived tables), then
    // per-(method, query) hit counting — the oracle cross-checks the
    // whole recall measurement, not just one side of it
    // e26: exact top-1 + each method's ranked list re-derived from the
    // same proven CTEs; reciprocal ranks pre-scaled by 60 (lcm 1..5)
    // so the gate compares exact integers
    "e26_mrr" ->
      s"""WITH exact1 AS (SELECT query_id, cand_id FROM ($e1Sql) x
         |    WHERE rnk = 1),
         |  u AS (
         |    SELECT 'e5_ivf' AS method, query_id, cand_id, rnk
         |    FROM (${ivfSql(
               "SELECT vec_id AS centroid_id, embedding AS cv " +
                 "FROM embeddings WHERE vec_id < 16")}) m5
         |    UNION ALL
         |    SELECT 'e8_pq' AS method, query_id, cand_id, rnk
         |    FROM ($ivfPqSql) m8
         |    UNION ALL
         |    SELECT 'e14_rerank' AS method, query_id, cand_id, rnk
         |    FROM ($e14Sql) m14),
         |  m AS (SELECT unnest(
         |    ['e5_ivf', 'e8_pq', 'e14_rerank']) AS method),
         |  g AS (SELECT m.method, e.query_id, e.cand_id
         |    FROM m CROSS JOIN exact1 e)
         |SELECT g.method, g.query_id,
         |  CAST(coalesce(60 // u.rnk, 0) AS BIGINT) AS rr_x60
         |FROM g LEFT JOIN u ON g.method = u.method
         |  AND g.query_id = u.query_id AND g.cand_id = u.cand_id""",
    // e28: same three method CTEs as e26; the integer milli discount
    // table and graded gains make every value exact, IDCG = 10273
    "e28_ndcg" ->
      s"""WITH exact AS (SELECT query_id, cand_id, rnk AS ex_rnk
         |    FROM ($e1Sql) x),
         |  u AS (
         |    SELECT 'e5_ivf' AS method, query_id, cand_id, rnk
         |    FROM (${ivfSql(
               "SELECT vec_id AS centroid_id, embedding AS cv " +
                 "FROM embeddings WHERE vec_id < 16")}) m5
         |    UNION ALL
         |    SELECT 'e8_pq' AS method, query_id, cand_id, rnk
         |    FROM ($ivfPqSql) m8
         |    UNION ALL
         |    SELECT 'e14_rerank' AS method, query_id, cand_id, rnk
         |    FROM ($e14Sql) m14),
         |  sc AS (SELECT u.method, u.query_id,
         |    (CASE u.rnk WHEN 1 THEN 1000 WHEN 2 THEN 631
         |      WHEN 3 THEN 500 WHEN 4 THEN 431 ELSE 387 END)
         |    * coalesce(6 - e.ex_rnk, 0) AS term
         |  FROM u LEFT JOIN exact e ON u.query_id = e.query_id
         |    AND u.cand_id = e.cand_id)
         |SELECT method, query_id,
         |  CAST(sum(term) AS BIGINT) AS dcg_milli,
         |  CAST(sum(term) * 1000000 // 10273 AS BIGINT) AS ndcg_ppm
         |FROM sc GROUP BY 1, 2""",
    "e15_recall_eval" ->
      s"""WITH exact AS (SELECT query_id, cand_id FROM ($e1Sql) x),
         |  u AS (
         |    SELECT 'e5_ivf' AS method, query_id, cand_id
         |    FROM (${ivfSql(
               "SELECT vec_id AS centroid_id, embedding AS cv " +
                 "FROM embeddings WHERE vec_id < 16")}) m5
         |    UNION ALL
         |    SELECT 'e8_pq' AS method, query_id, cand_id
         |    FROM ($ivfPqSql) m8
         |    UNION ALL
         |    SELECT 'e14_rerank' AS method, query_id, cand_id
         |    FROM ($e14Sql) m14)
         |SELECT u.method, u.query_id,
         |  count(exact.cand_id) AS hits, count(*) AS n
         |FROM u LEFT JOIN exact
         |  ON u.query_id = exact.query_id AND u.cand_id = exact.cand_id
         |GROUP BY 1, 2""",
    // e16: BOTH stages re-derived relationally — truncated-prefix
    // cosine top-20, then the e1-proven exact rerank on full dims
    "e16_matryoshka" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |    FROM embeddings WHERE vec_id < 10),
         |  c AS (SELECT vec_id AS cand_id, embedding AS cv
         |    FROM embeddings),
         |  s1 AS (SELECT query_id, cand_id,
         |      ${cosSql("list_slice(qv, 1, 16)", "list_slice(cv, 1, 16)")}
         |      AS tcos
         |    FROM q CROSS JOIN c WHERE query_id <> cand_id),
         |  cand AS (SELECT query_id, cand_id FROM (
         |      SELECT query_id, cand_id, row_number() OVER (
         |        PARTITION BY query_id ORDER BY tcos DESC, cand_id)
         |        AS rn FROM s1) WHERE rn <= 20),
         |  sims AS (SELECT cand.query_id, cand.cand_id,
         |      ${cosSql("q.qv", "c.cv")} AS cosine
         |    FROM cand JOIN q ON cand.query_id = q.query_id
         |    JOIN c ON cand.cand_id = c.cand_id)
         |SELECT query_id, cand_id, rnk FROM (
         |  SELECT query_id, cand_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
         |  FROM sims) WHERE rnk <= 5""",
    // e2: bucket assignment dumped; same-bucket pair generation + exact
    // cosine scoring (the e1-proven kernel SQL) re-derived in SQL
    "e2_lsh_ann" ->
      s"""WITH b AS (SELECT vec_id, bucket FROM ${oprel("lsh_buckets")}),
         |  p AS (SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
         |    FROM b x JOIN b y
         |    ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
         |SELECT vec_a, vec_b FROM p
         |JOIN embeddings ea ON p.vec_a = ea.vec_id
         |JOIN embeddings eb ON p.vec_b = eb.vec_id
         |WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.2""",
    // e9: the whole SemDeDup pipeline is deterministic (fixed centroids)
    // — assignment, in-cluster pairing, and the min-id keep resolution
    // are all re-derived in SQL from the raw embeddings
    "e9_semdedup" ->
      s"""WITH c AS (SELECT vec_id AS centroid_id, embedding AS cv
         |    FROM embeddings WHERE vec_id < 16),
         |  sims AS (SELECT e.vec_id, e.embedding, c.centroid_id,
         |      ${cosSql("e.embedding", "c.cv")} AS sim
         |    FROM embeddings e CROSS JOIN c),
         |  assigned AS (SELECT vec_id, embedding, centroid_id FROM (
         |      SELECT vec_id, embedding, centroid_id, row_number() OVER (
         |        PARTITION BY vec_id ORDER BY sim DESC, centroid_id)
         |        AS rn
         |      FROM sims) WHERE rn = 1),
         |  losers AS (SELECT DISTINCT y.vec_id
         |    FROM assigned x JOIN assigned y
         |    ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
         |    WHERE ${cosSql("x.embedding", "y.embedding")} >= 0.4)
         |SELECT a.vec_id, a.centroid_id FROM assigned a
         |WHERE a.vec_id NOT IN (SELECT vec_id FROM losers)""",
    // a11: quantile estimates dumped; exact ranks + the 2ε·n+1 bound
    // re-derived — the sketch's contract is checked, not the bits
    "a11_quantiles" ->
      s"""WITH est AS (SELECT * FROM ${oprel("a11_est")}),
         |r AS (SELECT l.l_returnflag, count(*) AS n,
         |    sum(CASE WHEN l_extendedprice <= e.p50 THEN 1 ELSE 0 END)
         |      AS r50,
         |    sum(CASE WHEN l_extendedprice <= e.p90 THEN 1 ELSE 0 END)
         |      AS r90,
         |    sum(CASE WHEN l_extendedprice <= e.p99 THEN 1 ELSE 0 END)
         |      AS r99
         |  FROM lineitem l JOIN est e USING (l_returnflag)
         |  GROUP BY 1)
         |SELECT l_returnflag, n,
         |  abs(CAST(r50 AS DOUBLE) - 0.5 * CAST(n AS DOUBLE))
         |    <= 0.0002 * CAST(n AS DOUBLE) + 1.0 AS p50_ok,
         |  abs(CAST(r90 AS DOUBLE) - 0.9 * CAST(n AS DOUBLE))
         |    <= 0.0002 * CAST(n AS DOUBLE) + 1.0 AS p90_ok,
         |  abs(CAST(r99 AS DOUBLE) - 0.99 * CAST(n AS DOUBLE))
         |    <= 0.0002 * CAST(n AS DOUBLE) + 1.0 AS p99_ok
         |FROM r""",
    // a13: count-min estimates dumped; exact token counts + the one-sided
    // and 3N/width bounds re-derived — integer math, so the booleans are
    // engine-exact (the sketch's contract is checked, not the bits)
    "a13_heavy_hitters" ->
      s"""WITH terms AS (SELECT
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM documents),
         |exact AS (SELECT term, count(*) AS exact FROM terms GROUP BY 1),
         |n AS (SELECT count(*) AS n_total FROM terms),
         |est AS (SELECT * FROM ${oprel("a13_est")})
         |SELECT term, est, exact, est >= exact AS lower_ok,
         |  (est - exact) * 1024 <= 3 * n_total AS eps_ok
         |FROM est JOIN exact USING (term) CROSS JOIN n""",
    // t21: the quantized unigram model (term, logp DECIMAL(18,9)) is
    // dumped; the oracle re-derives only exact decimal sums + one IEEE
    // division, so the score is bit-identical cross-engine
    "t21_unigram_logprob" ->
      s"""WITH terms AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM documents),
         |m AS (SELECT * FROM ${oprel("t21_model")})
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(logp) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS mean_logp
         |FROM terms JOIN m USING (term)
         |GROUP BY doc_id""",
    // t36/t37: like t18, Spark shuffles xxhash64 of the window/segment
    // while the oracle groups by the text itself — the counts agree
    // because the corpus is fixed and 64-bit collisions are absent on
    // it (and would be deterministic if present); interval-union and
    // reconstruction are pure integer/string logic on both engines
    // t46: the rewrite re-derived window-string-wise (the t36
    // convention — Spark shuffles 8-byte hashes, the oracle compares
    // the strings themselves); first occurrence = row_number 1 over
    // (doc_id, p); reconstruction = ORDER BY pos inside list()
    "t46_exactsubstr_rewrite" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |wp AS (SELECT doc_id, CAST(g.p AS INTEGER) AS p, g.w AS w
        |  FROM (SELECT doc_id,
        |      unnest(list_transform(range(1, len(tk) - 6),
        |        p -> {'p': p,
        |              'w': array_to_string(list_slice(tk, p, p + 7),
        |                ' ')})) AS g
        |    FROM t WHERE len(tk) >= 8)),
        |r AS (SELECT doc_id, p,
        |    row_number() OVER (PARTITION BY w ORDER BY doc_id, p) AS rn,
        |    count(*) OVER (PARTITION BY w) AS cnt FROM wp),
        |rem AS (SELECT doc_id, p FROM r WHERE cnt >= 2 AND rn > 1),
        |p2 AS (SELECT doc_id, CAST(pos AS INTEGER) AS pos,
        |    tk[CAST(pos AS INTEGER)] AS tok
        |  FROM (SELECT doc_id, tk,
        |      unnest(range(1, len(tk) + 1)) AS pos FROM t)),
        |cov AS (SELECT DISTINCT p2.doc_id, p2.pos FROM p2
        |  JOIN rem ON p2.doc_id = rem.doc_id
        |    AND p2.pos BETWEEN rem.p AND rem.p + 7),
        |kept AS (SELECT p2.* FROM p2
        |  LEFT JOIN cov ON p2.doc_id = cov.doc_id AND p2.pos = cov.pos
        |  WHERE cov.pos IS NULL),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |    array_to_string(list(tok ORDER BY pos), ' ') AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(tk) AS INTEGER) AS n_tokens,
        |  CAST(len(tk) - coalesce(n_kept, 0) AS INTEGER) AS n_removed,
        |  coalesce(clean_text, '') AS clean_text
        |FROM t LEFT JOIN agg USING (doc_id)""",
    "t36_dup_spans" ->
      """WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |wins AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(t) - 6),
        |      p -> {'p': p,
        |            'w': array_to_string(list_slice(t, p, p + 7), ' ')}))
        |      AS g
        |  FROM toks WHERE len(t) >= 8),
        |wp AS (SELECT doc_id, CAST(g.p AS INTEGER) AS p, g.w AS w
        |  FROM wins),
        |dup AS (SELECT doc_id, p FROM wp WHERE w IN (
        |    SELECT w FROM wp GROUP BY w
        |    HAVING count(DISTINCT doc_id) >= 2)),
        |cov AS (SELECT doc_id, greatest(0, p + 7 - greatest(
        |      coalesce(max(p + 7) OVER (PARTITION BY doc_id ORDER BY p
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0),
        |      p - 1)) AS contrib
        |  FROM dup),
        |cv AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS cov
        |  FROM cov GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.t) AS INTEGER) AS n_tokens,
        |  coalesce(c.cov, 0) AS covered_tokens
        |FROM toks t LEFT JOIN cv c USING (doc_id)""",
    "t37_boilerplate_strip" ->
      """WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |sg AS (SELECT doc_id, CAST(g.i AS INTEGER) AS i, g.w AS w
        |  FROM (SELECT doc_id,
        |      unnest(list_transform(
        |        range(0, CAST(ceil(len(t) / 10.0) AS BIGINT)),
        |        i -> {'i': i, 'w': array_to_string(
        |          list_slice(t, i * 10 + 1, i * 10 + 10), ' ')})) AS g
        |    FROM toks)),
        |hot AS (SELECT w FROM sg GROUP BY w
        |  HAVING count(DISTINCT doc_id) >= 3),
        |kept AS (SELECT doc_id, string_agg(w, ' ' ORDER BY i)
        |    AS clean_text
        |  FROM sg WHERE w NOT IN (SELECT w FROM hot) GROUP BY doc_id),
        |rem AS (SELECT doc_id, CAST(count(*) AS INTEGER)
        |    AS n_removed_segs
        |  FROM sg WHERE w IN (SELECT w FROM hot) GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(k.clean_text, '') AS clean_text,
        |  coalesce(r.n_removed_segs, 0) AS n_removed_segs
        |FROM toks t LEFT JOIN kept k USING (doc_id)
        |  LEFT JOIN rem r USING (doc_id)""",
    "t38_upsample" ->
      """WITH c AS (SELECT lang, count(*) AS n_lang
        |  FROM documents GROUP BY lang),
        |m AS (SELECT max(n_lang) AS n_max FROM c),
        |r AS (SELECT lang,
        |    least(4, (n_max + n_lang - 1) // n_lang) AS epochs
        |  FROM c CROSS JOIN m)
        |SELECT d.doc_id, d.lang,
        |  unnest(list_transform(range(0, r.epochs),
        |    x -> CAST(x AS INTEGER))) AS epoch
        |FROM documents d JOIN r USING (lang)""",
    // e13: bucket assignment dumped (e2's relation), neighbors + exact
    // cosine + rank re-derived fully in SQL — cosine doubles are
    // bit-identical cross-engine (left-to-right double summation on
    // both sides, the e1 discipline)
    "e13_knn_graph" ->
      s"""WITH b AS (SELECT vec_id, bucket FROM ${oprel("lsh_buckets")}),
         |p AS (SELECT x.vec_id AS vec_id, y.vec_id AS neighbor_id
         |  FROM b x JOIN b y
         |  ON x.bucket = y.bucket AND x.vec_id <> y.vec_id),
         |s AS (SELECT p.vec_id, p.neighbor_id,
         |    ${cosSql("ea.embedding", "eb.embedding")} AS cosine
         |  FROM p JOIN embeddings ea ON p.vec_id = ea.vec_id
         |  JOIN embeddings eb ON p.neighbor_id = eb.vec_id)
         |SELECT vec_id, neighbor_id, CAST(rnk AS INTEGER) AS rnk
         |FROM (SELECT vec_id, neighbor_id, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id)
         |    AS rnk FROM s)
         |WHERE rnk <= 3""",
    // t35: the score is t21's bit-identical double, so exact tercile
    // membership re-derives with a plain rank; Spark's histogram
    // two-pass cut and this global sort agree because (score desc,
    // doc_id) is a total order
    "t35_perplexity_tiers" ->
      s"""WITH terms AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM documents),
         |m AS (SELECT * FROM ${oprel("t21_model")}),
         |sc AS (SELECT doc_id,
         |    CAST(sum(logp) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |      AS mean_logp
         |  FROM terms JOIN m USING (term) GROUP BY doc_id),
         |r AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY mean_logp DESC, doc_id) AS rk,
         |    count(*) OVER () AS n
         |  FROM sc)
         |SELECT doc_id,
         |  CASE WHEN rk <= n // 3 THEN 'head'
         |    WHEN rk <= 2 * n // 3 THEN 'middle'
         |    ELSE 'tail' END AS tier
         |FROM r""",
    "w10_range_frame" ->
      """SELECT user_id, event_id, ts,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    AS hour_sum,
        |  count(*) OVER w AS hour_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY CAST(epoch(ts) AS BIGINT)
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""",
    "j6_range_join" ->
      """WITH f AS (SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
        |      THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sx AS (SELECT user_id, ts,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM f),
        |sess AS (SELECT user_id, session_id,
        |    min(ts) AS session_start, max(ts) AS session_end
        |  FROM sx GROUP BY user_id, session_id)
        |SELECT e.event_id, e.user_id, s.session_id
        |FROM events e JOIN sess s
        |ON e.user_id = s.user_id
        |AND e.ts >= s.session_start AND e.ts <= s.session_end""",
    "w9_dense_cume" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CAST(dense_rank() OVER w AS INT) AS drank,
        |  cume_dist() OVER w AS cdist
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)""",
    "a15_exact_median" ->
      """WITH r AS (SELECT l_returnflag,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag, max(n) AS n,
        |  CAST(sum(p) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS median_price
        |FROM r
        |WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
        |GROUP BY l_returnflag""",
    "sc7_higher_order" ->
      """WITH b AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents)
        |SELECT doc_id,
        |  CAST(len(t) AS INT) AS n_tokens,
        |  array_to_string(list_transform(t, x -> CAST(length(x) AS INT)), ',')
        |    AS lens_csv,
        |  CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT)
        |    AS total_len,
        |  CAST(len(list_filter(t, x -> length(x) >= 5)) AS INT)
        |    AS n_long,
        |  array_to_string(list_sort(list_distinct(t))[1:3], ',')
        |    AS first3
        |FROM b""",
    "j8_null_safe_join" ->
      """WITH l AS (SELECT event_id,
        |    CASE WHEN user_id % 7 = 0 THEN NULL
        |      ELSE user_id % 7 END AS k FROM events),
        |dim AS (SELECT DISTINCT
        |    CASE WHEN user_id % 7 = 0 THEN NULL
        |      ELSE user_id % 7 END AS k
        |  FROM events WHERE event_type = 'signup')
        |SELECT l.k, count(*) AS n
        |FROM l JOIN dim ON l.k IS NOT DISTINCT FROM dim.k
        |GROUP BY l.k""",
    // a20: exact ×100 fixed-point variance/stddev — floor division of
    // the exact HUGEINT moment numerator; stddev via the same
    // seed-then-snap isqrt as a14 (⌊√⌊x⌋⌋ = ⌊√x⌋)
    "a20_dispersion" ->
      """WITH a AS (SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
        |    AS HUGEINT) AS sx2,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(l_extendedprice AS DECIMAL(18,2))
        |    AS DECIMAL(38,4))) * 10000 AS HUGEINT) AS sxx4
        |  FROM lineitem GROUP BY 1),
        |m AS (SELECT l_returnflag, n,
        |    CAST(n AS HUGEINT) * sxx4 - sx2 * sx2 AS va4
        |  FROM a),
        |p AS (SELECT l_returnflag, n, va4,
        |    va4 // (CAST(n AS HUGEINT) * n) AS vp,
        |    CASE WHEN n < 2 THEN NULL
        |      ELSE va4 // (CAST(n AS HUGEINT) * (n - 1)) END AS vs
        |  FROM m),
        |r AS (SELECT *,
        |    CAST(floor(sqrt(CAST(vp AS DOUBLE))) AS HUGEINT) AS rp0,
        |    CAST(floor(sqrt(CAST(vs AS DOUBLE))) AS HUGEINT) AS rs0
        |  FROM p)
        |SELECT l_returnflag, n,
        |  CAST(va4 // (CAST(n AS HUGEINT) * n * 100) AS BIGINT)
        |    AS var_pop_x100,
        |  CAST(CASE WHEN (rp0 + 1) * (rp0 + 1) <= vp THEN rp0 + 1
        |    WHEN rp0 * rp0 > vp THEN rp0 - 1 ELSE rp0 END AS BIGINT)
        |    AS stddev_pop_x100,
        |  CAST(CASE WHEN n < 2 THEN NULL
        |    ELSE va4 // (CAST(n AS HUGEINT) * (n - 1) * 100) END
        |    AS BIGINT) AS var_samp_x100,
        |  CAST(CASE WHEN n < 2 THEN NULL
        |    WHEN (rs0 + 1) * (rs0 + 1) <= vs THEN rs0 + 1
        |    WHEN rs0 * rs0 > vs THEN rs0 - 1 ELSE rs0 END AS BIGINT)
        |    AS stddev_samp_x100
        |FROM r""",
    "a21_string_agg" ->
      """SELECT o_orderpriority,
        |  array_to_string(list_sort(list_distinct(list(o_orderstatus))),
        |    ',') AS statuses
        |FROM orders GROUP BY o_orderpriority""",
    "a19_histogram" ->
      """SELECT l_returnflag,
        |  CAST(CASE WHEN l_extendedprice < 0.0 THEN 0
        |    WHEN l_extendedprice >= 110000.0 THEN 11
        |    ELSE floor((l_extendedprice - 0.0) / 11000.0) + 1 END
        |    AS BIGINT) AS bucket,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2""",
    "t24_edit_distance" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist
        |FROM documents a JOIN documents b ON a.doc_id < b.doc_id
        |WHERE a.doc_id < 10 AND b.doc_id < 10""",
    "a18_grouping_sets" ->
      """SELECT event_type, CAST(hour(ts) AS INT) AS hr,
        |  CAST(GROUPING(event_type) * 2 + GROUPING(hour(ts)) AS INT)
        |    AS gid,
        |  count(*) AS n
        |FROM events
        |GROUP BY GROUPING SETS ((event_type), (hour(ts)))""",
    "j7_full_outer" ->
      """WITH oa AS (SELECT o_custkey, count(*) AS n_big_orders
        |  FROM orders WHERE o_totalprice > 150000.0 GROUP BY 1),
        |c AS (SELECT c_custkey, c_name FROM customer
        |  WHERE c_mktsegment = 'MACHINERY')
        |SELECT coalesce(c_custkey, o_custkey) AS custkey,
        |  coalesce(c_name, '') AS c_name,
        |  CAST(coalesce(n_big_orders, 0) AS BIGINT) AS n_big_orders
        |FROM c FULL OUTER JOIN oa ON c_custkey = o_custkey""",
    "w11_first_nth" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  nth_value(o_totalprice, 3) OVER w AS third_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    // w14: hold gaps are integer micros; the weighted mass is exact
    // DECIMAL; ONE IEEE division at the end (cast both sums to double)
    "w14_time_weighted" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsus,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |g AS (SELECT user_id, cents,
        |    lead(tsus) OVER (PARTITION BY user_id
        |      ORDER BY tsus, event_id) - tsus AS dt
        |  FROM e)
        |SELECT user_id, CAST(SUM(dt) AS BIGINT) AS held_us,
        |  CAST(SUM(cents * dt) AS DOUBLE)
        |    / CAST(SUM(dt) * 100 AS DOUBLE) AS twa
        |FROM g WHERE dt IS NOT NULL GROUP BY user_id""",
    // a22: the closed-form OLS assembly replayed — integer hour/cents
    // moments (DuckDB sums are HUGEINT-exact, Spark's DECIMAL(38,0)),
    // one double division for slope, the same three IEEE ops for the
    // intercept
    "a22_ols" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 3600000000 AS xh,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |x0 AS (SELECT min(xh) AS x0 FROM e),
        |b AS (SELECT event_type, xh - x0 AS x, cents AS y
        |  FROM e CROSS JOIN x0),
        |m AS (SELECT event_type, count(*) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM b GROUP BY 1),
        |sl AS (SELECT event_type, n, sx, sy,
        |    CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) AS slope
        |  FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS n, slope,
        |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) AS intercept
        |FROM sl""",
    // w17: the coverage-explode rewrite re-derived — each (user, day)
    // covers report days day..day+6, dedup, clip to observed days
    "w17_rolling_dau" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |cov AS (SELECT DISTINCT user_id, day + o AS rday
        |  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS o)),
        |days AS (SELECT DISTINCT day AS rday FROM ud)
        |SELECT rday, count(*) AS dau7
        |FROM cov JOIN days USING (rday) GROUP BY 1""",
    "w15_retention" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |  c AS (SELECT user_id, min(day) AS cohort_day
        |    FROM ud GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |  count(*) AS n_users
        |FROM ud JOIN c USING (user_id) GROUP BY 1, 2""",
    "w12_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS t_view
        |    FROM events WHERE event_type = 'view' GROUP BY 1),
        |  c AS (SELECT e.user_id, min(e.ts) AS t_click,
        |      min(v.t_view) AS t_view
        |    FROM events e JOIN v ON e.user_id = v.user_id
        |    WHERE e.event_type = 'click' AND e.ts > v.t_view
        |    GROUP BY 1),
        |  p AS (SELECT e.user_id, min(e.ts) AS t_purchase,
        |      min(c.t_click) AS t_click, min(c.t_view) AS t_view
        |    FROM events e JOIN c ON e.user_id = c.user_id
        |    WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |    GROUP BY 1)
        |SELECT user_id, t_view, t_click, t_purchase FROM p""",
    "s7_pagination" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 50 OFFSET 100""",
    "s8_keyset_page" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_totalprice < 150000.0
        |   OR (o_totalprice = 150000.0 AND o_orderkey > 4000)
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 50""",
    // j9: salting is semantics-neutral — the oracle is the PLAIN join
    "j9_salted_join" ->
      """SELECT s_nationkey, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""",
    "a17_bool_aggs" ->
      """SELECT l_returnflag,
        |  bool_and(l_quantity > 0) AS all_positive,
        |  bool_or(l_discount > 0.09) AS any_big_discount,
        |  CAST(sum(CASE WHEN l_tax > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_high_tax
        |FROM lineitem GROUP BY 1""",
    "sc6_url_parse" ->
      """WITH u AS (SELECT event_id,
        |    'udp://224.0.0.' || CAST(event_id % 256 AS VARCHAR) || ':'
        |      || CAST(2000 + event_id % 1000 AS VARCHAR)
        |      || '?pkts=7&tag=t' || CAST(user_id AS VARCHAR) AS url
        |  FROM events)
        |SELECT event_id, url,
        |  regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
        |  regexp_extract(url, '://([^:/?]+)', 1) AS host,
        |  regexp_extract(url, '[?&]tag=([^&]*)', 1) AS tag,
        |  CAST(regexp_extract(url, ':(\d+)\?', 1) AS INT) AS port
        |FROM u""",
    "a16_mode" ->
      """WITH c AS (SELECT o_orderpriority, o_orderstatus,
        |    count(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT o_orderpriority, o_orderstatus, cnt,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY cnt DESC, o_orderstatus) AS rn
        |  FROM c)
        |SELECT o_orderpriority, o_orderstatus AS mode_status,
        |  cnt AS mode_n
        |FROM r WHERE rn = 1""",
    // a14: exact HUGEINT moments; isqrt snaps a double-sqrt seed to
    // the true integer root with exact comparisons (mirrors the
    // engine's decimal construction bit-for-bit); corr·10⁹ and the
    // ×100 covariance via the positive-mod floor form
    "a14_corr" ->
      """WITH a AS (SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100
        |    AS HUGEINT) AS sx2,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
        |    AS HUGEINT) AS sy2,
        |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |    * CAST(l_extendedprice AS DECIMAL(18,2))
        |    AS DECIMAL(38,4))) * 10000 AS HUGEINT) AS sxy4,
        |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |    * CAST(l_quantity AS DECIMAL(18,2))
        |    AS DECIMAL(38,4))) * 10000 AS HUGEINT) AS sxx4,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(l_extendedprice AS DECIMAL(18,2))
        |    AS DECIMAL(38,4))) * 10000 AS HUGEINT) AS syy4
        |  FROM lineitem GROUP BY 1),
        |m AS (SELECT l_returnflag, n,
        |    CAST(n AS HUGEINT) * sxy4 - sx2 * sy2 AS cov4,
        |    CAST(n AS HUGEINT) * sxx4 - sx2 * sx2 AS va4,
        |    CAST(n AS HUGEINT) * syy4 - sy2 * sy2 AS vb4
        |  FROM a),
        |r AS (SELECT l_returnflag, n, cov4, va4, vb4,
        |    CAST(floor(sqrt(CAST(va4 AS DOUBLE))) AS HUGEINT) AS ra0,
        |    CAST(floor(sqrt(CAST(vb4 AS DOUBLE))) AS HUGEINT) AS rb0
        |  FROM m),
        |q AS (SELECT l_returnflag, n, cov4, va4, vb4,
        |    CASE WHEN (ra0 + 1) * (ra0 + 1) <= va4 THEN ra0 + 1
        |      WHEN ra0 * ra0 > va4 THEN ra0 - 1 ELSE ra0 END AS ra,
        |    CASE WHEN (rb0 + 1) * (rb0 + 1) <= vb4 THEN rb0 + 1
        |      WHEN rb0 * rb0 > vb4 THEN rb0 - 1 ELSE rb0 END AS rb
        |  FROM r)
        |SELECT l_returnflag, n,
        |  CAST(CASE WHEN cov4 > 0 THEN 1 WHEN cov4 < 0 THEN -1
        |    ELSE 0 END AS INTEGER) AS cov_sign,
        |  CASE WHEN va4 = 0 OR vb4 = 0 THEN NULL ELSE
        |    CAST((CAST(1000000000 AS HUGEINT) * cov4
        |      - (((CAST(1000000000 AS HUGEINT) * cov4) % (ra * rb)
        |        + ra * rb) % (ra * rb)))
        |      // (ra * rb) AS BIGINT) END AS corr_ppb,
        |  CAST((cov4 - ((cov4 % (CAST(n AS HUGEINT) * n * 100)
        |      + CAST(n AS HUGEINT) * n * 100)
        |    % (CAST(n AS HUGEINT) * n * 100)))
        |    // (CAST(n AS HUGEINT) * n * 100) AS BIGINT)
        |    AS covar_pop_x100
        |FROM q""",
    // a7: estimates dumped; exact distincts + the 3·rsd accuracy bound
    // independently re-derived — the contract is checked, not the bits
    "w18_trending" ->
      """WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    event_type, count(*) AS n FROM events GROUP BY 1, 2)
        |SELECT day, event_type, n, rnk FROM (
        |  SELECT day, event_type, n, CAST(row_number() OVER (
        |    PARTITION BY day ORDER BY n DESC, event_type) AS INTEGER)
        |    AS rnk FROM c) WHERE rnk <= 3""",
    // a24: the z^2 > 9 rule cross-multiplied to integers — no sqrt,
    // no division, bit-identical across engines
    "a24_anomaly" ->
      """WITH d AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, n_events,
        |    count(*) OVER win AS win_n,
        |    COALESCE(sum(n_events) OVER win, 0) AS s,
        |    COALESCE(sum(n_events * n_events) OVER win, 0) AS q
        |  FROM d WINDOW win AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, n_events, CAST(win_n AS BIGINT) AS win_n,
        |  win_n = 7 AND (win_n * n_events - s) * (win_n * n_events - s)
        |    > 9 * (win_n * q - s * s) AS anomaly
        |FROM w""",
    // a23: the merged weekly estimates come from the Verify dump; the
    // exact side and the 10% accuracy contract are the oracle's own
    // a26: sketch inclusion–exclusion from the dumped estimates; exact
    // intersection + integer bound re-derived independently
    "a26_sketch_intersection" ->
      s"""WITH est AS (SELECT * FROM ${oprel("a26_est")}),
         |c AS (SELECT DISTINCT user_id FROM events
         |  WHERE event_type = 'click'),
         |p AS (SELECT DISTINCT user_id FROM events
         |  WHERE event_type = 'purchase'),
         |ex AS (SELECT count(*) AS exact_inter
         |  FROM c JOIN p USING (user_id))
         |SELECT est_click, est_purchase, est_union,
         |  CAST(est_click + est_purchase - est_union AS BIGINT)
         |    AS est_inter,
         |  CAST(exact_inter AS BIGINT) AS exact_inter,
         |  abs(est_click + est_purchase - est_union - exact_inter) * 10
         |    <= exact_inter AS within_bound
         |FROM est CROSS JOIN ex""",
    "a23_hll_merge" ->
      s"""WITH est AS (SELECT week, est_users FROM ${oprel("a23_est")}),
         |  ex AS (SELECT (epoch_us(ts) // 86400000000) // 7 AS week,
         |      count(DISTINCT user_id) AS exact_users
         |    FROM events GROUP BY 1)
         |SELECT ex.week, exact_users,
         |  abs(CAST(est_users AS DOUBLE) - CAST(exact_users AS DOUBLE))
         |    <= 0.1 * CAST(exact_users AS DOUBLE) AS est_within_bound
         |FROM ex JOIN est USING (week)""",
    "a7_approx_distinct" ->
      s"""WITH est AS (SELECT * FROM ${oprel("a7_est")}),
         |  ex AS (SELECT l_returnflag,
         |      count(DISTINCT l_partkey) AS exact_parts,
         |      count(DISTINCT l_suppkey) AS exact_supps
         |    FROM lineitem GROUP BY 1)
         |SELECT ex.l_returnflag, exact_parts, exact_supps,
         |  abs(CAST(approx_parts AS DOUBLE) - CAST(exact_parts AS DOUBLE))
         |    <= 0.15 * CAST(exact_parts AS DOUBLE) AS parts_within_rsd,
         |  abs(CAST(approx_supps AS DOUBLE) - CAST(exact_supps AS DOUBLE))
         |    <= 0.15 * CAST(exact_supps AS DOUBLE) AS supps_within_rsd
         |FROM ex JOIN est USING (l_returnflag)""",
    "ts1_pid_stats" ->
      s"""SELECT pid, count(*) AS n_packets,
         |  CAST(count(*) * 188 AS BIGINT) AS bytes,
         |  CAST(sum(CASE WHEN pusi THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pusi,
         |  CAST(sum(CASE WHEN pcr IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_pcr
         |FROM ${tsrel("packets")} GROUP BY pid""",
    "ts2_cc_audit" ->
      s"""WITH p AS (SELECT pid, seq, cc,
         |    coalesce(af_discontinuity, FALSE) AS disc
         |  FROM ${tsrel("packets")} WHERE pid <> 8191 AND has_payload),
         |  l AS (SELECT pid, cc, disc,
         |    lag(cc) OVER (PARTITION BY pid ORDER BY seq) AS prev_cc
         |  FROM p)
         |SELECT pid, count(*) AS n_packets,
         |  CAST(sum(CASE WHEN prev_cc IS NOT NULL AND NOT disc
         |    AND ((prev_cc + 1) % 16) <> cc THEN 1 ELSE 0 END) AS BIGINT)
         |    AS cc_errors
         |FROM l GROUP BY pid""",
    "ts3_section_stats" ->
      s"""SELECT pid, table_id, count(*) AS n_sections,
         |  CAST(sum(CASE WHEN crc_ok THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_crc_ok,
         |  count(DISTINCT version_number) AS n_versions
         |FROM ${tsrel("sections")} GROUP BY pid, table_id""",
    "ts4_pat" ->
      s"""WITH ${winCte(tsrel("pat_entries"), "p")}
         |SELECT program_number, reference_pid FROM pcur""",
    "ts5_pmt_es" ->
      s"""WITH ${winCte(tsrel("pmt_rows"), "m")}
         |SELECT program_number, pid AS pmt_pid, pcr_pid, stream_type,
         |  elementary_pid
         |FROM mcur""",
    "ts6_programs_summary" ->
      s"""WITH ${winCte(tsrel("pat_entries"), "p")},
         |  ${winCte(tsrel("sdt_rows"), "s")},
         |  ${winCte(tsrel("pmt_rows"), "m")},
         |  pmtagg AS (SELECT program_number, min(pcr_pid) AS pcr_pid,
         |    count(*) AS n_es FROM mcur GROUP BY 1),
         |  sdt AS (SELECT service_id, service_name FROM scur)
         |SELECT p.program_number, p.reference_pid,
         |  coalesce(sdt.service_name, '') AS service_name,
         |  pmtagg.pcr_pid, coalesce(pmtagg.n_es, 0) AS n_es
         |FROM (SELECT program_number, reference_pid FROM pcur
         |  WHERE program_number <> 0) p
         |LEFT JOIN sdt ON p.program_number = sdt.service_id
         |LEFT JOIN pmtagg ON p.program_number = pmtagg.program_number""",
    "ts7_pes_stats" ->
      s"""SELECT pid, count(*) AS n_pes, min(pts) AS min_pts,
         |  max(pts) AS max_pts,
         |  CAST(max(pts) - min(pts) AS DOUBLE) / 90000.0
         |    AS pts_span_sec,
         |  CAST(sum(CASE WHEN dts IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_with_dts
         |FROM ${tsrel("pes")} GROUP BY pid""",
    "ts8_peek_pid_stats" ->
      s"""SELECT pid, count(*) AS n_packets,
         |  CAST(sum(CASE WHEN pusi THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pusi
         |FROM ${tsrel("packets")} GROUP BY pid""",
    "ts9_program_proc_doc" ->
      s"""WITH ${winCte(tsrel("pmt_rows"), "m")},
         |  pk AS (SELECT seq, pid FROM ${tsrel("packets")}),
         |  pcrs AS (SELECT pid, pcr - lag(pcr) OVER (
         |      PARTITION BY pid ORDER BY seq) AS delta
         |    FROM ${tsrel("packets")} WHERE pcr IS NOT NULL),
         |  span AS (SELECT max(s) / 27000000.0 AS span_s FROM (
         |    SELECT pid, sum(delta) AS s FROM pcrs
         |    WHERE delta > 0 AND delta <= 27000000 GROUP BY pid)),
         |  tot AS (SELECT CAST(count(*) AS DOUBLE) AS total,
         |    min(seq) AS seq0 FROM pk),
         |  prog_pids AS (SELECT DISTINCT program_number, pid FROM (
         |    SELECT program_number,
         |      unnest([pid, pcr_pid, elementary_pid]) AS pid FROM mcur)),
         |  persec AS (SELECT program_number,
         |      floor((pk.seq - tot.seq0) * span.span_s / tot.total) AS sec,
         |      count(*) * 188 * 8 AS bits
         |    FROM pk JOIN prog_pids USING (pid)
         |    CROSS JOIN span CROSS JOIN tot
         |    GROUP BY 1, 2),
         |  br AS (SELECT program_number,
         |      CAST(floor((CAST(sum(bits) AS DOUBLE)
         |        / CAST(count(*) AS DOUBLE)) / 100.0 + 0.5) AS BIGINT)
         |        AS t_avg,
         |      CAST(floor(CAST(max(bits) AS DOUBLE) / 100.0 + 0.5)
         |        AS BIGINT) AS t_peak
         |    FROM persec GROUP BY 1)
         |SELECT program_number,
         |  printf('$ts9DocFmt',
         |    t_avg // 10, t_avg % 10, t_peak // 10, t_peak % 10,
         |    t_avg // 10, t_avg % 10) AS doc
         |FROM br""",
    "ts10_instance_doc" ->
      s"""WITH ${winCte(tsrel("pat_entries"), "p")},
         |  ${winCte(tsrel("sdt_rows"), "s")},
         |  ${winCte(tsrel("pmt_rows"), "m")},
         |  pk AS (SELECT seq, pid FROM ${tsrel("packets")}),
         |  pcrs AS (SELECT pid, pcr - lag(pcr) OVER (
         |      PARTITION BY pid ORDER BY seq) AS delta
         |    FROM ${tsrel("packets")} WHERE pcr IS NOT NULL),
         |  span AS (SELECT max(sm) / 27000000.0 AS span_s FROM (
         |    SELECT pid, sum(delta) AS sm FROM pcrs
         |    WHERE delta > 0 AND delta <= 27000000 GROUP BY pid)),
         |  tot AS (SELECT CAST(count(*) AS DOUBLE) AS total,
         |    min(seq) AS seq0 FROM pk),
         |  prog_pids AS (SELECT DISTINCT program_number, pid FROM (
         |    SELECT program_number,
         |      unnest([pid, pcr_pid, elementary_pid]) AS pid FROM mcur)),
         |  persec AS (SELECT program_number,
         |      floor((pk.seq - tot.seq0) * span.span_s / tot.total) AS sec,
         |      count(*) * 188 * 8 AS bits
         |    FROM pk JOIN prog_pids USING (pid)
         |    CROSS JOIN span CROSS JOIN tot
         |    GROUP BY 1, 2),
         |  br AS (SELECT program_number,
         |      CAST(floor((CAST(sum(bits) AS DOUBLE)
         |        / CAST(count(*) AS DOUBLE)) / 100.0 + 0.5) AS BIGINT)
         |        AS t_avg,
         |      CAST(floor(CAST(max(bits) AS DOUBLE) / 100.0 + 0.5)
         |        AS BIGINT) AS t_peak
         |    FROM persec GROUP BY 1),
         |  pmtagg AS (SELECT program_number, count(*) AS n_es
         |    FROM mcur GROUP BY 1),
         |  prog AS (SELECT p.program_number,
         |      coalesce(sd.service_name, '') AS service_name,
         |      coalesce(pmtagg.n_es, 0) AS n_es
         |    FROM (SELECT program_number FROM pcur
         |      WHERE program_number <> 0) p
         |    LEFT JOIN (SELECT service_id, service_name FROM scur) sd
         |      ON p.program_number = sd.service_id
         |    LEFT JOIN pmtagg ON p.program_number = pmtagg.program_number),
         |  progs_json AS (SELECT coalesce(string_agg(
         |      printf('${graft.operators.TsQueries.progFragFmt}',
         |        program_number, service_name,
         |        CASE WHEN n_es > 0 THEN 'true' ELSE 'false' END,
         |        program_number),
         |      ',' ORDER BY program_number), '') AS programs_json
         |    FROM prog),
         |  procs_json AS (SELECT coalesce(string_agg(
         |      printf('${graft.operators.TsQueries.procFragFmt}',
         |        program_number, t_avg // 10, t_avg % 10,
         |        t_peak // 10, t_peak % 10, t_avg // 10, t_avg % 10),
         |      ',' ORDER BY program_number), '') AS procs_json FROM br),
         |  lt AS (SELECT event_type AS code, count(*) AS cnt,
         |      strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS dt
         |    FROM events GROUP BY 1),
         |  lt_json AS (SELECT coalesce(string_agg(
         |      printf('${graft.operators.TsQueries.logTraceFragFmt}',
         |        code, 'trace: ' || code, dt, cnt),
         |      ',' ORDER BY code), '') AS logs_json FROM lt),
         |  tt AS (SELECT CAST(floor((CAST(count(*) * 188 * 8 AS DOUBLE)
         |      / (SELECT span_s FROM span)) / 100.0 + 0.5) AS BIGINT)
         |      AS t_tot FROM pk)
         |SELECT 'mpeg2_sp-0' AS id_str,
         |  printf('${graft.operators.TsQueries.instanceDocFmt}',
         |    t_tot // 10, t_tot % 10, logs_json,
         |    '${graft.ts.TsPipeline.DefaultCapture}',
         |    programs_json, procs_json) AS doc
         |FROM tt, progs_json, procs_json, lt_json""",
    // ts14: per-PID sane-delta PCR spans, max across PIDs, per-second
    // bucketing and tenths rendering re-derived from the fixture dump
    // ts15: the summary join re-derived over the dumped PSI dims — the
    // SDT side actually MATCHES here (pcr_pid constant per program, so
    // min == the Spark side's first)
    "ts15_mpts_summary" ->
      s"""WITH pat AS (SELECT program_number, reference_pid
         |    FROM ${tsrel("mpts_pat")} WHERE program_number <> 0),
         |  pmt AS (SELECT program_number, min(pcr_pid) AS pcr_pid,
         |      count(*) AS n_es
         |    FROM ${tsrel("mpts_pmt")} GROUP BY 1),
         |  sdt AS (SELECT service_id, service_name
         |    FROM ${tsrel("mpts_sdt")})
         |SELECT p.program_number, p.reference_pid,
         |  coalesce(s.service_name, '') AS service_name,
         |  m.pcr_pid, coalesce(m.n_es, 0) AS n_es
         |FROM pat p
         |LEFT JOIN sdt s ON p.program_number = s.service_id
         |LEFT JOIN pmt m USING (program_number)""",
    // ts16: the CBR plan re-derived with the oracle's own forward fill
    // (one last_value IGNORE NULLS window) against the partitioned
    // two-pass fill the engine runs — 300 kbps → 199 pkt/s target;
    // the PCR-second derives through the same IEEE double division
    "ts16_cbr_plan" ->
      s"""WITH p AS (SELECT seq,
         |    CAST(floor(CAST(pcr AS DOUBLE) / 27000000) AS BIGINT)
         |      AS pcr_sec
         |  FROM ${tsrel("packets")}),
         |f AS (SELECT seq, last_value(pcr_sec IGNORE NULLS) OVER (
         |    ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING
         |    AND CURRENT ROW) AS bucket
         |  FROM p)
         |SELECT bucket, count(*) AS n_packets,
         |  CAST(greatest(0, 199 - count(*)) AS BIGINT) AS n_stuffing
         |FROM f WHERE bucket IS NOT NULL
         |GROUP BY bucket""",
    // ts18: the custom ForwardFillExec's one-pass fill re-derived with
    // the oracle's windowed last_value IGNORE NULLS — same relation
    "ts18_fill_forward" ->
      s"""SELECT seq, pid, pcr,
         |  last_value(pcr IGNORE NULLS) OVER (
         |    PARTITION BY pid ORDER BY seq
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS last_pcr
         |FROM ${tsrel("packets")}""",
    // ts17: restamp = (pcr + offset) mod 2^33·300 — integer-exact on
    // both engines, re-derived over the dumped packet layer
    "ts17_pcr_restamp" ->
      s"""SELECT seq, (pcr + 1234567) % (8589934592 * 300) AS pcr
         |FROM ${tsrel("packets")}
         |WHERE pcr IS NOT NULL""",
    "ts14_mpts_bitrate" ->
      s"""WITH pcrs AS (SELECT pid, pcr - lag(pcr) OVER (
         |      PARTITION BY pid ORDER BY seq) AS delta
         |    FROM ${tsrel("mpts_packets")} WHERE pcr IS NOT NULL),
         |  span AS (SELECT max(sm) / 27000000.0 AS span_s FROM (
         |    SELECT pid, sum(delta) AS sm FROM pcrs
         |    WHERE delta > 0 AND delta <= 27000000 GROUP BY pid)),
         |  pk AS (SELECT seq, pid FROM ${tsrel("mpts_packets")}),
         |  tot AS (SELECT CAST(count(*) AS DOUBLE) AS total,
         |    min(seq) AS seq0 FROM pk),
         |  prog_pids AS (SELECT DISTINCT program_number, pid FROM (
         |    SELECT program_number,
         |      unnest([pmt_pid, pcr_pid, elementary_pid]) AS pid
         |    FROM ${tsrel("mpts_pmt")})),
         |  persec AS (SELECT program_number,
         |      floor((pk.seq - tot.seq0) * span.span_s / tot.total) AS sec,
         |      count(*) * 188 * 8 AS bits
         |    FROM pk JOIN prog_pids USING (pid)
         |    CROSS JOIN span CROSS JOIN tot
         |    GROUP BY 1, 2),
         |  br AS (SELECT program_number,
         |      CAST(floor((CAST(sum(bits) AS DOUBLE)
         |        / CAST(count(*) AS DOUBLE)) / 100.0 + 0.5) AS BIGINT)
         |        AS t_avg,
         |      CAST(floor(CAST(max(bits) AS DOUBLE) / 100.0 + 0.5)
         |        AS BIGINT) AS t_peak
         |    FROM persec GROUP BY 1)
         |SELECT program_number,
         |  printf('%d.%d', t_avg // 10, t_avg % 10) AS input_bitrate,
         |  printf('%d.%d', t_peak // 10, t_peak % 10)
         |    AS input_bitrate_peak
         |FROM br""",
    "ts11_es_proc_doc" ->
      s"""WITH ${winCte(tsrel("pmt_rows"), "m")},
         |  subs_win AS (SELECT s.*
         |    FROM ${tsrel("pmt_es_subtitling")} s JOIN mkeep k
         |    ON s.pid = k.pid AND s.table_id = k.table_id
         |    AND s.table_id_extension = k.table_id_extension
         |    AND s.version_number = k.version_number
         |    AND s.section_number = k.section_number
         |    AND s.first_seq = k.keep_seq),
         |  svc AS (SELECT elementary_pid, string_agg(
         |      printf('${graft.operators.TsQueries.svcFragFmt}',
         |        lang, subtitling_type, composition_page_id,
         |        ancillary_page_id),
         |      ',' ORDER BY lang) AS services_json
         |    FROM subs_win GROUP BY 1),
         |  span AS (SELECT max(sm) / 27000000.0 AS span_s FROM (
         |    SELECT pid, sum(delta) AS sm FROM (
         |      SELECT pid, pcr - lag(pcr) OVER (
         |        PARTITION BY pid ORDER BY seq) AS delta
         |      FROM ${tsrel("packets")} WHERE pcr IS NOT NULL)
         |    WHERE delta > 0 AND delta <= 27000000 GROUP BY pid)),
         |  pes AS (SELECT pid AS elementary_pid, count(*) AS n_pes,
         |      min(pts) AS min_pts, max(pts) AS max_pts
         |    FROM ${tsrel("pes")} GROUP BY 1),
         |  bits AS (SELECT pid AS elementary_pid,
         |      count(*) * 188 * 8 AS bits
         |    FROM ${tsrel("packets")} GROUP BY 1),
         |  j AS (SELECT es.program_number, es.elementary_pid,
         |      es.stream_type, coalesce(bits.bits, 0) AS bits,
         |      pes.n_pes, pes.min_pts, pes.max_pts, svc.services_json,
         |      span.span_s
         |    FROM (SELECT program_number, elementary_pid, stream_type
         |      FROM mcur) es
         |    LEFT JOIN bits USING (elementary_pid)
         |    LEFT JOIN pes USING (elementary_pid)
         |    LEFT JOIN svc USING (elementary_pid)
         |    CROSS JOIN span),
         |  t AS (SELECT *,
         |      CAST(floor((CAST(bits AS DOUBLE) / span_s) / 100.0 + 0.5)
         |        AS BIGINT) AS t_in,
         |      CASE WHEN stream_type = 6 AND elementary_pid IN
         |          (SELECT DISTINCT elementary_pid FROM subs_win)
         |        THEN 'dvb_subt'
         |        WHEN stream_type IN (1, 2, 27, 36) THEN 'video'
         |        WHEN stream_type IN (3, 4, 15, 17, 129) THEN 'audio'
         |        ELSE 'bypass' END AS extension_type
         |    FROM j)
         |SELECT program_number, elementary_pid, stream_type,
         |  printf('${graft.operators.TsQueries.esDocFmt}',
         |    extension_type, t_in // 10, t_in % 10,
         |    t_in // 10, t_in % 10,
         |    coalesce(n_pes, 0), coalesce(min_pts, -1),
         |    coalesce(max_pts, -1), coalesce(services_json, '')) AS doc
         |FROM t""",
  )

  /** Shared by t41 (session-cached features) and t41b (persisted
    * feature lake) — one semantic, two execution strategies. */
  private val t41DsirSql: String =
    """WITH t AS (SELECT doc_id, source,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS tk
      |  FROM documents),
      |f AS (SELECT doc_id, source,
      |    CAST(CAST(list_sum(list_transform(range(1, 7),
      |      i -> (strpos('0123456789abcdef',
      |        substr(md5('dsir:' || bg), CAST(i AS INTEGER), 1)) - 1)
      |        * (16 ** (6 - i)))) AS BIGINT) % 10000 AS BIGINT) AS f
      |  FROM (SELECT doc_id, source,
      |      unnest(list_transform(range(1, len(tk)),
      |        i -> tk[CAST(i AS INTEGER)] || ' '
      |          || tk[CAST(i + 1 AS INTEGER)])) AS bg FROM t)),
      |raw AS (SELECT f, count(*) AS cnt_r FROM f GROUP BY f),
      |tgt AS (SELECT f, count(*) AS cnt_t FROM f
      |  WHERE source = 'src1' GROUP BY f),
      |dim AS (SELECT raw.f, cnt_r,
      |    COALESCE(cnt_t, 0) AS cnt_t
      |  FROM raw LEFT JOIN tgt ON raw.f = tgt.f),
      |tot AS (SELECT CAST(sum(cnt_r) AS BIGINT) AS n_r,
      |    CAST(sum(cnt_t) AS BIGINT) AS n_t FROM dim)
      |SELECT doc_id,
      |  CAST(sum(cnt_t) AS BIGINT) AS score_num,
      |  CAST(sum(cnt_r) AS BIGINT) AS score_den,
      |  CAST(sum(cnt_t) AS BIGINT) * n_r
      |    > CAST(sum(cnt_r) AS BIGINT) * n_t AS keep
      |FROM f JOIN dim ON f.f = dim.f CROSS JOIN tot
      |GROUP BY doc_id, n_r, n_t""" // margins stripped by the map below

  def oracleSql: Map[String, String] = (tsOracles ++ Map(
    // g1: fixed-point integer PageRank (scale 1e-12), 5 unrolled
    // iterations — every op is BIGINT floor division / sum, so both
    // engines agree bit-for-bit; the readable double is one final
    // division. Node ids: part = 2k, supplier = 2k+1.
    "g1_pagerank" -> {
      val base = "1000000000000 // (SELECT n FROM nn)"
      def iter(cur: String, prev: String) =
        s"""$cur AS (SELECT d.node,
           |    (15 * ($base)) // 100
           |      + (85 * COALESCE(CAST(s.inc AS BIGINT), 0)) // 100 AS r
           |  FROM deg d LEFT JOIN (
           |    SELECT e.dst AS node, sum(r.r // dg.deg) AS inc
           |    FROM edges e JOIN $prev r ON e.src = r.node
           |    JOIN deg dg ON e.src = dg.node
           |    GROUP BY 1) s ON d.node = s.node)"""
      s"""WITH e0 AS (SELECT DISTINCT l_partkey * 2 AS src,
         |    l_suppkey * 2 + 1 AS dst FROM lineitem),
         |edges AS (SELECT src, dst FROM e0
         |  UNION ALL SELECT dst, src FROM e0),
         |deg AS (SELECT src AS node, count(*) AS deg
         |  FROM edges GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT node, $base AS r FROM deg),
         |${iter("r1", "r0")},
         |${iter("r2", "r1")},
         |${iter("r3", "r2")},
         |${iter("r4", "r3")},
         |${iter("r5", "r4")}
         |SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END
         |    AS node_type,
         |  node // 2 AS node_key, r AS rank_fp,
         |  CAST(r AS DOUBLE) / 1e12 AS rank
         |FROM r5 ORDER BY r DESC, node LIMIT 20"""
    },
    // g2: independent-algorithm cross-check — recursive-SQL
    // reachability closure vs Spark's min-label propagation
    "g2_components" ->
      """WITH RECURSIVE e0 AS (
        |    SELECT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |    FROM lineitem GROUP BY 1, 2 HAVING count(*) >= 3),
        |ed AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        |nodes AS (SELECT DISTINCT a AS n FROM ed),
        |reach(n, comp) AS (
        |    SELECT n, n FROM nodes
        |    UNION
        |    SELECT e.a, r.comp FROM ed e JOIN reach r ON e.b = r.n),
        |lab AS (SELECT n, min(comp) AS comp FROM reach GROUP BY 1)
        |SELECT comp, CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(CASE WHEN n % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_parts,
        |  CAST(sum(CASE WHEN n % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_suppliers
        |FROM lab GROUP BY 1""",
    // g8: certificate verification, not a Borůvka replay — the dumped
    // forest must be a subset of the re-derived backbone, span G's
    // exact components with |T| = |V| - c, and satisfy the cycle
    // property (each non-tree edge's endpoints connected through
    // strictly smaller-key tree edges, via a keyed recursive closure);
    // any violation emits poison rows and fails the hash gate
    "g8_spanning_forest" ->
      s"""WITH RECURSIVE ps AS (SELECT DISTINCT l_partkey AS p,
         |    l_suppkey AS sup FROM lineitem),
         |co AS (SELECT a.sup AS s_a, b.sup AS s_b, count(*) AS n_shared
         |  FROM ps a JOIN ps b ON a.p = b.p AND a.sup < b.sup
         |  GROUP BY 1, 2),
         |ed AS (SELECT s_a AS a, s_b AS b, n_shared,
         |    (1000000 - n_shared) * 1099511627776
         |      + s_a * 1048576 + s_b AS k
         |  FROM co ORDER BY n_shared DESC, s_a, s_b LIMIT 2000),
         |t AS (SELECT a, b, n_shared,
         |    (1000000 - n_shared) * 1099511627776
         |      + a * 1048576 + b AS k
         |  FROM ${oprel("g8_msf")}),
         |nodes AS (SELECT DISTINCT n FROM (SELECT a AS n FROM ed
         |  UNION ALL SELECT b FROM ed)),
         |notsub AS (SELECT t.a FROM t LEFT JOIN ed
         |  ON t.a = ed.a AND t.b = ed.b WHERE ed.a IS NULL),
         |ged AS (SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed),
         |ted AS (SELECT a, b FROM t UNION ALL SELECT b, a FROM t),
         |greach(n, comp) AS (SELECT n, n FROM nodes UNION
         |  SELECT e.a, r.comp FROM ged e JOIN greach r ON e.b = r.n),
         |glab AS (SELECT n, min(comp) AS comp FROM greach GROUP BY 1),
         |treach(n, comp) AS (SELECT n, n FROM nodes UNION
         |  SELECT e.a, r.comp FROM ted e JOIN treach r ON e.b = r.n),
         |tlab AS (SELECT n, min(comp) AS comp FROM treach GROUP BY 1),
         |compviol AS (SELECT g.n FROM glab g JOIN tlab s ON g.n = s.n
         |  WHERE g.comp <> s.comp),
         |cntviol AS (SELECT 1 AS v FROM
         |  (SELECT count(*) AS nt FROM t) x,
         |  (SELECT count(*) AS nv FROM nodes) y,
         |  (SELECT count(DISTINCT comp) AS nc FROM glab) z
         |  WHERE x.nt <> y.nv - z.nc),
         |nt AS (SELECT ed.a, ed.b, ed.k,
         |    row_number() OVER (ORDER BY ed.k) AS eid
         |  FROM ed LEFT JOIN t ON ed.a = t.a AND ed.b = t.b
         |  WHERE t.a IS NULL),
         |kreach(eid, n) AS (
         |  SELECT eid, a FROM nt
         |  UNION
         |  SELECT r.eid,
         |    CASE WHEN tt.a = r.n THEN tt.b ELSE tt.a END
         |  FROM kreach r JOIN nt e ON e.eid = r.eid
         |  JOIN t tt ON (tt.a = r.n OR tt.b = r.n) AND tt.k < e.k),
         |cycviol AS (SELECT nt.eid FROM nt LEFT JOIN kreach r
         |  ON r.eid = nt.eid AND r.n = nt.b WHERE r.n IS NULL)
         |SELECT a, b, CAST(n_shared AS BIGINT) AS n_shared FROM t
         |UNION ALL SELECT -1, -1, -1 FROM notsub
         |UNION ALL SELECT -2, -2, -2 FROM compviol
         |UNION ALL SELECT -3, -3, -3 FROM cntviol
         |UNION ALL SELECT -4, -4, -4 FROM cycviol""",
    // g3: per-part bounded pair join; integer ppm jaccard
    "g3_cosupplier" ->
      """WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sup
        |  FROM lineitem),
        |deg AS (SELECT sup, count(*) AS n_parts FROM ps GROUP BY 1),
        |pairs AS (SELECT a.sup AS s_a, b.sup AS s_b, count(*) AS n_shared
        |  FROM ps a JOIN ps b ON a.p = b.p AND a.sup < b.sup
        |  GROUP BY 1, 2)
        |SELECT s_a, s_b, CAST(n_shared AS BIGINT) AS n_shared,
        |  CAST(da.n_parts AS BIGINT) AS n_a,
        |  CAST(db.n_parts AS BIGINT) AS n_b,
        |  CAST(n_shared * 1000000 // (da.n_parts + db.n_parts - n_shared)
        |    AS BIGINT) AS jaccard_ppm
        |FROM pairs
        |JOIN deg da ON s_a = da.sup
        |JOIN deg db ON s_b = db.sup
        |ORDER BY n_shared DESC, s_a, s_b LIMIT 50""",
    // j10: SCD2 — version increments on value change; valid_to = next
    // version's valid_from (NULL ⇒ current); all times epoch-micros
    "j10_scd2" ->
      """WITH s AS (SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT *, sum(CASE WHEN prev IS NULL
        |      OR prev <> event_type THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS version FROM s),
        |g AS (SELECT user_id, event_type AS attr_value, version,
        |    min(epoch_us(ts)) AS valid_from_us, count(*) AS n_events
        |  FROM c GROUP BY 1, 2, 3)
        |SELECT user_id, attr_value, CAST(version AS INT) AS version,
        |  valid_from_us,
        |  lead(valid_from_us) OVER (PARTITION BY user_id
        |    ORDER BY version) AS valid_to_us,
        |  lead(valid_from_us) OVER (PARTITION BY user_id
        |    ORDER BY version) IS NULL AS is_current,
        |  CAST(n_events AS BIGINT) AS n_events
        |FROM g""",
    // j11: CDC merge — last-writer-wins by (ts, event_id); final op D
    // drops the key; cents via floor(x*100 + 0.5) on both engines
    "j11_cdc_merge" ->
      """WITH o AS (SELECT user_id, ts, event_id, event_type, value,
        |    CASE WHEN event_id % 7 = 0 THEN 'D'
        |      WHEN event_id % 7 < 3 THEN 'I' ELSE 'U' END AS op,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n_ops,
        |    sum(CASE WHEN event_id % 7 = 0 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id) AS n_deletes
        |  FROM events)
        |SELECT user_id, op AS last_op, event_type AS cur_event_type,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS cur_value_cents,
        |  epoch_us(ts) AS last_ts_us, CAST(n_ops AS BIGINT) AS n_ops,
        |  CAST(n_deletes AS BIGINT) AS n_deletes
        |FROM o WHERE rn = 1 AND op <> 'D'""",
    // w21: per-user generate_series spine left-joined to observed
    // daily counts; filled rows are exactly the NULL-join days
    // e31: the greedy MMR recurrence unrolled in SQL — candidate and
    // pairwise sims on the proven cosine contract, each round's
    // max-over-picked / anti-join / argmax re-derived independently
    "e31_mmr" -> {
      val rounds = (2 to 5).map { t =>
        val sel = s"s${t - 1}"
        s"""m$t AS (SELECT ps.query_id, ps.a, max(ps.sim) AS maxsel
           |  FROM ps JOIN $sel
           |    ON ps.query_id = $sel.query_id AND ps.b = $sel.sel
           |  GROUP BY 1, 2),
           |r$t AS (SELECT c.query_id, c.cand_id,
           |    CAST(0.7 AS DOUBLE) * c.simq
           |      - CAST(0.3 AS DOUBLE) * m$t.maxsel AS score
           |  FROM cands c
           |  JOIN m$t ON c.query_id = m$t.query_id AND c.cand_id = m$t.a
           |  LEFT JOIN $sel x
           |    ON x.query_id = c.query_id AND x.sel = c.cand_id
           |  WHERE x.sel IS NULL),
           |p$t AS (SELECT query_id, cand_id AS sel FROM (
           |    SELECT query_id, cand_id, row_number() OVER (
           |        PARTITION BY query_id ORDER BY score DESC, cand_id)
           |      AS rn
           |    FROM r$t) WHERE rn = 1),
           |s$t AS (SELECT * FROM $sel UNION ALL SELECT * FROM p$t)"""
      }.mkString(",\n")
      val out = (1 to 5)
        .map(t => s"SELECT query_id, $t AS pick, sel AS cand_id FROM p$t")
        .mkString(" UNION ALL ")
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |    FROM embeddings WHERE vec_id < 8),
         |c0 AS (SELECT vec_id AS cand_id, embedding AS cv
         |    FROM embeddings),
         |sc AS (SELECT query_id, cand_id, cv,
         |    ${cosSql("qv", "cv")} AS simq
         |  FROM q CROSS JOIN c0 WHERE query_id <> cand_id),
         |cands AS (SELECT query_id, cand_id, cv, simq FROM (
         |    SELECT *, row_number() OVER (
         |        PARTITION BY query_id ORDER BY simq DESC, cand_id)
         |      AS rn
         |    FROM sc) WHERE rn <= 20),
         |ps AS (SELECT x.query_id, x.cand_id AS a, y.cand_id AS b,
         |    ${cosSql("x.cv", "y.cv")} AS sim
         |  FROM cands x JOIN cands y
         |    ON x.query_id = y.query_id AND x.cand_id <> y.cand_id),
         |p1 AS (SELECT query_id, cand_id AS sel FROM (
         |    SELECT query_id, cand_id, row_number() OVER (
         |        PARTITION BY query_id ORDER BY simq DESC, cand_id)
         |      AS rn
         |    FROM cands) WHERE rn = 1),
         |s1 AS (SELECT * FROM p1),
         |$rounds
         |$out""".stripMargin
    },
    // e32: probes, candidate union and exact rerank re-derived from
    // the same bucket dump e2 uses; XOR'd probe keys are integers
    "e32_multiprobe" ->
      s"""WITH b AS (SELECT vec_id, bucket FROM ${oprel("lsh_buckets")}),
         |q AS (SELECT vec_id AS query_id, bucket FROM b
         |  WHERE vec_id < 10),
         |pr AS (SELECT query_id,
         |    CASE WHEN f.f = -1 THEN bucket
         |      ELSE xor(bucket, 1 << f.f) END AS pb
         |  FROM q, (SELECT unnest(generate_series(-1, 11)) AS f) f),
         |cand AS (SELECT pr.query_id, b.vec_id AS cand_id
         |  FROM pr JOIN b ON b.bucket = pr.pb
         |  WHERE b.vec_id <> pr.query_id),
         |sims AS (SELECT c.query_id, c.cand_id,
         |    ${cosSql("eq.embedding", "ec.embedding")} AS cosine
         |  FROM cand c
         |  JOIN embeddings eq ON c.query_id = eq.vec_id
         |  JOIN embeddings ec ON c.cand_id = ec.vec_id)
         |SELECT query_id, cand_id, rnk FROM (
         |  SELECT query_id, cand_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
         |  FROM sims) WHERE rnk <= 5""",
    // a63: doubled tie-averaged ranks keep everything integer; the
    // cumulative count runs over distinct values per type
    "a63_mann_whitney" ->
      """WITH vals AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000) % 2 = 0 AS is_x,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events),
        |tallies AS (SELECT event_type, v,
        |    sum(CASE WHEN is_x THEN 1 ELSE 0 END) AS tx,
        |    count(*) AS t
        |  FROM vals GROUP BY 1, 2),
        |ranked AS (SELECT event_type, tx, t,
        |    2 * (sum(t) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
        |      + t + 1 AS r2
        |  FROM tallies),
        |agg AS (SELECT event_type, sum(tx) AS nx,
        |    sum(t - tx) AS ny, sum(tx * r2) AS sum2r_x
        |  FROM ranked GROUP BY 1)
        |SELECT event_type, CAST(nx AS BIGINT) AS nx,
        |  CAST(ny AS BIGINT) AS ny,
        |  CAST(sum2r_x - nx * (nx + 1) AS BIGINT) AS u2_x,
        |  CAST(2 * nx * ny - (sum2r_x - nx * (nx + 1)) AS BIGINT)
        |    AS u2_y
        |FROM agg""",
    // a61: every bootstrap draw re-derived through the t20 digit-wise
    // md5 parse; sums are integer cents, order stats rank-based
    "a61_bootstrap_ci" ->
      """WITH per AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |daily AS (SELECT event_type, day, sum(cents) AS x
        |  FROM per GROUP BY 1, 2),
        |idxd AS (SELECT event_type, day, x, row_number() OVER (
        |    PARTITION BY event_type ORDER BY day) - 1 AS idx
        |  FROM daily),
        |st AS (SELECT event_type, count(*) AS n, sum(x) AS total
        |  FROM idxd GROUP BY 1),
        |bs AS (SELECT event_type, n,
        |    unnest(generate_series(0, 199)) AS b FROM st),
        |iz AS (SELECT event_type, n, b,
        |    unnest(generate_series(0, CAST(n - 1 AS BIGINT))) AS i
        |  FROM bs),
        |draw AS (SELECT event_type, b,
        |    CAST(list_sum(list_transform(range(1, 7),
        |      k -> (strpos('0123456789abcdef',
        |        substr(md5('boot:' || event_type || ':' || b || ':'
        |          || i), CAST(k AS INTEGER), 1)) - 1)
        |        * (16 ** (6 - k)))) AS BIGINT) % n AS idx
        |  FROM iz),
        |boots AS (SELECT d.event_type, d.b, sum(e.x) AS boot_sum
        |  FROM draw d JOIN idxd e
        |    ON d.event_type = e.event_type AND d.idx = e.idx
        |  GROUP BY 1, 2),
        |rk AS (SELECT event_type, boot_sum, row_number() OVER (
        |    PARTITION BY event_type ORDER BY boot_sum, b) AS rn
        |  FROM boots)
        |SELECT r.event_type, CAST(s.total AS BIGINT) AS total_cents,
        |  CAST(max(CASE WHEN rn = 5 THEN boot_sum END) AS BIGINT)
        |    AS lo_sum_cents,
        |  CAST(max(CASE WHEN rn = 195 THEN boot_sum END) AS BIGINT)
        |    AS hi_sum_cents,
        |  CAST(s.n AS BIGINT) AS n_days
        |FROM rk r JOIN st s ON r.event_type = s.event_type
        |GROUP BY 1, 2, 5""",
    // a62: rank-based conformal quantile + held-out coverage; all
    // integer cents, positive sums so // is floor on both sides
    "a62_conformal" ->
      """WITH per AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |daily AS (SELECT event_type, day, sum(cents) AS x
        |  FROM per GROUP BY 1, 2),
        |cal AS (SELECT * FROM daily WHERE day % 2 = 0),
        |fit AS (SELECT event_type, count(*) AS nc,
        |    sum(x) // count(*) AS pred FROM cal GROUP BY 1),
        |res AS (SELECT c.event_type, c.day, f.nc,
        |    abs(c.x - f.pred) AS r
        |  FROM cal c JOIN fit f ON c.event_type = f.event_type),
        |q AS (SELECT event_type, r AS q_cents FROM (
        |    SELECT event_type, r, nc, row_number() OVER (
        |      PARTITION BY event_type ORDER BY r, day) AS rn
        |    FROM res) WHERE rn = (9 * (nc + 1) + 9) // 10)
        |SELECT t.event_type,
        |  CAST(max(f.pred) AS BIGINT) AS pred_cents,
        |  CAST(max(q.q_cents) AS BIGINT) AS q_cents,
        |  CAST(max(f.nc) AS BIGINT) AS n_cal,
        |  CAST(count(*) AS BIGINT) AS n_test,
        |  CAST(sum(CASE WHEN abs(t.x - f.pred) <= q.q_cents
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        |FROM daily t
        |JOIN fit f ON t.event_type = f.event_type
        |JOIN q ON t.event_type = q.event_type
        |WHERE t.day % 2 = 1
        |GROUP BY 1""",
    // z38: the j20 pipeline over 20 block-disjoint replicas — offsets
    // are multiples of 2 145 000 (= 3·5·11·13·1000) so perturbation
    // flags are replica-invariant; bands must be exactly 20× j20
    "z38_j20_20x" ->
      """WITH c0 AS (SELECT c_custkey AS key0,
        |    CAST(c_nationkey AS BIGINT) AS nation0,
        |    CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT)
        |      AS digits0,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    c_mktsegment AS seg FROM customer),
        |r AS (SELECT *, unnest(generate_series(0, 19)) AS rep FROM c0),
        |c AS (SELECT key0 + rep * 2145000 AS key,
        |    nation0 + rep * 25 AS nation,
        |    digits0 + rep * 2145000 AS digits, cents, seg FROM r),
        |d AS (SELECT key AS src, nation,
        |    digits + CASE WHEN key % 13 = 0 THEN 500000 ELSE 0 END
        |      AS d_digits,
        |    cents + CASE WHEN key % 5 = 0 THEN 1 ELSE 0 END AS d_cents,
        |    CASE WHEN key % 11 = 0 THEN 'SMUDGED' ELSE seg END AS d_seg
        |  FROM c WHERE key % 3 = 0),
        |p AS (SELECT d.src, c.key,
        |    (CASE WHEN d.d_digits = c.digits THEN 30 ELSE -5 END
        |     + CASE WHEN abs(d.d_cents - c.cents) <= 1 THEN 15 ELSE -8
        |       END
        |     + CASE WHEN d.d_seg = c.seg THEN 5 ELSE -5 END) AS score,
        |    (d.src = c.key) AS is_true
        |  FROM d JOIN c USING (nation))
        |SELECT band, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_true,
        |  CAST(min(score) AS BIGINT) AS min_score,
        |  CAST(max(score) AS BIGINT) AS max_score
        |FROM (SELECT *, CASE WHEN score >= 35 THEN 'match'
        |    WHEN score >= 10 THEN 'possible'
        |    ELSE 'non_match' END AS band FROM p)
        |GROUP BY band""",
    // j20: the full blocking/scoring/banding pipeline re-derived —
    // same perturbation rules, integer weights and band cuts
    "j20_record_linkage" ->
      """WITH c AS (SELECT c_custkey AS key,
        |    CAST(c_nationkey AS BIGINT) AS nation,
        |    CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT)
        |      AS digits,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    c_mktsegment AS seg FROM customer),
        |d AS (SELECT key AS src, nation,
        |    digits + CASE WHEN key % 13 = 0 THEN 500000 ELSE 0 END
        |      AS d_digits,
        |    cents + CASE WHEN key % 5 = 0 THEN 1 ELSE 0 END AS d_cents,
        |    CASE WHEN key % 11 = 0 THEN 'SMUDGED' ELSE seg END AS d_seg
        |  FROM c WHERE key % 3 = 0),
        |p AS (SELECT d.src, c.key,
        |    (CASE WHEN d.d_digits = c.digits THEN 30 ELSE -5 END
        |     + CASE WHEN abs(d.d_cents - c.cents) <= 1 THEN 15 ELSE -8
        |       END
        |     + CASE WHEN d.d_seg = c.seg THEN 5 ELSE -5 END) AS score,
        |    (d.src = c.key) AS is_true
        |  FROM d JOIN c USING (nation))
        |SELECT band, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_true,
        |  CAST(min(score) AS BIGINT) AS min_score,
        |  CAST(max(score) AS BIGINT) AS max_score
        |FROM (SELECT *, CASE WHEN score >= 35 THEN 'match'
        |    WHEN score >= 10 THEN 'possible'
        |    ELSE 'non_match' END AS band FROM p)
        |GROUP BY band""",
    // w42: same winner-per-day, spine, bracket windows and
    // positive-mod floor interpolation — cents stay integers end to end
    "w42_interpolate" ->
      """WITH ev AS (SELECT user_id,
        |    epoch_us(ts) // 86400000000 AS day,
        |    epoch_us(ts) AS tsus, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |daily AS (SELECT user_id, day, cents AS x FROM (
        |    SELECT user_id, day, cents, row_number() OVER (
        |        PARTITION BY user_id, day
        |        ORDER BY tsus DESC, event_id DESC) AS rn
        |    FROM ev) WHERE rn = 1),
        |sp AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day
        |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
        |    FROM daily GROUP BY 1)),
        |nb AS (SELECT sp.user_id, sp.day, daily.x,
        |    last_value(daily.x IGNORE NULLS) OVER w_back AS pv,
        |    last_value(CASE WHEN daily.x IS NOT NULL THEN sp.day END
        |      IGNORE NULLS) OVER w_back AS pd,
        |    first_value(daily.x IGNORE NULLS) OVER w_fwd AS nv,
        |    first_value(CASE WHEN daily.x IS NOT NULL THEN sp.day END
        |      IGNORE NULLS) OVER w_fwd AS nd
        |  FROM sp LEFT JOIN daily USING (user_id, day)
        |  WINDOW w_back AS (PARTITION BY sp.user_id ORDER BY sp.day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    w_fwd AS (PARTITION BY sp.user_id ORDER BY sp.day
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, day,
        |  CASE WHEN x IS NOT NULL THEN x
        |    ELSE pv + (((nv - pv) * (day - pd))
        |      - (((((nv - pv) * (day - pd)) % (nd - pd)) + (nd - pd))
        |        % (nd - pd))) // (nd - pd)
        |  END AS cents,
        |  x IS NULL AS is_interp
        |FROM nb""",
    "w21_calendar_fill" ->
      """WITH bd AS (SELECT user_id,
        |    epoch_us(ts) // 86400000000 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day
        |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
        |    FROM bd GROUP BY 1))
        |SELECT sp.user_id, sp.day,
        |  COALESCE(bd.n, 0) AS n, bd.n IS NULL AS is_filled
        |FROM sp LEFT JOIN bd USING (user_id, day)""",
    // s9: top-10 heavy hitters + integer ppm share and ceil(n/avg)
    // salt factor — same integer formulas both engines
    "s9_skew_report" ->
      """WITH pk AS (SELECT user_id, count(*) AS n
        |  FROM events GROUP BY 1),
        |t AS (SELECT sum(n) AS total, count(*) AS n_keys FROM pk)
        |SELECT user_id, CAST(n AS BIGINT) AS n,
        |  CAST(total AS BIGINT) AS total,
        |  CAST(n_keys AS BIGINT) AS n_keys,
        |  CAST(n * 1000000 // total AS BIGINT) AS share_ppm,
        |  CAST((n * n_keys + total - 1) // total AS BIGINT)
        |    AS salt_factor
        |FROM pk CROSS JOIN t
        |ORDER BY n DESC, user_id LIMIT 10""",
    // w22: the oracle derives attribution INDEPENDENTLY — conversion×
    // touch lookback join + row_number pick-latest — vs Spark's
    // range-frame window max; hash match proves the two agree
    "w22_attribution" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tsus,
        |    event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |cv AS (SELECT * FROM ev WHERE event_type = 'purchase'),
        |tc AS (SELECT * FROM ev WHERE event_type IN ('click', 'view')),
        |m AS (SELECT c.event_id AS cid, t.event_type AS ttype,
        |    t.tsus AS tts,
        |    row_number() OVER (PARTITION BY c.event_id
        |      ORDER BY t.tsus DESC, t.event_id DESC) AS rn
        |  FROM cv c JOIN tc t ON c.user_id = t.user_id
        |    AND t.tsus BETWEEN c.tsus - 604800000000 AND c.tsus - 1),
        |at AS (SELECT c.event_id, c.cents, c.tsus AS cts, b.ttype, b.tts
        |  FROM cv c LEFT JOIN (SELECT * FROM m WHERE rn = 1) b
        |    ON c.event_id = b.cid)
        |SELECT COALESCE(ttype, 'unattributed') AS channel,
        |  CAST(count(*) AS BIGINT) AS n_conversions,
        |  CAST(sum(cents) AS BIGINT) AS attributed_cents,
        |  CAST(sum(CASE WHEN tts IS NOT NULL THEN cts - tts END)
        |    AS BIGINT) AS sum_lag_us
        |FROM at GROUP BY 1""",
    // w24: quintile = strictly-below-count × 5 // n, re-derived with
    // RANGE frames (≤ v−1) instead of distinct-value windows —
    // different mechanics, same tie-stable math
    "w24_rfm" ->
      """WITH p AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |a AS (SELECT max(day) AS anchor FROM p),
        |b AS (SELECT user_id, anchor - max(day) AS recency_days,
        |    count(*) AS frequency, sum(cents) AS monetary
        |  FROM p CROSS JOIN a GROUP BY user_id, anchor),
        |q AS (SELECT user_id, recency_days, frequency, monetary,
        |    5 - (count(*) OVER (ORDER BY recency_days
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      * 5 // count(*) OVER ()) AS r_score,
        |    1 + (count(*) OVER (ORDER BY frequency
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      * 5 // count(*) OVER ()) AS f_score,
        |    1 + (count(*) OVER (ORDER BY monetary
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      * 5 // count(*) OVER ()) AS m_score
        |  FROM b)
        |SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days,
        |  CAST(frequency AS BIGINT) AS frequency,
        |  CAST(monetary AS BIGINT) AS monetary,
        |  CAST(r_score AS BIGINT) AS r_score,
        |  CAST(f_score AS BIGINT) AS f_score,
        |  CAST(m_score AS BIGINT) AS m_score,
        |  CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm
        |FROM q""",
    // a29: both medians re-derived by direct row_number ranking at
    // rank (n+1)//2 — value at a rank is tie-order-independent
    "a29_mad" ->
      """WITH li AS (SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem),
        |r AS (SELECT l_returnflag, cents,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n FROM li),
        |med AS (SELECT l_returnflag, cents AS median_cents, n
        |  FROM r WHERE rn = (n + 1) // 2),
        |dv AS (SELECT li.l_returnflag,
        |    abs(li.cents - med.median_cents) AS dev
        |  FROM li JOIN med USING (l_returnflag)),
        |r2 AS (SELECT l_returnflag, dev,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY dev) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n FROM dv),
        |mad AS (SELECT l_returnflag, dev AS mad_cents
        |  FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT med.l_returnflag, CAST(med.n AS BIGINT) AS n,
        |  med.median_cents, mad.mad_cents
        |FROM med JOIN mad USING (l_returnflag)""",
    // g5: reachability re-derived with depth-capped recursive SQL —
    // independent algorithm, identical min-hop histogram
    "g5_bfs_hops" ->
      """WITH RECURSIVE e0 AS (SELECT DISTINCT l_partkey * 2 AS a,
        |    l_suppkey * 2 + 1 AS b FROM lineitem),
        |ed AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        |nodes AS (SELECT DISTINCT a AS n FROM ed),
        |reach(n, dist) AS (
        |    SELECT n, CAST(0 AS BIGINT) FROM nodes
        |    WHERE n % 2 = 1 AND n // 2 < 5
        |    UNION
        |    SELECT e.a, r.dist + 1 FROM ed e JOIN reach r ON e.b = r.n
        |    WHERE r.dist < 4),
        |best AS (SELECT n, min(dist) AS dist FROM reach GROUP BY 1),
        |hist AS (SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes
        |    FROM best GROUP BY 1
        |  UNION ALL
        |  SELECT CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT)
        |    FROM nodes WHERE n NOT IN (SELECT n FROM best))
        |SELECT dist, n_nodes FROM hist WHERE n_nodes > 0""",
    // e20: the pruned range search must EQUAL exact brute force — the
    // oracle is the e3-style all-pairs SQL restricted to the query set
    "e20_range_search" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> CAST(embedding[i] AS DOUBLE)
        |        * CAST(embedding[i] AS DOUBLE)))) AS nrm
        |  FROM embeddings)
        |SELECT x.vec_id AS query_id, y.vec_id AS cand_id
        |FROM e x JOIN e y
        |  ON x.vec_id < 50 AND x.vec_id <> y.vec_id
        |WHERE list_sum(list_transform(range(1, len(x.embedding) + 1),
        |    i -> CAST(x.embedding[i] AS DOUBLE)
        |      * CAST(y.embedding[i] AS DOUBLE))) / (x.nrm * y.nrm)
        |  >= 0.4""",
    // g6: RA link prediction re-derived directly — same hub cap, same
    // per-term integer floor division, total-order top-30
    "g6_resource_alloc" ->
      """WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sup
        |    FROM lineitem),
        |pd AS (SELECT p, count(*) AS pdeg FROM ps GROUP BY 1
        |    HAVING count(*) <= 64),
        |pr AS (SELECT a.sup AS s_a, b.sup AS s_b,
        |    1000000 // pd.pdeg AS w
        |  FROM ps a JOIN ps b ON a.p = b.p AND a.sup < b.sup
        |  JOIN pd ON pd.p = a.p)
        |SELECT s_a, s_b, CAST(count(*) AS BIGINT) AS n_shared,
        |  CAST(sum(w) AS BIGINT) AS ra_micro
        |FROM pr GROUP BY 1, 2
        |ORDER BY ra_micro DESC, s_a, s_b LIMIT 30""",
    // t54: novelty re-derived on shingle STRINGS (Spark dedups and
    // first-sees 64-bit hashes — the t6/t7 hash-vs-string convention)
    "t54_ngram_novelty" ->
      """WITH tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM tok)),
        |fs AS (SELECT shingle, min(doc_id) AS first_doc FROM sh
        |    GROUP BY 1),
        |pd AS (SELECT s.doc_id, count(*) AS n_shingles,
        |    sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
        |      AS n_novel
        |  FROM sh s JOIN fs f ON s.shingle = f.shingle GROUP BY 1)
        |SELECT doc_id // 100 AS bucket, CAST(count(*) AS BIGINT)
        |    AS n_docs,
        |  CAST(sum(n_shingles) AS BIGINT) AS n_shingles,
        |  CAST(sum(n_novel) AS BIGINT) AS n_novel,
        |  CAST(sum(n_novel) * 1000000 // sum(n_shingles) AS BIGINT)
        |    AS novelty_ppm
        |FROM pd GROUP BY 1""",
    // j16: islands re-derived INDEPENDENTLY — head = no predecessor
    // within L (NOT EXISTS), membership = head-count-below; Spark uses
    // the lag/running-sum mechanics instead
    "j16_interval_coverage" ->
      """WITH ev AS (SELECT DISTINCT user_id, epoch_us(ts) AS t
        |    FROM events),
        |heads AS (SELECT user_id, t FROM ev e WHERE NOT EXISTS (
        |    SELECT 1 FROM ev p WHERE p.user_id = e.user_id
        |      AND p.t < e.t AND p.t >= e.t - 1800000000)),
        |isl AS (SELECT e.user_id, e.t,
        |    (SELECT count(*) FROM heads h
        |      WHERE h.user_id = e.user_id AND h.t <= e.t) AS island
        |  FROM ev e),
        |g AS (SELECT user_id, island, min(t) AS t0, max(t) AS t1
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        |  CAST(sum(t1 - t0 + 1800000000) AS BIGINT) AS covered_us,
        |  CAST(max(t1 - t0 + 1800000000) AS BIGINT) AS max_island_us
        |FROM g GROUP BY 1""",
    // m9: the m3 frame grid re-derived, keyframe = leading hex nibble
    // in {0,8} — a pure string compare identical on both engines
    "m9_keyframes" ->
      """WITH m AS (SELECT doc_id, text,
        |    octet_length(encode(text)) AS n FROM documents),
        |fr AS (SELECT doc_id, CAST(t.i AS INTEGER) AS frame_idx,
        |    md5(substring(text, CAST(t.i * 256 + 1 AS INTEGER), 64))
        |      AS frame_hash
        |  FROM m, LATERAL unnest(range(0,
        |    greatest(0, CAST((n - 1) // 256 AS INTEGER)) + 1)) AS t(i))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(CASE WHEN substring(frame_hash, 1, 1) IN ('0', '8')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_keyframes,
        |  CAST(coalesce(min(CASE WHEN substring(frame_hash, 1, 1)
        |    IN ('0', '8') THEN frame_idx END), -1) AS INTEGER)
        |    AS first_key,
        |  CAST(coalesce(max(CASE WHEN substring(frame_hash, 1, 1)
        |    IN ('0', '8') THEN frame_idx END), -1) AS INTEGER)
        |    AS last_key,
        |  CAST(sum(CASE WHEN substring(frame_hash, 1, 1) IN ('0', '8')
        |    THEN 1 ELSE 0 END) * 1000 // count(*) AS BIGINT)
        |    AS key_permille
        |FROM fr GROUP BY 1""",
    // t58: the t4 classifier CTE scored against the lang column
    "t58_langid_eval" ->
      """WITH tok AS (SELECT doc_id, text,
        |  regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |pred AS (SELECT doc_id, CASE
        |  WHEN length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g'))
        |    > 0 THEN 'zh'
        |  WHEN length(regexp_replace(text, '[^\x{0400}-\x{04ff}]', '', 'g'))
        |    > 0 THEN 'ru'
        |  WHEN len(list_filter(t, x -> x IN
        |      ('the', 'a', 'of', 'and', 'to', 'is')))
        |    >= len(list_filter(t, x -> x IN
        |      ('el', 'la', 'de', 'y', 'que', 'en')))
        |   AND len(list_filter(t, x -> x IN
        |      ('the', 'a', 'of', 'and', 'to', 'is')))
        |    >= len(list_filter(t, x -> x IN
        |      ('le', 'la', 'de', 'et', 'que', 'est')))
        |   AND len(list_filter(t, x -> x IN
        |      ('the', 'a', 'of', 'and', 'to', 'is'))) > 0 THEN 'en'
        |  WHEN len(list_filter(t, x -> x IN
        |      ('el', 'la', 'de', 'y', 'que', 'en')))
        |    >= len(list_filter(t, x -> x IN
        |      ('le', 'la', 'de', 'et', 'que', 'est')))
        |   AND len(list_filter(t, x -> x IN
        |      ('el', 'la', 'de', 'y', 'que', 'en'))) > 0 THEN 'es'
        |  WHEN len(list_filter(t, x -> x IN
        |      ('le', 'la', 'de', 'et', 'que', 'est'))) > 0 THEN 'fr'
        |  ELSE 'und' END AS pred_lang
        |FROM tok),
        |cells AS (SELECT d.lang, p.pred_lang, count(*) AS n_docs
        |  FROM pred p JOIN documents d USING (doc_id) GROUP BY 1, 2),
        |tot AS (SELECT lang, sum(n_docs) AS n_lang FROM cells
        |  GROUP BY 1)
        |SELECT c.lang, c.pred_lang, CAST(c.n_docs AS BIGINT) AS n_docs,
        |  c.lang = c.pred_lang AS correct,
        |  CAST(c.n_docs * 1000000 // t.n_lang AS BIGINT) AS share_ppm
        |FROM cells c JOIN tot t USING (lang)""",
    // a43: same tie rule (median days dropped), direct windows over
    // the calendar-bounded daily relation
    "a43_runs_test" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
        |  FROM events GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM daily),
        |med AS (SELECT x AS med FROM (SELECT x, row_number() OVER (
        |    ORDER BY x, day) AS rn FROM daily), tot
        |  WHERE rn = (n + 1) // 2),
        |sg AS (SELECT day, x > med AS above FROM daily, med
        |  WHERE x <> med),
        |r AS (SELECT above, CASE WHEN lag(above) OVER (ORDER BY day)
        |    IS NULL OR lag(above) OVER (ORDER BY day) <> above
        |    THEN 1 ELSE 0 END AS rs FROM sg)
        |SELECT CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_above,
        |  CAST(sum(CASE WHEN above THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_below,
        |  CAST(sum(rs) AS BIGINT) AS n_runs,
        |  CAST(1000 + 2000 * sum(CASE WHEN above THEN 1 ELSE 0 END)
        |    * sum(CASE WHEN above THEN 0 ELSE 1 END) // count(*)
        |    AS BIGINT) AS expected_runs_milli
        |FROM r""",
    // s14: per-brand all-pairs NOT EXISTS — independent algorithm
    "s14_grouped_skyline" ->
      """WITH p AS (SELECT p_brand, p_partkey, p_size,
        |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
        |      AS price_cents FROM part)
        |SELECT a.p_brand, a.p_partkey, a.p_size, a.price_cents
        |FROM p a WHERE NOT EXISTS (SELECT 1 FROM p b
        |  WHERE b.p_brand = a.p_brand
        |    AND b.price_cents <= a.price_cents AND b.p_size >= a.p_size
        |    AND (b.price_cents < a.price_cents OR b.p_size > a.p_size))""",
    // a42: same per-(user, week) boolean fold + weekly rollup
    "a42_abandonment" ->
      """WITH uw AS (SELECT user_id,
        |    epoch_us(ts) // 604800000000 AS week,
        |    max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS viewed,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS purchased
        |  FROM events GROUP BY 1, 2)
        |SELECT week, CAST(count(*) AS BIGINT) AS n_viewers,
        |  CAST(sum(purchased) AS BIGINT) AS n_converters,
        |  CAST((count(*) - sum(purchased)) * 1000000 // count(*)
        |    AS BIGINT) AS abandonment_ppm
        |FROM uw WHERE viewed = 1 GROUP BY 1""",
    // w34: same conditional-min firsts + hour bucketing
    "w34_conversion_lag" ->
      """WITH f AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |      AS fv,
        |    min(CASE WHEN event_type = 'purchase'
        |      THEN epoch_us(ts) END) AS fp
        |  FROM events GROUP BY 1)
        |SELECT (fp - fv) // 3600000000 AS lag_hours,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM f WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv
        |GROUP BY 1""",
    // s13: the identical deterministic snapshot-B transform + a
    // direct FULL OUTER diff
    "s13_snapshot_diff" ->
      """WITH a AS (SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents_a
        |  FROM orders),
        |b0 AS (SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 101 <> 0),
        |b AS (SELECT o_orderkey, CASE WHEN o_orderkey % 97 = 0
        |    THEN cents + cents // 100 ELSE cents END AS cents_b
        |  FROM b0)
        |SELECT
        |  CAST(sum(CASE WHEN cents_a IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN cents_b IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN cents_a IS NOT NULL
        |    AND cents_b IS NOT NULL AND cents_a <> cents_b
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN cents_a = cents_b THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_unchanged,
        |  CAST(sum(coalesce(cents_b, 0) - coalesce(cents_a, 0))
        |    AS BIGINT) AS delta_cents
        |FROM a FULL OUTER JOIN b USING (o_orderkey)""",
    // a41: direct row_number order statistics at the same ceil ranks
    "a41_exact_percentiles" -> {
      def pc(p: Int) =
        s"""CAST(min(CASE WHEN rn = (n * $p + 99) // 100
           |    THEN cents END) AS BIGINT) AS p${p}_cents"""
      s"""WITH li AS (SELECT l_returnflag,
         |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
         |      AS cents FROM lineitem),
         |tot AS (SELECT l_returnflag, count(*) AS n FROM li
         |  GROUP BY 1),
         |rk AS (SELECT l_returnflag, cents, row_number() OVER (
         |    PARTITION BY l_returnflag ORDER BY cents) AS rn FROM li)
         |SELECT r.l_returnflag, CAST(max(t.n) AS BIGINT) AS n,
         |  ${pc(25)}, ${pc(50)}, ${pc(75)}, ${pc(95)}, ${pc(99)}
         |FROM rk r JOIN tot t USING (l_returnflag) GROUP BY 1"""
    },
    // e24: the list census re-aggregated from the dumped assignment
    "e24_list_balance" -> {
      s"""WITH sz AS (SELECT centroid_id, count(*) AS sz
         |  FROM ${oprel("e21_assign")} GROUP BY 1)
         |SELECT CAST(count(*) AS BIGINT) AS n_lists,
         |  CAST(min(sz) AS BIGINT) AS min_size,
         |  CAST(max(sz) AS BIGINT) AS max_size,
         |  CAST(sum(sz) AS BIGINT) AS n_vectors,
         |  CAST(sum(sz) // count(*) AS BIGINT) AS avg_size,
         |  CAST(max(sz) * 1000000 // (sum(sz) // count(*)) AS BIGINT)
         |    AS imbalance_ppm
         |FROM sz"""
    },
    // e23: three instantiations of the parameterized IVF pipeline SQL
    // left-joined to the exact CTE — same recall arithmetic in ppm
    "e23_recall_curve" -> {
      val cSrc = "SELECT vec_id AS centroid_id, embedding AS cv " +
        "FROM embeddings WHERE vec_id < 16"
      def leg(np: Int) =
        s"""SELECT $np AS nprobe, count(*) AS n_exact,
           |  sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS n_hit
           |FROM exact e LEFT JOIN (${ivfSql(cSrc, nprobe = np)}) a
           |  ON e.query_id = a.query_id AND e.cand_id = a.cand_id"""
      s"""WITH exact AS (SELECT query_id, cand_id FROM ($e1Sql) x),
         |legs AS (${leg(1)} UNION ALL ${leg(2)} UNION ALL ${leg(4)})
         |SELECT CAST(nprobe AS INTEGER) AS nprobe,
         |  CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  CAST(n_hit * 1000000 // n_exact AS BIGINT) AS recall_ppm
         |FROM legs"""
    },
    // w33: oracle = the streaming replay's emissions read verbatim;
    // Spark recomputes batch w25 — stream ≡ batch bounded median
    "w33_stream_median" ->
      s"""SELECT event_id, user_id, CAST(n_win AS INTEGER) AS n_win,
         |  CAST(med_cents AS BIGINT) AS med_cents
         |FROM ${oprel("stream_median")}""",
    // a40: same scaled-deviation rational form, direct in HUGEINT
    "a40_autocorr" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, count(*) AS nd, sum(x) AS ssum
        |  FROM daily GROUP BY 1),
        |dv AS (SELECT d.event_type, d.day, t.nd,
        |    CAST(d.x AS HUGEINT) * t.nd - t.ssum AS dv
        |  FROM daily d JOIN tot t USING (event_type)),
        |l AS (SELECT event_type, nd, dv, lead(dv) OVER (
        |    PARTITION BY event_type ORDER BY day) AS dv1 FROM dv)
        |SELECT event_type, CAST(max(nd) AS BIGINT) AS n_days,
        |  CAST(sum(dv * dv1) * 1000000 // sum(dv * dv) AS BIGINT)
        |    AS r1_ppm
        |FROM l GROUP BY 1""",
    // w32: direct global row_number median over the gap relation
    "w32_purchase_gap" ->
      """WITH p AS (SELECT user_id, epoch_us(ts) AS t, event_id
        |  FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT t - lag(t) OVER (PARTITION BY user_id
        |    ORDER BY t, event_id) AS gap FROM p),
        |gg AS (SELECT gap FROM g WHERE gap IS NOT NULL),
        |tot AS (SELECT count(*) AS n FROM gg),
        |rk AS (SELECT gap, row_number() OVER (ORDER BY gap) AS rn
        |  FROM gg)
        |SELECT CAST(tot.n AS BIGINT) AS n_gaps,
        |  CAST(min(CASE WHEN rn = (n + 1) // 2 THEN gap END) AS BIGINT)
        |    AS median_gap_us
        |FROM rk, tot GROUP BY tot.n""",
    // a39: direct row_number order statistics + clamp-sum in HUGEINT
    "a39_winsorized_mean" ->
      """WITH li AS (SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem),
        |tot AS (SELECT l_returnflag, count(*) AS n FROM li GROUP BY 1),
        |rk AS (SELECT l_returnflag, cents, row_number() OVER (
        |    PARTITION BY l_returnflag ORDER BY cents) AS rn FROM li),
        |b AS (SELECT r.l_returnflag,
        |    min(CASE WHEN rn = n // 20 + 1 THEN cents END) AS v_lo,
        |    min(CASE WHEN rn = n - n // 20 THEN cents END) AS v_hi
        |  FROM rk r JOIN tot USING (l_returnflag) GROUP BY 1)
        |SELECT li.l_returnflag, CAST(max(t.n) AS BIGINT) AS n,
        |  CAST(max(b.v_lo) AS BIGINT) AS lo_cents,
        |  CAST(max(b.v_hi) AS BIGINT) AS hi_cents,
        |  CAST(CAST(sum(greatest(least(li.cents, b.v_hi), b.v_lo))
        |    AS HUGEINT) * 1000000 // max(t.n) AS BIGINT)
        |    AS winsor_mean_micros
        |FROM li JOIN b USING (l_returnflag)
        |JOIN tot t USING (l_returnflag) GROUP BY 1""",
    // a38: the full grid from the marginals, same floor-then-square
    // fixed-point contract
    "a38_chi2_cells" ->
      """WITH cells AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000) % 7 AS dow,
        |    count(*) AS o FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, sum(o) AS r FROM cells GROUP BY 1),
        |ct AS (SELECT dow, sum(o) AS c FROM cells GROUP BY 1),
        |n AS (SELECT sum(o) AS n FROM cells),
        |grid AS (SELECT rt.event_type, ct.dow, rt.r, ct.c
        |  FROM rt CROSS JOIN ct)
        |SELECT g.event_type, g.dow,
        |  CAST(coalesce(cells.o, 0) AS BIGINT) AS o,
        |  CAST(CAST(g.r AS HUGEINT) * g.c // n.n AS BIGINT) AS e_floor,
        |  CAST(CAST(coalesce(cells.o, 0)
        |      - CAST(g.r AS HUGEINT) * g.c // n.n AS HUGEINT)
        |    * (coalesce(cells.o, 0)
        |      - CAST(g.r AS HUGEINT) * g.c // n.n) * 1000000
        |    // greatest(CAST(g.r AS HUGEINT) * g.c // n.n, 1)
        |    AS BIGINT) AS contrib_ppm
        |FROM grid g LEFT JOIN cells
        |  ON g.event_type = cells.event_type AND g.dow = cells.dow
        |CROSS JOIN n""",
    // a45: same day-grid aggregation + the shared-semantics floor
    // division (subtract the positive mod, then divide — BOTH Spark
    // div and DuckDB // truncate toward zero; on exactly-divisible
    // operands truncation equals true floor), exact lower-median rank
    // selection
    "a45_theil_sen" ->
      """WITH pts AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS c
        |  FROM events GROUP BY 1, 2),
        |pr AS (SELECT a.event_type, (b.c - a.c) * 1000000 AS num,
        |    b.day - a.day AS den
        |  FROM pts a JOIN pts b
        |    ON a.event_type = b.event_type AND a.day < b.day),
        |sl AS (SELECT event_type,
        |    (num - (((num % den) + den) % den)) // den AS slope_micro
        |  FROM pr),
        |rk AS (SELECT event_type, slope_micro, row_number() OVER (
        |    PARTITION BY event_type ORDER BY slope_micro) AS rk
        |  FROM sl),
        |nm AS (SELECT event_type, count(*) AS n_pairs FROM sl
        |  GROUP BY 1),
        |nd AS (SELECT event_type, count(*) AS n_days FROM pts
        |  GROUP BY 1)
        |SELECT r.event_type, CAST(nd.n_days AS BIGINT) AS n_days,
        |  CAST(nm.n_pairs AS BIGINT) AS n_pairs,
        |  CAST(r.slope_micro AS BIGINT) AS ts_slope_micro
        |FROM rk r JOIN nm USING (event_type) JOIN nd USING (event_type)
        |WHERE r.rk = (nm.n_pairs + 1) // 2""",
    // a46: same day grid, Walsh averages as x2 sums (i <= j), exact
    // lower-median rank selection
    "a46_hodges_lehmann" ->
      """WITH pts AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS c
        |  FROM events GROUP BY 1, 2),
        |wa AS (SELECT a.event_type, a.c + b.c AS w2
        |  FROM pts a JOIN pts b
        |    ON a.event_type = b.event_type AND a.day <= b.day),
        |rk AS (SELECT event_type, w2, row_number() OVER (
        |    PARTITION BY event_type ORDER BY w2) AS rk FROM wa),
        |nm AS (SELECT event_type, count(*) AS n_pairs FROM wa
        |  GROUP BY 1)
        |SELECT r.event_type, CAST(nm.n_pairs AS BIGINT) AS n_pairs,
        |  CAST(r.w2 AS BIGINT) AS pseudo_median_x2_cents
        |FROM rk r JOIN nm USING (event_type)
        |WHERE r.rk = (nm.n_pairs + 1) // 2""",
    // a47: combined x2 midranks re-derived via min-rank + tie-count
    // windows; signed rb_ppm uses the positive-mod floor-division form
    // on both sides (both engines' native int division truncates)
    "a47_mann_whitney" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    ((epoch_us(ts) // 86400000000) + 3) % 7 >= 5 AS weekend
        |  FROM events),
        |rk AS (SELECT event_type, weekend,
        |    2 * rank() OVER (PARTITION BY event_type ORDER BY cents)
        |      + count(*) OVER (PARTITION BY event_type, cents) - 1
        |      AS midrank2
        |  FROM ev),
        |ag AS (SELECT event_type,
        |    sum(CASE WHEN weekend THEN 1 ELSE 0 END) AS n_we,
        |    sum(CASE WHEN NOT weekend THEN 1 ELSE 0 END) AS n_wd,
        |    sum(CASE WHEN weekend THEN midrank2 ELSE 0 END) AS r2_we
        |  FROM rk GROUP BY 1),
        |u AS (SELECT event_type, n_we, n_wd,
        |    r2_we - n_we * (n_we + 1) AS u2_we,
        |    2 * n_we * n_wd - (r2_we - n_we * (n_we + 1)) AS u2_wd
        |  FROM ag)
        |SELECT event_type, CAST(n_we AS BIGINT) AS n_we,
        |  CAST(n_wd AS BIGINT) AS n_wd,
        |  CAST(u2_we AS BIGINT) AS u2_we,
        |  CAST(u2_wd AS BIGINT) AS u2_wd,
        |  CASE WHEN n_we = 0 OR n_wd = 0 THEN NULL ELSE
        |  CAST(((u2_we - u2_wd) * 1000000
        |    - ((((u2_we - u2_wd) * 1000000) % (2 * n_we * n_wd)
        |      + 2 * n_we * n_wd) % (2 * n_we * n_wd)))
        |    // (2 * n_we * n_wd) AS BIGINT) END AS rb_ppm
        |FROM u""",
    // a48: a45's daily pair space, concordant/discordant census; the
    // signed tau uses the positive-mod subtraction before `//` (which
    // truncates toward zero, same as Spark `div`) so both engines
    // compute the exact floor
    "a48_kendall_tau" ->
      """WITH pts AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS c
        |  FROM events GROUP BY 1, 2),
        |pr AS (SELECT a.event_type,
        |    CASE WHEN b.c > a.c THEN 1 ELSE 0 END AS nc,
        |    CASE WHEN b.c < a.c THEN 1 ELSE 0 END AS nd
        |  FROM pts a JOIN pts b
        |    ON a.event_type = b.event_type AND a.day < b.day)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(nc) AS BIGINT) AS nc,
        |  CAST(sum(nd) AS BIGINT) AS nd,
        |  CAST(count(*) - sum(nc) - sum(nd) AS BIGINT) AS n_ties,
        |  CAST(((sum(nc) - sum(nd)) * 1000000
        |    - ((((sum(nc) - sum(nd)) * 1000000) % count(*)
        |      + count(*)) % count(*))) // count(*) AS BIGINT)
        |    AS tau_ppm
        |FROM pr GROUP BY 1""",
    // w37: lifetimes re-derived directly; reverse running sum over the
    // week grid re-derives the at-risk population
    "w37_survival" ->
      """WITH dy AS (SELECT user_id, epoch_us(ts) // 86400000000
        |    AS day FROM events),
        |lf AS (SELECT user_id, min(day) AS d0, max(day) AS d1
        |  FROM dy GROUP BY 1),
        |mx AS (SELECT max(day) AS dend FROM dy),
        |lw AS (SELECT (d1 - d0) // 7 AS week,
        |    (dend - d1) < 14 AS censored FROM lf CROSS JOIN mx),
        |gr AS (SELECT week,
        |    sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS n_churn,
        |    sum(CASE WHEN censored THEN 1 ELSE 0 END) AS n_censored
        |  FROM lw GROUP BY 1),
        |rs AS (SELECT week, n_churn, n_censored,
        |    sum(n_churn + n_censored) OVER (ORDER BY week DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS n_risk
        |  FROM gr)
        |SELECT week, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(n_churn AS BIGINT) AS n_churn,
        |  CAST(n_censored AS BIGINT) AS n_censored,
        |  CAST(n_churn * 1000000 // n_risk AS BIGINT) AS hazard_ppm
        |FROM rs""",
    // w38: direct self-join re-derivation; all division operands are
    // non-negative so native truncating division agrees cross-engine
    "w38_seasonal_backtest" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS c
        |  FROM events GROUP BY 1, 2),
        |sc AS (SELECT a.event_type, abs(a.c - f.c) AS ae,
        |    abs(a.c) + abs(f.c) AS den, a.c - f.c AS err
        |  FROM daily a JOIN daily f
        |    ON a.event_type = f.event_type AND a.day = f.day + 7),
        |ag AS (SELECT event_type, count(*) AS n_scored,
        |    sum(ae) AS sum_ae, sum(err) AS bias_cents,
        |    sum(CASE WHEN den > 0 THEN ae * 2000000 // den
        |      ELSE 0 END) AS sum_sm
        |  FROM sc GROUP BY 1)
        |SELECT event_type, CAST(n_scored AS BIGINT) AS n_scored,
        |  CAST(sum_ae // n_scored AS BIGINT) AS mae_cents,
        |  CAST(sum_sm // n_scored AS BIGINT) AS smape_ppm,
        |  CAST(bias_cents AS BIGINT) AS bias_cents
        |FROM ag""",
    // v6: midpoint-day split + two-column unpivot; shares re-derived
    // with the same non-negative integer ppm arithmetic
    "v6_category_drift" ->
      """WITH base AS (SELECT
        |    epoch_us(o_orderdate) // 86400000000 AS day,
        |    o_orderstatus, o_orderpriority FROM orders),
        |thr AS (SELECT (min(day) + max(day)) // 2 AS thr FROM base),
        |cat AS (SELECT 'orderstatus' AS col_name,
        |    o_orderstatus AS category, day <= thr.thr AS early
        |  FROM base CROSS JOIN thr
        |  UNION ALL SELECT 'orderpriority', o_orderpriority,
        |    day <= thr.thr FROM base CROSS JOIN thr),
        |cnt AS (SELECT col_name, category,
        |    sum(CASE WHEN early THEN 1 ELSE 0 END) AS n_early,
        |    sum(CASE WHEN NOT early THEN 1 ELSE 0 END) AS n_late
        |  FROM cat GROUP BY 1, 2),
        |tot AS (SELECT col_name, sum(n_early) AS tot_early,
        |    sum(n_late) AS tot_late FROM cnt GROUP BY 1)
        |SELECT c.col_name, c.category,
        |  CAST(c.n_early AS BIGINT) AS n_early,
        |  CAST(c.n_late AS BIGINT) AS n_late,
        |  CAST(c.n_early * 1000000 // t.tot_early AS BIGINT)
        |    AS share_early_ppm,
        |  CAST(c.n_late * 1000000 // t.tot_late AS BIGINT)
        |    AS share_late_ppm,
        |  CAST(c.n_late * 1000000 // t.tot_late
        |    - c.n_early * 1000000 // t.tot_early AS BIGINT)
        |    AS delta_ppm
        |FROM cnt c JOIN tot t USING (col_name)""",
    // a49: one HUGEINT cross-multiplied ratio (the decimal(38,0)
    // twin), no intermediate floors; all operands non-negative
    "a49_dow_seasonality" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS c
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, count(*) AS tot_days,
        |    sum(c) AS tot_cents FROM daily GROUP BY 1),
        |dw AS (SELECT event_type, (day + 3) % 7 AS dow,
        |    count(*) AS n_days, sum(c) AS sum_cents
        |  FROM daily GROUP BY 1, 2)
        |SELECT dw.event_type, CAST(dw.dow AS BIGINT) AS dow,
        |  CAST(dw.n_days AS BIGINT) AS n_days,
        |  CAST(dw.sum_cents // dw.n_days AS BIGINT) AS mean_cents,
        |  CAST(CAST(dw.sum_cents AS HUGEINT) * tot.tot_days * 1000000
        |    // (CAST(dw.n_days AS HUGEINT) * tot.tot_cents)
        |    AS BIGINT) AS index_ppm
        |FROM dw JOIN tot USING (event_type)""",
    // a50: the identical 48-bit md5(event_id ':' rep) key (12 hex
    // chars, digit-wise rebuild = Spark's conv — the t12 parity
    // contract, exact since 16^11 < 2^53) replays the same 100
    // permutations; cross-multiplied stats run HUGEINT so every >=
    // comparison is exact (engine side: DECIMAL(38,0))
    "a50_permutation_test" ->
      """WITH pe AS (SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    ((epoch_us(ts) // 86400000000) + 3) % 7 >= 5 AS weekend
        |  FROM events),
        |obs AS (SELECT event_type,
        |    sum(CASE WHEN weekend THEN 1 ELSE 0 END) AS n_we,
        |    sum(CASE WHEN weekend THEN 0 ELSE 1 END) AS n_wd,
        |    sum(CASE WHEN weekend THEN cents ELSE 0 END) AS s_we,
        |    sum(cents) AS s_tot
        |  FROM pe GROUP BY 1),
        |fan AS (SELECT pe.event_type, pe.event_id, pe.cents, r.r,
        |    CAST(list_sum(list_transform(range(1, 13),
        |      i -> (strpos('0123456789abcdef',
        |        substr(md5(CAST(pe.event_id AS VARCHAR) || ':'
        |          || CAST(r.r AS VARCHAR)),
        |          CAST(i AS INTEGER), 1)) - 1)
        |        * (16 ** (12 - i)))) AS BIGINT) AS h
        |  FROM pe CROSS JOIN range(100) r(r)),
        |rk AS (SELECT event_type, r, cents, row_number() OVER (
        |    PARTITION BY event_type, r ORDER BY h, event_id) AS rk
        |  FROM fan),
        |s1 AS (SELECT rk.event_type, rk.r,
        |    sum(CASE WHEN rk.rk <= obs.n_we THEN rk.cents ELSE 0 END)
        |      AS s1
        |  FROM rk JOIN obs ON rk.event_type = obs.event_type
        |  GROUP BY 1, 2),
        |st AS (SELECT s1.event_type,
        |    CASE WHEN abs(CAST(s1.s1 AS HUGEINT) * obs.n_wd
        |        - CAST(obs.s_tot - s1.s1 AS HUGEINT) * obs.n_we)
        |      >= abs(CAST(obs.s_we AS HUGEINT) * obs.n_wd
        |        - CAST(obs.s_tot - obs.s_we AS HUGEINT) * obs.n_we)
        |      THEN 1 ELSE 0 END AS ge
        |  FROM s1 JOIN obs ON s1.event_type = obs.event_type)
        |SELECT o.event_type, CAST(o.n_we AS BIGINT) AS n_we,
        |  CAST(o.n_wd AS BIGINT) AS n_wd,
        |  CAST(abs(CAST(o.s_we AS HUGEINT) * o.n_wd
        |      - CAST(o.s_tot - o.s_we AS HUGEINT) * o.n_we) * 1000000
        |    // (CAST(o.n_we AS HUGEINT) * o.n_wd) AS BIGINT)
        |    AS obs_absdiff_micro,
        |  CAST(CASE WHEN CAST(o.s_we AS HUGEINT) * o.n_wd
        |      > CAST(o.s_tot - o.s_we AS HUGEINT) * o.n_we THEN 1
        |    WHEN CAST(o.s_we AS HUGEINT) * o.n_wd
        |      < CAST(o.s_tot - o.s_we AS HUGEINT) * o.n_we THEN -1
        |    ELSE 0 END AS INTEGER) AS obs_sign,
        |  CAST(count(*) AS BIGINT) AS n_reps,
        |  CAST(sum(st.ge) AS BIGINT) AS n_ge,
        |  CAST((sum(st.ge) + 1) * 1000000 // (count(*) + 1) AS BIGINT)
        |    AS p_ppm
        |FROM st JOIN obs o ON st.event_type = o.event_type
        |GROUP BY 1, 2, 3, 4, 5""",
    // a51: var18 is the tie-corrected Mann-Kendall variance ×18 (an
    // exact integer); the 5% call is the ×18·10^4 cross-multiplied
    // z² inequality — no sqrt on either engine
    "a51_mann_kendall" ->
      """WITH pts AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS c
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT a.event_type,
        |    CAST(sum(sign(b.c - a.c)) AS BIGINT) AS s_stat
        |  FROM pts a JOIN pts b
        |    ON a.event_type = b.event_type AND a.day < b.day
        |  GROUP BY 1),
        |nd AS (SELECT event_type, count(*) AS n_days FROM pts
        |  GROUP BY 1),
        |ti AS (SELECT event_type,
        |    sum(t * (t - 1) * (2 * t + 5)) AS tie18
        |  FROM (SELECT event_type, c, count(*) AS t FROM pts
        |    GROUP BY 1, 2) GROUP BY 1)
        |SELECT nd.event_type, CAST(nd.n_days AS BIGINT) AS n_days,
        |  s.s_stat,
        |  CAST(nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
        |    - ti.tie18 AS BIGINT) AS var18,
        |  CASE WHEN s.s_stat <> 0
        |      AND 180000 * (abs(s.s_stat) - 1) * (abs(s.s_stat) - 1)
        |      >= 38416 * (nd.n_days * (nd.n_days - 1)
        |        * (2 * nd.n_days + 5) - ti.tie18)
        |    THEN CASE WHEN s.s_stat > 0 THEN 'increasing'
        |      ELSE 'decreasing' END
        |    ELSE 'none' END AS trend
        |FROM nd JOIN s ON nd.event_type = s.event_type
        |JOIN ti ON nd.event_type = ti.event_type""",
    // w39: four floored micro-means (positive sums, so // = floor on
    // both engines) then pure integer subtraction for the DiD
    "w39_diff_in_diff" ->
      """WITH pe AS (SELECT user_id,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |cut AS (SELECT min(day) + (max(day) - min(day) + 1) // 2
        |    AS cutoff FROM pe),
        |cells AS (SELECT user_id % 2 = 1 AS treated,
        |    day >= cutoff AS post, count(*) AS n, sum(cents) AS s
        |  FROM pe, cut GROUP BY 1, 2),
        |m AS (SELECT treated, post, n,
        |    CAST(CAST(s AS HUGEINT) * 1000000 // n AS BIGINT) AS m
        |  FROM cells)
        |SELECT
        |  CAST(sum(CASE WHEN treated AND NOT post THEN n END)
        |    AS BIGINT) AS n_t_pre,
        |  CAST(sum(CASE WHEN treated AND post THEN n END)
        |    AS BIGINT) AS n_t_post,
        |  CAST(sum(CASE WHEN NOT treated AND NOT post THEN n END)
        |    AS BIGINT) AS n_c_pre,
        |  CAST(sum(CASE WHEN NOT treated AND post THEN n END)
        |    AS BIGINT) AS n_c_post,
        |  CAST(sum(CASE WHEN treated AND NOT post THEN m END)
        |    AS BIGINT) AS m_t_pre_micro,
        |  CAST(sum(CASE WHEN treated AND post THEN m END)
        |    AS BIGINT) AS m_t_post_micro,
        |  CAST(sum(CASE WHEN NOT treated AND NOT post THEN m END)
        |    AS BIGINT) AS m_c_pre_micro,
        |  CAST(sum(CASE WHEN NOT treated AND post THEN m END)
        |    AS BIGINT) AS m_c_post_micro,
        |  CAST((sum(CASE WHEN treated AND post THEN m END)
        |      - sum(CASE WHEN treated AND NOT post THEN m END))
        |    - (sum(CASE WHEN NOT treated AND post THEN m END)
        |      - sum(CASE WHEN NOT treated AND NOT post THEN m END))
        |    AS BIGINT) AS did_micro
        |FROM m""",
    // a52: running-mean deviations floored identically (// = div on
    // positive operands); the per-type overall mean runs HUGEINT
    "a52_page_hinkley" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type,
        |    (CAST(sum(x) AS HUGEINT) * 1000000 // count(*)) // 20
        |      AS delta_micro,
        |    (CAST(sum(x) AS HUGEINT) * 1000000 // count(*)) // 2
        |      AS lambda_micro
        |  FROM daily GROUP BY 1),
        |ser AS (SELECT event_type, day, x,
        |    row_number() OVER w AS t, sum(x) OVER w AS st
        |  FROM daily WINDOW w AS (PARTITION BY event_type
        |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW)),
        |tm AS (SELECT ser.event_type, ser.day, tot.delta_micro,
        |    tot.lambda_micro,
        |    ser.x * 1000000 - (ser.st * 1000000 // ser.t)
        |      - tot.delta_micro AS term
        |  FROM ser JOIN tot ON ser.event_type = tot.event_type),
        |m1 AS (SELECT event_type, day, delta_micro, lambda_micro,
        |    sum(term) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
        |  FROM tm),
        |m2 AS (SELECT event_type, day, delta_micro, lambda_micro, m,
        |    m - min(m) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
        |  FROM m1)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(max(delta_micro) AS BIGINT) AS delta_micro,
        |  CAST(max(lambda_micro) AS BIGINT) AS lambda_micro,
        |  CAST(max(ph) AS BIGINT) AS max_ph_micro,
        |  CAST(coalesce(min(CASE WHEN ph >= lambda_micro THEN day END),
        |    -1) AS BIGINT) AS alarm_day
        |FROM m2 GROUP BY 1""",
    // a54: pairs never cross day-of-week seasons; S and var18 summed
    // over seasons, same cross-multiplied 5% inequality as a51
    "a54_seasonal_mk" ->
      """WITH pts AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS c
        |  FROM events GROUP BY 1, 2),
        |pd AS (SELECT event_type, day, (day + 3) % 7 AS dow, c
        |  FROM pts),
        |s AS (SELECT a.event_type,
        |    CAST(sum(sign(b.c - a.c)) AS BIGINT) AS s_raw
        |  FROM pd a JOIN pd b ON a.event_type = b.event_type
        |    AND a.dow = b.dow AND a.day < b.day
        |  GROUP BY 1),
        |nd AS (SELECT event_type, dow, count(*) AS ns FROM pd
        |  GROUP BY 1, 2),
        |ti AS (SELECT event_type, dow,
        |    sum(t * (t - 1) * (2 * t + 5)) AS tie18
        |  FROM (SELECT event_type, dow, c, count(*) AS t FROM pd
        |    GROUP BY 1, 2, 3) GROUP BY 1, 2),
        |v AS (SELECT nd.event_type, CAST(sum(nd.ns) AS BIGINT)
        |      AS n_days,
        |    CAST(count(*) AS BIGINT) AS n_seasons,
        |    CAST(sum(nd.ns * (nd.ns - 1) * (2 * nd.ns + 5)
        |      - ti.tie18) AS BIGINT) AS var18_total
        |  FROM nd JOIN ti ON nd.event_type = ti.event_type
        |    AND nd.dow = ti.dow
        |  GROUP BY 1)
        |SELECT v.event_type, v.n_days, v.n_seasons,
        |  CAST(coalesce(s.s_raw, 0) AS BIGINT) AS s_total,
        |  v.var18_total,
        |  CASE WHEN coalesce(s.s_raw, 0) <> 0
        |      AND 180000 * (abs(coalesce(s.s_raw, 0)) - 1)
        |        * (abs(coalesce(s.s_raw, 0)) - 1)
        |      >= 38416 * v.var18_total
        |    THEN CASE WHEN s.s_raw > 0 THEN 'increasing'
        |      ELSE 'decreasing' END
        |    ELSE 'none' END AS trend
        |FROM v LEFT JOIN s ON v.event_type = s.event_type""",
    // w40: the Holt recurrence replayed as a recursive CTE. DuckDB's
    // `//` TRUNCATES toward zero on negatives (like Spark `div`), so
    // both halvings use the positive-mod subtraction — the same true
    // FLOOR the engine computes (b goes negative between upswings)
    "w40_holt_backtest" ->
      """WITH RECURSIVE daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, day, x, row_number() OVER (
        |    PARTITION BY event_type ORDER BY day) AS rn FROM daily),
        |r AS (
        |  SELECT event_type, rn, day, x, x AS l,
        |      CAST(0 AS BIGINT) AS b, CAST(NULL AS BIGINT) AS f
        |    FROM idx WHERE rn = 1
        |  UNION ALL
        |  SELECT i.event_type, i.rn, i.day, i.x,
        |      (((i.x + r.l + r.b)
        |        - ((((i.x + r.l + r.b) % 2) + 2) % 2)) // 2) AS l,
        |      (((r.b + (((i.x + r.l + r.b)
        |          - ((((i.x + r.l + r.b) % 2) + 2) % 2)) // 2) - r.l)
        |        - ((((r.b + (((i.x + r.l + r.b)
        |          - ((((i.x + r.l + r.b) % 2) + 2) % 2)) // 2) - r.l)
        |            % 2) + 2) % 2)) // 2) AS b,
        |      r.l + r.b AS f
        |    FROM r JOIN idx i ON i.event_type = r.event_type
        |      AND i.rn = r.rn + 1)
        |SELECT event_type, CAST(day AS BIGINT) AS day,
        |  CAST(x AS BIGINT) AS cents,
        |  CAST(f AS BIGINT) AS forecast_cents,
        |  CAST(abs(x - f) AS BIGINT) AS abs_err_cents
        |FROM r WHERE rn >= 2""",
    // a56: (x·n − S)² > 9·(n·Q − S²) — the ±3σ band cross-multiplied
    // into HUGEINT (engine: DECIMAL(38,0)); no sqrt on either side
    "a56_spc_chart" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, count(*) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx,
        |    sum(CAST(x AS HUGEINT) * x) AS qx
        |  FROM daily GROUP BY 1),
        |sc AS (SELECT d.event_type, d.day, t.n, t.sx,
        |    (CAST(d.x AS HUGEINT) * t.n - t.sx)
        |      * (CAST(d.x AS HUGEINT) * t.n - t.sx)
        |      > 9 * (t.n * t.qx - t.sx * t.sx) AS sig
        |  FROM daily d JOIN tot t ON d.event_type = t.event_type)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
        |  CAST(max(sx // n) AS BIGINT) AS mean_cents,
        |  CAST(sum(CASE WHEN sig THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_signals,
        |  CAST(coalesce(min(CASE WHEN sig THEN day END), -1)
        |    AS BIGINT) AS first_signal_day
        |FROM sc GROUP BY 1""",
    // a57: exact ×n² covariance numerators as decimal text (HUGEINT /
    // DECIMAL(38,0) render identically); the lag fanout replays the
    // same 0..7 aligned-day join
    "a57_lead_lag" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |fan AS (SELECT a.event_type AS et_a, a.day, a.x AS xa,
        |    l.lag_days, a.day + l.lag_days AS day_b
        |  FROM daily a CROSS JOIN
        |    (SELECT unnest(range(0, 8)) AS lag_days) l),
        |j AS (SELECT f.et_a, b.event_type AS et_b, f.lag_days,
        |    f.xa, b.x AS yb
        |  FROM fan f JOIN daily b ON b.day = f.day_b
        |    AND b.event_type <> f.et_a)
        |SELECT et_a, et_b, CAST(lag_days AS BIGINT) AS lag_days,
        |  CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(CAST(count(*) AS HUGEINT)
        |      * sum(CAST(xa AS HUGEINT) * yb)
        |    - sum(CAST(xa AS HUGEINT)) * sum(CAST(yb AS HUGEINT))
        |    AS VARCHAR) AS cov_n2
        |FROM j GROUP BY 1, 2, 3""",
    // a59: the fully cross-multiplied d² ratio in HUGEINT (engine:
    // DECIMAL(38,0)); pooled SAMPLE variance, no sqrt on either side
    "a59_effect_size" ->
      """WITH pe AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    ((epoch_us(ts) // 86400000000) + 3) % 7 >= 5 AS weekend
        |  FROM events),
        |g AS (SELECT event_type,
        |    sum(CASE WHEN weekend THEN 1 ELSE 0 END) AS n1,
        |    sum(CASE WHEN weekend THEN 0 ELSE 1 END) AS n0,
        |    sum(CASE WHEN weekend THEN CAST(cents AS HUGEINT)
        |      ELSE 0 END) AS s1,
        |    sum(CASE WHEN weekend THEN 0
        |      ELSE CAST(cents AS HUGEINT) END) AS s0,
        |    sum(CASE WHEN weekend
        |      THEN CAST(cents AS HUGEINT) * cents ELSE 0 END) AS q1,
        |    sum(CASE WHEN weekend THEN 0
        |      ELSE CAST(cents AS HUGEINT) * cents END) AS q0
        |  FROM pe GROUP BY 1)
        |SELECT event_type, CAST(n1 AS BIGINT) AS n1,
        |  CAST(n0 AS BIGINT) AS n0,
        |  CAST(CASE WHEN s1 * n0 > s0 * n1 THEN 1
        |    WHEN s1 * n0 < s0 * n1 THEN -1 ELSE 0 END AS INTEGER)
        |    AS gap_sign,
        |  CASE WHEN n1 = 0 OR n0 = 0 OR
        |    (n0 * (n1 * q1 - s1 * s1) + n1 * (n0 * q0 - s0 * s0)) = 0
        |  THEN NULL ELSE
        |  CAST((s1 * n0 - s0 * n1) * (s1 * n0 - s0 * n1)
        |    * (n1 + n0 - 2) * 1000000
        |    // (CAST(n1 AS HUGEINT) * n0
        |      * (n0 * (n1 * q1 - s1 * s1) + n1 * (n0 * q0 - s0 * s0)))
        |    AS BIGINT) END AS d2_ppm
        |FROM g""",
    // w41: the w40 recursion replayed, scored ×10 pinball at q=.5/.9
    // against the lag-1 random-walk baseline
    "w41_pinball_eval" ->
      """WITH RECURSIVE daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, day, x, row_number() OVER (
        |    PARTITION BY event_type ORDER BY day) AS rn FROM daily),
        |r AS (
        |  SELECT event_type, rn, day, x, x AS l,
        |      CAST(0 AS BIGINT) AS b, CAST(NULL AS BIGINT) AS f
        |    FROM idx WHERE rn = 1
        |  UNION ALL
        |  SELECT i.event_type, i.rn, i.day, i.x,
        |      (((i.x + r.l + r.b)
        |        - ((((i.x + r.l + r.b) % 2) + 2) % 2)) // 2) AS l,
        |      (((r.b + (((i.x + r.l + r.b)
        |          - ((((i.x + r.l + r.b) % 2) + 2) % 2)) // 2) - r.l)
        |        - ((((r.b + (((i.x + r.l + r.b)
        |          - ((((i.x + r.l + r.b) % 2) + 2) % 2)) // 2) - r.l)
        |            % 2) + 2) % 2)) // 2) AS b,
        |      r.l + r.b AS f
        |    FROM r JOIN idx i ON i.event_type = r.event_type
        |      AND i.rn = r.rn + 1),
        |holt AS (SELECT event_type, day,
        |    greatest(5 * (x - f), (5 - 10) * (x - f)) AS h50,
        |    greatest(9 * (x - f), (9 - 10) * (x - f)) AS h90
        |  FROM r WHERE rn >= 2),
        |nv AS (SELECT event_type, day,
        |    greatest(5 * (x - prev), (5 - 10) * (x - prev)) AS n50,
        |    greatest(9 * (x - prev), (9 - 10) * (x - prev)) AS n90
        |  FROM (SELECT event_type, day, x, lag(x) OVER (
        |      PARTITION BY event_type ORDER BY day) AS prev
        |    FROM daily)
        |  WHERE prev IS NOT NULL)
        |SELECT h.event_type, CAST(count(*) AS BIGINT) AS n_days_scored,
        |  CAST(sum(h.h50) AS BIGINT) AS holt_p50_x10,
        |  CAST(sum(h.h90) AS BIGINT) AS holt_p90_x10,
        |  CAST(sum(n.n50) AS BIGINT) AS naive_p50_x10,
        |  CAST(sum(n.n90) AS BIGINT) AS naive_p90_x10,
        |  sum(h.h50) < sum(n.n50) AS holt_beats_naive
        |FROM holt h JOIN nv n ON h.event_type = n.event_type
        |  AND h.day = n.day
        |GROUP BY 1""",
    // a58: baskets re-derived from raw lineitem x part; lift runs
    // HUGEINT (engine: DECIMAL(38,0)); the >= 5 support floor is part
    // of the declared contract
    "a58_assoc_rules" ->
      """WITH ob AS (SELECT DISTINCT l.l_orderkey AS ok, p.p_brand
        |      AS brand
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |no AS (SELECT count(DISTINCT ok) AS n_orders FROM ob),
        |nb AS (SELECT brand, count(*) AS n FROM ob GROUP BY 1),
        |pr AS (SELECT a.brand AS brand_a, b.brand AS brand_b,
        |    count(*) AS n_ab
        |  FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand <> b.brand
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT pr.brand_a, pr.brand_b,
        |  CAST(na.n AS BIGINT) AS n_a, CAST(nbb.n AS BIGINT) AS n_b,
        |  CAST(pr.n_ab AS BIGINT) AS n_ab,
        |  CAST(no.n_orders AS BIGINT) AS n_orders,
        |  CAST(pr.n_ab * 1000000 // na.n AS BIGINT) AS conf_ppm,
        |  CAST(CAST(pr.n_ab AS HUGEINT) * no.n_orders * 1000000
        |    // (CAST(na.n AS HUGEINT) * nbb.n) AS BIGINT) AS lift_ppm
        |FROM pr
        |JOIN nb na ON na.brand = pr.brand_a
        |JOIN nb nbb ON nbb.brand = pr.brand_b
        |CROSS JOIN no""",
    // e29: milli-quantized per-(batch, dim) integer sums are order-
    // free; means floor via the positive-mod form (sums go negative);
    // cosine-squared is the sqrt-free HUGEINT ratio
    "e29_embedding_drift" ->
      """WITH w AS (SELECT (max(vec_id) // 16) + 1 AS w
        |  FROM embeddings),
        |q0 AS (SELECT e.vec_id // w.w AS batch,
        |    unnest(range(1, len(e.embedding) + 1)) AS i,
        |    unnest(list_transform(e.embedding,
        |      x -> CAST(x AS DOUBLE))) AS x
        |  FROM embeddings e CROSS JOIN w),
        |q AS (SELECT batch, i - 1 AS dim,
        |    CAST(floor(x * 1000 + 0.5) AS BIGINT) AS q FROM q0),
        |sums AS (SELECT batch, dim, sum(q) AS sq, count(*) AS n
        |  FROM q GROUP BY 1, 2),
        |m AS (SELECT batch, dim, n,
        |    (sq - (((sq % n) + n) % n)) // n AS m
        |  FROM sums),
        |pr AS (SELECT a.batch AS batch_a, a.n AS n_a, b.n AS n_b,
        |    a.m AS ma, b.m AS mb
        |  FROM m a JOIN m b ON b.batch = a.batch + 1
        |    AND b.dim = a.dim),
        |agg AS (SELECT batch_a, max(n_a) AS n_a, max(n_b) AS n_b,
        |    sum(CAST(ma AS HUGEINT) * mb) AS dot,
        |    sum(CAST(ma AS HUGEINT) * ma) AS na2,
        |    sum(CAST(mb AS HUGEINT) * mb) AS nb2
        |  FROM pr GROUP BY 1)
        |SELECT CAST(batch_a AS BIGINT) AS batch_a,
        |  CAST(batch_a + 1 AS BIGINT) AS batch_b,
        |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CAST(CASE WHEN dot > 0 THEN 1 WHEN dot < 0 THEN -1
        |    ELSE 0 END AS INTEGER) AS dot_sign,
        |  CAST(dot * dot * 1000000
        |    // (greatest(na2, 1) * greatest(nb2, 1)) AS BIGINT)
        |    AS cos2_ppm
        |FROM agg""",
    // a55: the full a50 replay as a CTE, then the integer BH step-up
    // (p_ppm·m ≤ 50000·k) over the m-row hypothesis grid
    "a55_bh_fdr" ->
      """WITH pe AS (SELECT event_id, event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    ((epoch_us(ts) // 86400000000) + 3) % 7 >= 5 AS weekend
        |  FROM events),
        |obs AS (SELECT event_type,
        |    sum(CASE WHEN weekend THEN 1 ELSE 0 END) AS n_we,
        |    sum(CASE WHEN weekend THEN 0 ELSE 1 END) AS n_wd,
        |    sum(CASE WHEN weekend THEN cents ELSE 0 END) AS s_we,
        |    sum(cents) AS s_tot
        |  FROM pe GROUP BY 1),
        |fan AS (SELECT pe.event_type, pe.event_id, pe.cents, r.r,
        |    CAST(list_sum(list_transform(range(1, 13),
        |      i -> (strpos('0123456789abcdef',
        |        substr(md5(CAST(pe.event_id AS VARCHAR) || ':'
        |          || CAST(r.r AS VARCHAR)),
        |          CAST(i AS INTEGER), 1)) - 1)
        |        * (16 ** (12 - i)))) AS BIGINT) AS h
        |  FROM pe CROSS JOIN range(100) r(r)),
        |rk AS (SELECT event_type, r, cents, row_number() OVER (
        |    PARTITION BY event_type, r ORDER BY h, event_id) AS rk
        |  FROM fan),
        |s1 AS (SELECT rk.event_type, rk.r,
        |    sum(CASE WHEN rk.rk <= obs.n_we THEN rk.cents ELSE 0 END)
        |      AS s1
        |  FROM rk JOIN obs ON rk.event_type = obs.event_type
        |  GROUP BY 1, 2),
        |st AS (SELECT s1.event_type,
        |    CASE WHEN abs(CAST(s1.s1 AS HUGEINT) * obs.n_wd
        |        - CAST(obs.s_tot - s1.s1 AS HUGEINT) * obs.n_we)
        |      >= abs(CAST(obs.s_we AS HUGEINT) * obs.n_wd
        |        - CAST(obs.s_tot - obs.s_we AS HUGEINT) * obs.n_we)
        |      THEN 1 ELSE 0 END AS ge
        |  FROM s1 JOIN obs ON s1.event_type = obs.event_type),
        |p50 AS (SELECT st.event_type,
        |    CAST((sum(st.ge) + 1) * 1000000 // (count(*) + 1)
        |      AS BIGINT) AS p_ppm
        |  FROM st GROUP BY 1),
        |kr AS (SELECT event_type, p_ppm,
        |    CAST(row_number() OVER (ORDER BY p_ppm, event_type)
        |      AS BIGINT) AS k,
        |    CAST(count(*) OVER () AS BIGINT) AS m
        |  FROM p50),
        |km AS (SELECT max(CASE WHEN p_ppm * m <= 50000 * k THEN k
        |    END) AS kmax FROM kr)
        |SELECT kr.event_type, kr.p_ppm, kr.k, kr.m,
        |  CAST(50000 * kr.k // kr.m AS BIGINT) AS bh_threshold_ppm,
        |  kr.k <= coalesce(km.kmax, 0) AS rejected
        |FROM kr, km""",
    // a60: the CUSUM recurrence replayed with a recursive CTE — the
    // w41 pattern; baseline/slack/threshold all positive-mod floor
    // division on both sides, greatest(0, ·) caps identical
    "a60_cusum" ->
      """WITH RECURSIVE daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, day, x, row_number() OVER (
        |    PARTITION BY event_type ORDER BY day) AS rn FROM daily),
        |b AS (SELECT event_type,
        |    (sumf - ((sumf % cnt + cnt) % cnt)) // cnt AS mu
        |  FROM (SELECT event_type, sum(x) AS sumf, count(*) AS cnt
        |    FROM idx WHERE rn <= 14 GROUP BY 1)),
        |p AS (SELECT event_type, mu,
        |    (mu - ((mu % 20 + 20) % 20)) // 20 AS k,
        |    (mu - ((mu % 2 + 2) % 2)) // 2 AS h
        |  FROM b),
        |r AS (
        |  SELECT i.event_type, i.rn, i.day,
        |    greatest(0, i.x - p.mu - p.k) AS sp,
        |    greatest(0, p.mu - i.x - p.k) AS sn
        |  FROM idx i JOIN p USING (event_type) WHERE i.rn = 1
        |  UNION ALL
        |  SELECT i.event_type, i.rn, i.day,
        |    greatest(0, r.sp + i.x - p.mu - p.k),
        |    greatest(0, r.sn + p.mu - i.x - p.k)
        |  FROM r JOIN idx i ON i.event_type = r.event_type
        |    AND i.rn = r.rn + 1
        |  JOIN p ON p.event_type = r.event_type)
        |SELECT r.event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(max(p.mu) AS BIGINT) AS target_cents,
        |  CAST(max(sp) AS BIGINT) AS max_cusum_pos,
        |  CAST(max(sn) AS BIGINT) AS max_cusum_neg,
        |  CAST(sum(CASE WHEN sp > p.h OR sn > p.h THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_alarm_days,
        |  CAST(coalesce(min(CASE WHEN sp > p.h OR sn > p.h
        |    THEN r.day END), -1) AS BIGINT) AS first_alarm_day
        |FROM r JOIN p ON p.event_type = r.event_type
        |GROUP BY 1""",
    // v8: identical doc_id-derived PII planting on both sides, then
    // detect/redact/census re-derived — RE2 'g'-flag replaces mirror
    // Spark's replace-all; patterns are simple char classes with
    // identical leftmost-first semantics in both engines
    "v8_pii_audit" ->
      """WITH aug AS (SELECT source, text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' contact user'
        |      || CAST(doc_id AS VARCHAR) || '@mail.example.com or 10.0.'
        |      || CAST(doc_id % 200 AS VARCHAR) || '.99' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' ref '
        |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
        |      || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END AS a
        |  FROM documents),
        |per AS (SELECT source,
        |    length(regexp_extract_all(a,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
        |    length(regexp_extract_all(a,
        |      '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS ni,
        |    length(regexp_extract_all(a, '\d{3}-\d{2}-\d{4}')) AS nd,
        |    length(a) - length(regexp_replace(regexp_replace(
        |      regexp_replace(a,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |        '<EMAIL>', 'g'),
        |      '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'),
        |      '\d{3}-\d{2}-\d{4}', '<ID>', 'g')) AS delta
        |  FROM aug)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN ne + ni + nd > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS docs_with_pii,
        |  CAST(sum(ne) AS BIGINT) AS n_emails,
        |  CAST(sum(ni) AS BIGINT) AS n_ips,
        |  CAST(sum(nd) AS BIGINT) AS n_ids,
        |  CAST(sum(delta) AS BIGINT) AS redact_delta_chars
        |FROM per GROUP BY 1""",
    // v7: both exact lower medians re-derived via rank selection; all
    // deviations absolute so native division semantics agree
    "v7_robust_outliers" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS c
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT event_type, count(*) AS n_days FROM daily
        |  GROUP BY 1),
        |md AS (SELECT event_type, c AS median_cents FROM (
        |    SELECT event_type, c, row_number() OVER (
        |      PARTITION BY event_type ORDER BY c) AS rk FROM daily) r
        |  JOIN n USING (event_type)
        |  WHERE rk = (n_days + 1) // 2),
        |dv AS (SELECT daily.event_type, abs(c - median_cents) AS dev,
        |    median_cents FROM daily JOIN md USING (event_type)),
        |mad AS (SELECT event_type, dev AS mad_cents FROM (
        |    SELECT event_type, dev, row_number() OVER (
        |      PARTITION BY event_type ORDER BY dev) AS rk FROM dv) r
        |  JOIN n USING (event_type)
        |  WHERE rk = (n_days + 1) // 2)
        |SELECT dv.event_type,
        |  CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(max(dv.median_cents) AS BIGINT) AS median_cents,
        |  CAST(max(mad.mad_cents) AS BIGINT) AS mad_cents,
        |  CAST(sum(CASE WHEN dv.dev > 3 * mad.mad_cents THEN 1
        |    ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dv JOIN mad USING (event_type) GROUP BY 1""",
    // a44: same exact-integer per-cell chi2 terms (HUGEINT, truncating
    // //), one final sqrt over identical inputs
    "a44_cramers_v" ->
      """WITH cells AS (SELECT event_type,
        |    (epoch_us(ts) // 86400000000) % 7 AS dow,
        |    count(*) AS o FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, sum(o) AS r FROM cells GROUP BY 1),
        |ct AS (SELECT dow, sum(o) AS c FROM cells GROUP BY 1),
        |nn AS (SELECT sum(o) AS n FROM cells),
        |j AS (SELECT g.r, g.c, coalesce(cells.o, 0) AS o, nn.n
        |  FROM (SELECT rt.event_type, ct.dow, rt.r, ct.c
        |    FROM rt CROSS JOIN ct) g
        |  LEFT JOIN cells ON g.event_type = cells.event_type
        |    AND g.dow = cells.dow
        |  CROSS JOIN nn),
        |agg AS (SELECT max(n) AS n,
        |    sum((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
        |      * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
        |      * 1000000 // (CAST(r AS HUGEINT) * c * n)) AS chi2_ppm
        |  FROM j),
        |lv AS (SELECT (SELECT count(*) FROM rt) AS rl,
        |    (SELECT count(*) FROM ct) AS cl)
        |SELECT CAST(n AS BIGINT) AS n, CAST(rl AS BIGINT) AS r_levels,
        |  CAST(cl AS BIGINT) AS c_levels,
        |  CAST((rl - 1) * (cl - 1) AS BIGINT) AS dof,
        |  CAST(chi2_ppm AS BIGINT) AS chi2_ppm,
        |  sqrt(CAST(chi2_ppm AS DOUBLE) / 1e6
        |    / CAST(n * least(rl - 1, cl - 1) AS DOUBLE)) AS cramers_v
        |FROM agg CROSS JOIN lv""",
    // w35: sessions re-derived (the a36 CTEs), then a DIRECT global
    // sweep + duration-weighted rank vs Spark's two-level plan
    // w36: one global running-max window in the oracle (row-scaled is
    // fine there) vs the engine's two-level chunked derivation — the
    // hash match proves seam correctness
    "w36_late_audit" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu
        |  FROM events),
        |f AS (SELECT event_id, tsu,
        |    max(tsu) OVER (ORDER BY user_id, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS frontier
        |  FROM e),
        |l AS (SELECT tsu // 86400000000 AS day,
        |    CASE WHEN frontier > tsu THEN frontier - tsu ELSE 0 END
        |      AS late_us
        |  FROM f)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_late_1m,
        |  CAST(sum(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_late_10m,
        |  CAST(sum(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_late_60m
        |FROM l GROUP BY day""",
    "w35_concurrency_pctile" ->
      """WITH f AS (SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
        |      THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM f),
        |sess AS (SELECT user_id, session_id, min(ts) AS t0,
        |    max(ts) AS t1 FROM s GROUP BY 1, 2),
        |deltas AS (SELECT epoch_us(t0) AS t, 1 AS delta FROM sess
        |  UNION ALL SELECT epoch_us(t1), -1 FROM sess),
        |g AS (SELECT t, delta, sum(delta) AS d FROM deltas
        |  GROUP BY 1, 2),
        |r AS (SELECT t, sum(d) OVER (ORDER BY t, delta
        |    ROWS UNBOUNDED PRECEDING) AS running FROM g),
        |rr AS (SELECT t, max(running) AS running FROM r GROUP BY 1),
        |sp AS (SELECT running,
        |    lead(t) OVER (ORDER BY t) - t AS dur_us FROM rr),
        |sel AS (SELECT running, sum(dur_us) AS dur_us FROM sp
        |  WHERE dur_us IS NOT NULL AND running > 0 GROUP BY 1),
        |c AS (SELECT running, dur_us,
        |    sum(dur_us) OVER (ORDER BY running
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(dur_us) OVER () AS total FROM sel)
        |SELECT CAST(max(total) AS BIGINT) AS busy_us,
        |  CAST(min(CASE WHEN cum * 100 >= total * 50 THEN running END)
        |    AS BIGINT) AS p50_concurrency,
        |  CAST(min(CASE WHEN cum * 100 >= total * 95 THEN running END)
        |    AS BIGINT) AS p95_concurrency,
        |  CAST(max(running) AS BIGINT) AS max_concurrency
        |FROM c""",
    // j19: both knowledge snapshots re-derived with ROW_NUMBER windows
    // (independent algorithm vs the engine's struct-max aggregate)
    "j19_bitemporal" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS v_us,
        |    epoch_us(ts) + (event_id % 5) * 86400000000 AS tx_us
        |  FROM events),
        |a AS (SELECT max(v_us) AS t_cut FROM ev),
        |nw AS (SELECT user_id, event_type AS attr_now,
        |    v_us AS valid_us_now
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY v_us DESC, event_id DESC) AS rn FROM ev)
        |  WHERE rn = 1),
        |att AS (SELECT user_id, event_type AS attr_at_t,
        |    v_us AS valid_us_at_t
        |  FROM (SELECT ev.*, row_number() OVER (PARTITION BY user_id
        |      ORDER BY v_us DESC, event_id DESC) AS rn
        |    FROM ev CROSS JOIN a WHERE tx_us <= t_cut)
        |  WHERE rn = 1),
        |late AS (SELECT user_id,
        |    sum(CASE WHEN tx_us > t_cut THEN 1 ELSE 0 END) AS n_late
        |  FROM ev CROSS JOIN a GROUP BY 1)
        |SELECT nw.user_id, att.attr_at_t, nw.attr_now,
        |  att.attr_at_t IS DISTINCT FROM nw.attr_now AS restated,
        |  CAST(late.n_late AS BIGINT) AS n_late,
        |  att.valid_us_at_t, nw.valid_us_now
        |FROM nw LEFT JOIN att ON nw.user_id = att.user_id
        |JOIN late ON nw.user_id = late.user_id""",
    // w31: the trailing-28-day distinct via bounded fan-out on both
    // engines — same algorithm, independent execution
    "w31_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        |m AS (SELECT DISTINCT user_id, day + t.i AS day
        |  FROM ud, unnest(range(0, 28)) AS t(i)),
        |mau AS (SELECT day, count(*) AS mau FROM m GROUP BY 1)
        |SELECT d.day, CAST(d.dau AS BIGINT) AS dau,
        |  CAST(mau.mau AS BIGINT) AS mau,
        |  CAST(d.dau * 1000000 // mau.mau AS BIGINT) AS stickiness_ppm
        |FROM dau d JOIN mau USING (day)""",
    // m10: CAS accounting re-derived from documents directly
    // m13: the oracle IS the streaming replay's emissions — the hash
    // gate asserts stream ≡ batch for the chunk-store decisions
    "m13_stream_chunks" ->
      s"""SELECT doc_id, format, CAST(off AS BIGINT) AS off, stored,
         |  CAST(bytes_written AS BIGINT) AS bytes_written
         |FROM ${oprel("stream_chunk_ingest")}""",
    // m12: dedup accounting re-aggregated from the dumped chunk split;
    // bytes_total comes from RAW documents (not the dump), so a split
    // that failed to tile a payload hash-mismatches loudly; the
    // whole-asset side re-derives m10's grouping independently
    "m12_cdc_dedup" ->
      s"""WITH ch AS (SELECT * FROM ${oprel("cdc_chunks")}),
         |ph AS (SELECT format, hash, len, count(*) AS cnt
         |  FROM ch GROUP BY 1, 2, 3),
         |ca AS (SELECT format, sum(cnt) AS n_chunks,
         |    count(*) AS n_unique_chunks,
         |    sum(CAST(len AS BIGINT)) AS bytes_unique
         |  FROM ph GROUP BY 1),
         |tot AS (SELECT source AS format,
         |    CAST(sum(octet_length(encode(text))) AS BIGINT)
         |      AS bytes_total
         |  FROM documents GROUP BY 1),
         |wh AS (SELECT format,
         |    CAST(sum(n_bytes) AS BIGINT) AS bytes_unique_whole
         |  FROM (SELECT source AS format, md5(text) AS h,
         |      octet_length(encode(text)) AS n_bytes
         |    FROM documents GROUP BY 1, 2, 3) g GROUP BY 1)
         |SELECT ca.format, CAST(ca.n_chunks AS BIGINT) AS n_chunks,
         |  CAST(ca.n_unique_chunks AS BIGINT) AS n_unique_chunks,
         |  tot.bytes_total,
         |  CAST(ca.bytes_unique AS BIGINT) AS bytes_unique,
         |  wh.bytes_unique_whole,
         |  CAST(wh.bytes_unique_whole - ca.bytes_unique AS BIGINT)
         |    AS cdc_extra_saved
         |FROM ca JOIN tot USING (format) JOIN wh USING (format)""",
    // m12b: the split itself, re-derived from RAW parquet — the gear
    // table from its LCG (256-step recursion), then the per-byte
    // h←2h+gear[b] / FNV-1a recursion over the hex-rendered payload
    // (20-doc sample, first KiB); unsigned math in HUGEINT mod 2^64,
    // two's-complement back to BIGINT at the end. NO engine dump is
    // read: a CdcChunk boundary/hash drift goes red here even when
    // every downstream accounting hash still reconciles.
    "m12b_cdc_split_audit" ->
      """WITH RECURSIVE
        |gear(i, x) AS (
        |  SELECT 0, CAST((CAST(11400714819323198485 AS HUGEINT)
        |      * 6364136223846793005 + 1442695040888963407)
        |    % 18446744073709551616 AS HUGEINT)
        |  UNION ALL
        |  SELECT i + 1, CAST((x * 6364136223846793005
        |      + 1442695040888963407)
        |    % 18446744073709551616 AS HUGEINT)
        |  FROM gear WHERE i < 255),
        |docs AS (
        |  SELECT doc_id, substring(hex(encode(text)), 1, 2048) AS hx
        |  FROM documents WHERE doc_id % 25 = 0
        |  ORDER BY doc_id LIMIT 20),
        |step(doc_id, pos, strt, gh, fh, cut) AS (
        |  SELECT d.doc_id, 0, 0, g.x,
        |    CAST((((CAST(14695981039346656037 AS HUGEINT) // 256) * 256
        |        + xor(CAST(CAST(14695981039346656037 AS HUGEINT) % 256
        |                AS BIGINT),
        |              (strpos('0123456789ABCDEF',
        |                 substring(d.hx, 1, 1)) - 1) * 16
        |            + (strpos('0123456789ABCDEF',
        |                 substring(d.hx, 2, 1)) - 1)))
        |      * 1099511628211) % 18446744073709551616 AS HUGEINT),
        |    false
        |  FROM docs d
        |  JOIN gear g ON g.i =
        |      (strpos('0123456789ABCDEF', substring(d.hx, 1, 1)) - 1)
        |        * 16
        |    + (strpos('0123456789ABCDEF', substring(d.hx, 2, 1)) - 1)
        |  WHERE length(d.hx) >= 2
        |  UNION ALL
        |  SELECT st.doc_id, st.pos + 1,
        |    CASE WHEN st.cut THEN st.pos + 1 ELSE st.strt END,
        |    CAST(((CASE WHEN st.cut THEN 0 ELSE st.gh END) * 2 + g.x)
        |      % 18446744073709551616 AS HUGEINT),
        |    CAST((((CASE WHEN st.cut
        |            THEN CAST(14695981039346656037 AS HUGEINT)
        |            ELSE st.fh END // 256) * 256
        |        + xor(CAST(CASE WHEN st.cut
        |                THEN CAST(14695981039346656037 AS HUGEINT)
        |                ELSE st.fh END % 256 AS BIGINT),
        |              (strpos('0123456789ABCDEF',
        |                 substring(d.hx, 2 * (st.pos + 1) + 1, 1)) - 1)
        |                * 16
        |            + (strpos('0123456789ABCDEF',
        |                 substring(d.hx, 2 * (st.pos + 1) + 2, 1)) - 1)))
        |      * 1099511628211) % 18446744073709551616 AS HUGEINT),
        |    ((st.pos + 1) - (CASE WHEN st.cut THEN st.pos + 1
        |         ELSE st.strt END) + 1 >= 16
        |     AND CAST(((CASE WHEN st.cut THEN 0 ELSE st.gh END) * 2
        |         + g.x) % 18446744073709551616 AS HUGEINT) % 64 = 0)
        |    OR (st.pos + 1) - (CASE WHEN st.cut THEN st.pos + 1
        |         ELSE st.strt END) + 1 >= 256
        |  FROM step st
        |  JOIN docs d ON d.doc_id = st.doc_id
        |  JOIN gear g ON g.i =
        |      (strpos('0123456789ABCDEF',
        |         substring(d.hx, 2 * (st.pos + 1) + 1, 1)) - 1) * 16
        |    + (strpos('0123456789ABCDEF',
        |         substring(d.hx, 2 * (st.pos + 1) + 2, 1)) - 1)
        |  WHERE 2 * (st.pos + 1) + 2 <= length(d.hx)),
        |chunks AS (
        |  SELECT doc_id, strt AS off, pos - strt + 1 AS len, fh
        |  FROM step WHERE cut
        |  UNION ALL
        |  SELECT doc_id, strt, pos - strt + 1, fh
        |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |          ORDER BY pos DESC) AS rn FROM step)
        |  WHERE rn = 1 AND NOT cut)
        |SELECT doc_id, CAST(off AS BIGINT) AS off,
        |  CAST(len AS BIGINT) AS len,
        |  CAST(CASE WHEN fh >= 9223372036854775808
        |    THEN fh - 18446744073709551616 ELSE fh END AS BIGINT)
        |    AS hash
        |FROM chunks""",
    // m13b: the STREAMING split audit — the engine side is the real
    // streaming chunk store replayed over the m12b prefix sample;
    // this oracle reads NO engine dump: it re-splits the raw bytes with
    // the same recursive gear-hash CTE as m12b, then recomputes the
    // first-instance store decision per (format, hash, len) in
    // (doc_id, off) replay order with a window. A streaming-only drift
    // or a split drift goes red here independently of the m13 parity.
    "m13b_stream_split_audit" ->
      """WITH RECURSIVE
        |gear(i, x) AS (
        |  SELECT 0, CAST((CAST(11400714819323198485 AS HUGEINT)
        |      * 6364136223846793005 + 1442695040888963407)
        |    % 18446744073709551616 AS HUGEINT)
        |  UNION ALL
        |  SELECT i + 1, CAST((x * 6364136223846793005
        |      + 1442695040888963407)
        |    % 18446744073709551616 AS HUGEINT)
        |  FROM gear WHERE i < 255),
        |docs AS (
        |  SELECT doc_id, source AS format,
        |    substring(hex(encode(text)), 1, 2048) AS hx
        |  FROM documents WHERE doc_id % 25 = 0
        |  ORDER BY doc_id LIMIT 20),
        |step(doc_id, pos, strt, gh, fh, cut) AS (
        |  SELECT d.doc_id, 0, 0, g.x,
        |    CAST((((CAST(14695981039346656037 AS HUGEINT) // 256) * 256
        |        + xor(CAST(CAST(14695981039346656037 AS HUGEINT) % 256
        |                AS BIGINT),
        |              (strpos('0123456789ABCDEF',
        |                 substring(d.hx, 1, 1)) - 1) * 16
        |            + (strpos('0123456789ABCDEF',
        |                 substring(d.hx, 2, 1)) - 1)))
        |      * 1099511628211) % 18446744073709551616 AS HUGEINT),
        |    false
        |  FROM docs d
        |  JOIN gear g ON g.i =
        |      (strpos('0123456789ABCDEF', substring(d.hx, 1, 1)) - 1)
        |        * 16
        |    + (strpos('0123456789ABCDEF', substring(d.hx, 2, 1)) - 1)
        |  WHERE length(d.hx) >= 2
        |  UNION ALL
        |  SELECT st.doc_id, st.pos + 1,
        |    CASE WHEN st.cut THEN st.pos + 1 ELSE st.strt END,
        |    CAST(((CASE WHEN st.cut THEN 0 ELSE st.gh END) * 2 + g.x)
        |      % 18446744073709551616 AS HUGEINT),
        |    CAST((((CASE WHEN st.cut
        |            THEN CAST(14695981039346656037 AS HUGEINT)
        |            ELSE st.fh END // 256) * 256
        |        + xor(CAST(CASE WHEN st.cut
        |                THEN CAST(14695981039346656037 AS HUGEINT)
        |                ELSE st.fh END % 256 AS BIGINT),
        |              (strpos('0123456789ABCDEF',
        |                 substring(d.hx, 2 * (st.pos + 1) + 1, 1)) - 1)
        |                * 16
        |            + (strpos('0123456789ABCDEF',
        |                 substring(d.hx, 2 * (st.pos + 1) + 2, 1)) - 1)))
        |      * 1099511628211) % 18446744073709551616 AS HUGEINT),
        |    ((st.pos + 1) - (CASE WHEN st.cut THEN st.pos + 1
        |         ELSE st.strt END) + 1 >= 16
        |     AND CAST(((CASE WHEN st.cut THEN 0 ELSE st.gh END) * 2
        |         + g.x) % 18446744073709551616 AS HUGEINT) % 64 = 0)
        |    OR (st.pos + 1) - (CASE WHEN st.cut THEN st.pos + 1
        |         ELSE st.strt END) + 1 >= 256
        |  FROM step st
        |  JOIN docs d ON d.doc_id = st.doc_id
        |  JOIN gear g ON g.i =
        |      (strpos('0123456789ABCDEF',
        |         substring(d.hx, 2 * (st.pos + 1) + 1, 1)) - 1) * 16
        |    + (strpos('0123456789ABCDEF',
        |         substring(d.hx, 2 * (st.pos + 1) + 2, 1)) - 1)
        |  WHERE 2 * (st.pos + 1) + 2 <= length(d.hx)),
        |chunks AS (
        |  SELECT doc_id, strt AS off, pos - strt + 1 AS len, fh
        |  FROM step WHERE cut
        |  UNION ALL
        |  SELECT doc_id, strt, pos - strt + 1, fh
        |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |          ORDER BY pos DESC) AS rn FROM step)
        |  WHERE rn = 1 AND NOT cut),
        |ch AS (
        |  SELECT c.doc_id, d.format, c.off, c.len,
        |    CAST(CASE WHEN c.fh >= 9223372036854775808
        |      THEN c.fh - 18446744073709551616 ELSE c.fh END AS BIGINT)
        |      AS hash
        |  FROM chunks c JOIN docs d USING (doc_id)),
        |dec AS (SELECT *, row_number() OVER (
        |    PARTITION BY format, hash, len ORDER BY doc_id, off) AS rn
        |  FROM ch)
        |SELECT doc_id, format, CAST(off AS BIGINT) AS off,
        |  CAST(len AS BIGINT) AS len, hash, rn = 1 AS stored,
        |  CAST(CASE WHEN rn = 1 THEN len ELSE 0 END AS BIGINT)
        |    AS bytes_written
        |FROM dec""",
    "m10_cas_savings" ->
      """WITH g AS (SELECT source AS format, md5(text) AS h,
        |    octet_length(encode(text)) AS n_bytes, count(*) AS cnt
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT format, CAST(sum(cnt) AS BIGINT) AS n_assets,
        |  CAST(count(*) AS BIGINT) AS n_unique,
        |  CAST(sum(cnt * CAST(n_bytes AS BIGINT)) AS BIGINT)
        |    AS bytes_total,
        |  CAST(sum((cnt - 1) * CAST(n_bytes AS BIGINT)) AS BIGINT)
        |    AS bytes_saved,
        |  CAST(sum(cnt) - count(*) AS BIGINT) AS dup_assets
        |FROM g GROUP BY 1""",
    // v2: the same five rules re-evaluated per row; DuckDB builds the
    // sorted reason list with list_sort + list_filter and flattens it
    // to the same comma-joined string contract as the engine
    "v2_quarantine" ->
      """SELECT l.l_orderkey, l.l_linenumber,
        |  array_to_string(list_sort(list_transform(list_filter([
        |    {'name': 'quantity_out_of_range',
        |     'bad': l.l_quantity < 1 OR l.l_quantity > 50},
        |    {'name': 'discount_out_of_range',
        |     'bad': l.l_discount < 0 OR l.l_discount > 0.1},
        |    {'name': 'shipdate_null', 'bad': l.l_shipdate IS NULL},
        |    {'name': 'orphan_orderkey', 'bad': o.o_orderkey IS NULL},
        |    {'name': 'review_high_discount',
        |     'bad': l.l_discount >= 0.09}],
        |    x -> x.bad), x -> x.name)), ',') AS reasons
        |FROM lineitem l LEFT JOIN orders o
        |  ON l.l_orderkey = o.o_orderkey
        |WHERE len(list_filter([
        |    l.l_quantity < 1 OR l.l_quantity > 50,
        |    l.l_discount < 0 OR l.l_discount > 0.1,
        |    l.l_shipdate IS NULL, o.o_orderkey IS NULL,
        |    l.l_discount >= 0.09], x -> x)) > 0""",
    // v3: QI group sizes + k=10 verdict, integer shares
    "v3_kanonymity" ->
      """WITH g AS (SELECT c_mktsegment, c_nationkey,
        |    count(*) AS group_n FROM customer GROUP BY 1, 2),
        |t AS (SELECT sum(group_n) AS n_total FROM g)
        |SELECT c_mktsegment, c_nationkey,
        |  CAST(group_n AS BIGINT) AS group_n,
        |  group_n >= 10 AS meets_k,
        |  CAST(group_n * 1000000 // n_total AS BIGINT) AS share_ppm
        |FROM g CROSS JOIN t""",
    // v4: every FK edge re-audited with independent LEFT JOINs
    // v5: each candidate FD re-checked with the same
    // distinct-rhs-per-lhs derivation
    "v5_fd_audit" -> {
      def fdSql(name: String, tbl: String, lhs: String, rhs: String) =
        s"""SELECT '$name' AS fd, CAST(count(*) AS BIGINT) AS n_keys,
           |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violating_keys,
           |  CAST(max(nd) AS BIGINT) AS max_rhs_distinct,
           |  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
           |FROM (SELECT $lhs, count(DISTINCT $rhs) AS nd
           |  FROM $tbl GROUP BY 1) g"""
      Seq(
        fdSql("customer.name->nationkey", "customer",
          "c_name", "c_nationkey"),
        fdSql("customer.mktsegment->nationkey", "customer",
          "c_mktsegment", "c_nationkey"),
        fdSql("orders.custkey->orderpriority", "orders",
          "o_custkey", "o_orderpriority"),
        fdSql("customer.custkey->nationkey", "customer",
          "c_custkey", "c_nationkey"),
        fdSql("lineitem.partkey->suppkey", "lineitem",
          "l_partkey", "l_suppkey"),
        fdSql("nation.nationkey->regionkey", "nation",
          "n_nationkey", "n_regionkey"),
      ).mkString("", "\nUNION ALL ", "")
    },
    "v4_ref_integrity" ->
      """SELECT fk_edge, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_orphans AS BIGINT) AS n_orphans,
        |  n_orphans = 0 AS intact FROM (
        |SELECT 'lineitem.orderkey->orders' AS fk_edge, count(*) AS n_rows,
        |  sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS n_orphans
        |FROM lineitem c LEFT JOIN
        |  (SELECT DISTINCT o_orderkey AS k FROM orders) p
        |  ON c.l_orderkey = p.k
        |UNION ALL
        |SELECT 'lineitem.partkey->part', count(*),
        |  sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END)
        |FROM lineitem c LEFT JOIN
        |  (SELECT DISTINCT p_partkey AS k FROM part) p
        |  ON c.l_partkey = p.k
        |UNION ALL
        |SELECT 'lineitem.suppkey->supplier', count(*),
        |  sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END)
        |FROM lineitem c LEFT JOIN
        |  (SELECT DISTINCT s_suppkey AS k FROM supplier) p
        |  ON c.l_suppkey = p.k
        |UNION ALL
        |SELECT 'orders.custkey->customer', count(*),
        |  sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END)
        |FROM orders c LEFT JOIN
        |  (SELECT DISTINCT c_custkey AS k FROM customer) p
        |  ON c.o_custkey = p.k
        |UNION ALL
        |SELECT 'customer.nationkey->nation', count(*),
        |  sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END)
        |FROM customer c LEFT JOIN
        |  (SELECT DISTINCT n_nationkey AS k FROM nation) p
        |  ON c.c_nationkey = p.k
        |UNION ALL
        |SELECT 'supplier.nationkey->nation', count(*),
        |  sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END)
        |FROM supplier c LEFT JOIN
        |  (SELECT DISTINCT n_nationkey AS k FROM nation) p
        |  ON c.s_nationkey = p.k
        |UNION ALL
        |SELECT 'nation.regionkey->region', count(*),
        |  sum(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END)
        |FROM nation c LEFT JOIN
        |  (SELECT DISTINCT r_regionkey AS k FROM region) p
        |  ON c.n_regionkey = p.k)""",
    // e22: exact different-label top-5 recomputed in SQL (id-only
    // output, cand_id tie-break — the e1 float discipline)
    "e22_hard_negatives" -> {
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
         |    label AS ql FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS cand_id, embedding AS cv, label AS cl
         |  FROM embeddings),
         |sims AS (SELECT query_id, cand_id,
         |    ${cosSql("qv", "cv")} AS cosine
         |  FROM q CROSS JOIN c WHERE ql <> cl)
         |SELECT query_id, cand_id, rnk FROM (
         |  SELECT query_id, cand_id, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, cand_id)
         |    AS INTEGER) AS rnk
         |  FROM sims) WHERE rnk <= 5"""
    },
    // w30: the LTV triangle re-derived directly
    "w30_ltv_triangle" ->
      """WITH p AS (SELECT user_id,
        |    epoch_us(ts) // 604800000000 AS week,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |ch AS (SELECT user_id, min(week) AS cw FROM p GROUP BY 1),
        |sz AS (SELECT cw, count(*) AS n_users FROM ch GROUP BY 1),
        |tri AS (SELECT ch.cw, p.week - ch.cw AS age,
        |    count(DISTINCT p.user_id) AS n_buyers, sum(p.cents) AS cents
        |  FROM p JOIN ch USING (user_id) GROUP BY 1, 2)
        |SELECT tri.cw AS cohort_week, tri.age,
        |  CAST(sz.n_users AS BIGINT) AS n_users,
        |  CAST(tri.n_buyers AS BIGINT) AS n_buyers,
        |  CAST(tri.cents AS BIGINT) AS cents,
        |  CAST(sum(tri.cents) OVER (PARTITION BY tri.cw
        |    ORDER BY tri.age ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS cum_cents
        |FROM tri JOIN sz USING (cw)""",
    // j18: the oracle runs the ACTUAL point-in-interval join against
    // the non-purchase SCD2 versions (independent algorithm vs the
    // engine's merge-and-forward-fill)
    "j18_temporal_lookup" ->
      """WITH s AS (SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events WHERE event_type <> 'purchase'),
        |c AS (SELECT *, sum(CASE WHEN prev IS NULL
        |      OR prev <> event_type THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS version FROM s),
        |g AS (SELECT user_id, event_type AS attr_value, version,
        |    min(epoch_us(ts)) AS valid_from_us
        |  FROM c GROUP BY 1, 2, 3),
        |v AS (SELECT user_id, attr_value,
        |    CAST(version AS INT) AS version, valid_from_us,
        |    lead(valid_from_us) OVER (PARTITION BY user_id
        |      ORDER BY version) AS valid_to_us
        |  FROM g),
        |p AS (SELECT event_id, user_id, epoch_us(ts) AS t
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.t, v.attr_value, v.version
        |FROM p LEFT JOIN v ON v.user_id = p.user_id
        |  AND v.valid_from_us <= p.t
        |  AND (v.valid_to_us IS NULL OR p.t < v.valid_to_us)""",
    // w29: sessionize (w8 CTEs) → ordered string_agg path → census
    "w29_top_paths" ->
      """WITH f AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
        |      THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_type, ts, event_id,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM f),
        |r AS (SELECT user_id, session_id, event_type,
        |    row_number() OVER (PARTITION BY user_id, session_id
        |      ORDER BY ts, event_id) AS rn FROM s),
        |p AS (SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM r WHERE rn <= 5 GROUP BY 1, 2),
        |pc AS (SELECT path, count(*) AS n_sessions FROM p GROUP BY 1),
        |rk AS (SELECT path, CAST(n_sessions AS BIGINT) AS n_sessions,
        |    CAST(row_number() OVER (ORDER BY n_sessions DESC, path)
        |      AS INTEGER) AS rnk FROM pc)
        |SELECT path, n_sessions, rnk FROM rk WHERE rnk <= 10""",
    // w28: the MAU-accounting ledger re-derived directly
    "w28_growth_accounting" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS week FROM events),
        |c AS (SELECT week, CASE WHEN prev IS NULL THEN 'new'
        |      WHEN prev = week - 1 THEN 'retained'
        |      ELSE 'resurrected' END AS cls
        |  FROM (SELECT week, lag(week) OVER (
        |      PARTITION BY user_id ORDER BY week) AS prev FROM uw)),
        |wk AS (SELECT week,
        |    sum(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS n_new,
        |    sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END)
        |      AS n_retained,
        |    sum(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
        |      AS n_resurrected,
        |    count(*) AS n_active
        |  FROM c GROUP BY 1)
        |SELECT a.week, CAST(a.n_active AS BIGINT) AS n_active,
        |  CAST(a.n_new AS BIGINT) AS n_new,
        |  CAST(a.n_retained AS BIGINT) AS n_retained,
        |  CAST(a.n_resurrected AS BIGINT) AS n_resurrected,
        |  CAST(coalesce(b.n_active, 0) - a.n_retained AS BIGINT)
        |    AS n_churned
        |FROM wk a LEFT JOIN wk b ON b.week = a.week - 1""",
    // a37: digit census + the same nine Benford ppm literals
    "a37_benford" ->
      """WITH d AS (SELECT CAST(substring(CAST(CAST(floor(
        |      o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1)
        |      AS INTEGER) AS digit FROM orders),
        |t AS (SELECT count(*) AS n FROM d),
        |b(digit, benford_ppm) AS (VALUES (1, 301029), (2, 176091),
        |  (3, 124938), (4, 96910), (5, 79181), (6, 66946), (7, 57991),
        |  (8, 51152), (9, 45757))
        |SELECT d.digit, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(*) * 1000000 // t.n AS BIGINT) AS share_ppm,
        |  CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
        |  CAST(abs(count(*) * 1000000 // t.n - b.benford_ppm)
        |    AS BIGINT) AS dev_ppm
        |FROM d JOIN b USING (digit) CROSS JOIN t
        |GROUP BY 1, t.n, b.benford_ppm""",
    // a36: sessions re-derived (w8 oracle CTEs), then a DIRECT single
    // sweep window vs Spark's two-level prefix sum — the hash match
    // proves two-level ≡ direct; same end-before-start tie rule
    "a36_peak_concurrency" ->
      """WITH f AS (SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
        |      THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM f),
        |sess AS (SELECT user_id, session_id, min(ts) AS t0,
        |    max(ts) AS t1 FROM s GROUP BY 1, 2),
        |deltas AS (SELECT epoch_us(t0) AS t, 1 AS delta FROM sess
        |  UNION ALL SELECT epoch_us(t1), -1 FROM sess),
        |g AS (SELECT t, delta, sum(delta) AS d FROM deltas
        |  GROUP BY 1, 2),
        |r AS (SELECT t, sum(d) OVER (ORDER BY t, delta
        |    ROWS UNBOUNDED PRECEDING) AS running FROM g),
        |sel AS (SELECT t, running, max(running) OVER () AS mr FROM r)
        |SELECT CAST(max(mr) AS BIGINT) AS peak_concurrency,
        |  CAST(min(CASE WHEN running = mr THEN t END) AS BIGINT)
        |    AS at_us,
        |  CAST((SELECT count(*) FROM sess) AS BIGINT) AS n_sessions
        |FROM sel""",
    // v1: every constraint re-counted directly in SQL
    "v1_expectations" ->
      """WITH lic AS (SELECT count(*) AS n,
        |    sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |      THEN 1 ELSE 0 END) AS v_qty,
        |    sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
        |      THEN 1 ELSE 0 END) AS v_disc,
        |    sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |      AS v_null,
        |    sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS v_orphan
        |  FROM lineitem l LEFT JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey),
        |oc AS (SELECT count(*) AS n,
        |    sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
        |      AS v_price,
        |    sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS v_ref
        |  FROM orders o LEFT JOIN customer c
        |    ON o.o_custkey = c.c_custkey),
        |uq AS (SELECT count(*) AS n,
        |    sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS v
        |  FROM (SELECT o_orderkey, count(*) AS cnt FROM orders
        |    GROUP BY 1)),
        |rep AS (
        |  SELECT 'lineitem.quantity_in_1_50' AS check_name,
        |    n AS n_checked, v_qty AS n_violations FROM lic
        |  UNION ALL SELECT 'lineitem.discount_in_0_0.1', n, v_disc
        |    FROM lic
        |  UNION ALL SELECT 'lineitem.shipdate_not_null', n, v_null
        |    FROM lic
        |  UNION ALL SELECT 'lineitem.orderkey_in_orders', n, v_orphan
        |    FROM lic
        |  UNION ALL SELECT 'orders.totalprice_positive', n, v_price
        |    FROM oc
        |  UNION ALL SELECT 'orders.custkey_in_customer', n, v_ref
        |    FROM oc
        |  UNION ALL SELECT 'orders.orderkey_unique', n, v FROM uq)
        |SELECT check_name, CAST(n_checked AS BIGINT) AS n_checked,
        |  CAST(n_violations AS BIGINT) AS n_violations,
        |  n_violations = 0 AS passed
        |FROM rep""",
    // e21: list-health aggregation recomputed from the dumped
    // fixed-point assignment relation (the e-family dump gate)
    "e21_ood_audit" -> {
      val a = oprel("e21_assign")
      s"""WITH st AS (SELECT centroid_id, count(*) AS n_vecs,
         |    sum(sim_fp) // count(*) AS mean_sim_fp
         |  FROM $a GROUP BY 1)
         |SELECT a.centroid_id, CAST(st.n_vecs AS BIGINT) AS n_vecs,
         |  CAST(st.mean_sim_fp AS BIGINT) AS mean_sim_fp,
         |  CAST(sum(CASE WHEN a.sim_fp < st.mean_sim_fp - 200000
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_ood,
         |  CAST(min(a.sim_fp) AS BIGINT) AS worst_sim_fp
         |FROM $a a JOIN st USING (centroid_id)
         |GROUP BY 1, 2, 3"""
    },
    // s11: skyline re-derived as the naive all-pairs NOT EXISTS —
    // the independent-algorithm check for the grid reduction
    "s11_skyline" ->
      """WITH p AS (SELECT p_partkey, p_size,
        |    CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)
        |      AS price_cents FROM part)
        |SELECT a.p_partkey, a.p_size, a.price_cents
        |FROM p a WHERE NOT EXISTS (SELECT 1 FROM p b
        |  WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
        |    AND (b.price_cents < a.price_cents OR b.p_size > a.p_size))""",
    // g7: the same peel unrolled a fixed 10 rounds (g1 pattern) —
    // Spark proves fixpoint within its cap, so extra rounds are no-ops
    "g7_kcore" -> {
      // MATERIALIZED: each round references its predecessor 3× —
      // inlined CTEs would expand the base scan 3^10 times
      def peel(cur: String, prev: String) =
        s"""$cur AS MATERIALIZED (SELECT e.s_a, e.s_b FROM $prev e
           |  WHERE e.s_a IN (SELECT s_a FROM $prev
           |      GROUP BY 1 HAVING count(*) >= 3)
           |    AND e.s_b IN (SELECT s_a FROM $prev
           |      GROUP BY 1 HAVING count(*) >= 3))"""
      s"""WITH ps AS MATERIALIZED (SELECT DISTINCT l_partkey AS p,
         |    l_suppkey AS sup FROM lineitem),
         |pr AS MATERIALIZED (SELECT a.sup AS s_a, b.sup AS s_b
         |  FROM ps a JOIN ps b ON a.p = b.p AND a.sup < b.sup
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |a0 AS MATERIALIZED (SELECT s_a, s_b FROM pr
         |  UNION ALL SELECT s_b, s_a FROM pr),
         |${peel("a1", "a0")},
         |${peel("a2", "a1")},
         |${peel("a3", "a2")},
         |${peel("a4", "a3")},
         |${peel("a5", "a4")},
         |${peel("a6", "a5")},
         |${peel("a7", "a6")},
         |${peel("a8", "a7")},
         |${peel("a9", "a8")},
         |${peel("a10", "a9")}
         |SELECT s_a AS supplier, CAST(count(*) AS BIGINT) AS core_deg
         |FROM a10 GROUP BY 1"""
    },
    // a34: the EWMA recurrence re-derived via recursive CTE (row-at-a-
    // time), vs Spark's higher-order aggregate fold — same truncating
    // integer division on both engines
    "a34_ewma" ->
      """WITH RECURSIVE daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT *, row_number() OVER (
        |    PARTITION BY event_type ORDER BY day) AS rn FROM daily),
        |r(event_type, rn, day, x, ewma) AS (
        |  SELECT event_type, rn, day, x, x FROM idx WHERE rn = 1
        |  UNION ALL
        |  SELECT i.event_type, i.rn, i.day, i.x,
        |    (i.x + 3 * r.ewma) // 4
        |  FROM r JOIN idx i ON i.event_type = r.event_type
        |    AND i.rn = r.rn + 1)
        |SELECT event_type, CAST(day AS BIGINT) AS day,
        |  CAST(x AS BIGINT) AS cents, CAST(ewma AS BIGINT) AS ewma_cents
        |FROM r""",
    // a35: oracle = the streaming replay's emissions read
    // verbatim; Spark side recomputes batch a34 — hash match proves
    // stream ≡ batch across micro-batch seams
    "a35_stream_ewma" ->
      s"""SELECT event_type, CAST(day AS BIGINT) AS day,
         |  CAST(cents AS BIGINT) AS cents,
         |  CAST(ewma_cents AS BIGINT) AS ewma_cents
         |FROM ${oprel("stream_ewma")}""",
    // a53: oracle = the streaming Page–Hinkley replay's
    // emissions read verbatim; Spark side recomputes the batch δ=0
    // prefix-window series — hash match proves stream ≡ batch drift
    // detection across micro-batch seams
    "a53_stream_ph" ->
      s"""SELECT event_type, CAST(day AS BIGINT) AS day,
         |  CAST(cents AS BIGINT) AS cents,
         |  CAST(m_micro AS BIGINT) AS m_micro,
         |  CAST(ph_micro AS BIGINT) AS ph_micro
         |FROM ${oprel("stream_ph")}""",
    // t57: clusters re-derived via recursive reachability, election
    // re-derived as max-chars-then-min-id (explicit tie semantics)
    "t57_survivorship" ->
      """WITH RECURSIVE tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM tok)),
        |  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |  ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      count(*) AS inter
        |    FROM sh a JOIN sh b
        |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2),
        |  pairs AS (SELECT doc_a, doc_b FROM ix
        |    JOIN sizes sa ON doc_a = sa.doc_id
        |    JOIN sizes sb ON doc_b = sb.doc_id
        |    WHERE CAST(inter AS DOUBLE)
        |      / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5),
        |  ed AS (SELECT doc_a, doc_b FROM pairs
        |    UNION ALL SELECT doc_b, doc_a FROM pairs),
        |  reach(doc_id, comp) AS (
        |    SELECT doc_id, doc_id FROM documents
        |    UNION
        |    SELECT e.doc_a, r.comp FROM ed e
        |    JOIN reach r ON e.doc_b = r.doc_id),
        |  lab AS (SELECT doc_id, min(comp) AS comp FROM reach
        |    GROUP BY doc_id),
        |  j AS (SELECT l.comp, dd.doc_id, dd.n_chars FROM lab l
        |    JOIN documents dd USING (doc_id)),
        |  mx AS (SELECT comp, max(n_chars) AS mc FROM j GROUP BY 1)
        |SELECT j.comp, CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(min(CASE WHEN j.n_chars = mx.mc THEN j.doc_id END)
        |    AS BIGINT) AS survivor_id,
        |  CAST(max(j.n_chars) AS BIGINT) AS survivor_chars,
        |  CAST(count(*) - 1 AS BIGINT) AS n_dropped,
        |  CAST(sum(j.n_chars) AS BIGINT) AS total_chars
        |FROM j JOIN mx USING (comp) GROUP BY 1""",
    // a31: rank-weighted gini re-derived on the distinct-value grid;
    // HUGEINT products mirror the Spark DECIMAL(38,0) path
    "a31_gini" ->
      """WITH spend AS (SELECT o_custkey,
        |    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |seg AS (SELECT c_mktsegment, cents FROM spend
        |  JOIN customer ON c_custkey = o_custkey),
        |vc AS (SELECT c_mktsegment, cents, count(*) AS cnt
        |  FROM seg GROUP BY 1, 2),
        |cum AS (SELECT *, coalesce(sum(cnt) OVER (
        |    PARTITION BY c_mktsegment ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS cum_prev FROM vc),
        |tot AS (SELECT c_mktsegment, sum(cnt) AS n, sum(cnt * cents) AS s
        |  FROM vc GROUP BY 1)
        |SELECT c.c_mktsegment, CAST(t.n AS BIGINT) AS n_customers,
        |  CAST(t.s AS BIGINT) AS total_cents,
        |  CAST((sum(CAST(c.cents AS HUGEINT) *
        |      (2 * c.cum_prev * c.cnt + c.cnt * (c.cnt + 1))) -
        |    CAST(t.n + 1 AS HUGEINT) * t.s) * 1000000 //
        |    (CAST(t.n AS HUGEINT) * t.s) AS BIGINT) AS gini_ppm
        |FROM cum c JOIN tot t USING (c_mktsegment)
        |GROUP BY 1, t.n, t.s""",
    // a32: cross-multiplied KS cumsums on the distinct cents grid
    "a32_ks_drift" ->
      """WITH e AS (SELECT event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |vc AS (SELECT cents,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS c1,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c2
        |  FROM e GROUP BY 1),
        |tot AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM vc),
        |d AS (SELECT cents,
        |    abs(CAST(sum(c1) OVER w AS HUGEINT) * n2 -
        |        CAST(sum(c2) OVER w AS HUGEINT) * n1) AS diff, n1, n2
        |  FROM vc, tot
        |  WINDOW w AS (ORDER BY cents
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |mx AS (SELECT max(diff) AS mdiff FROM d)
        |SELECT CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT)
        |    AS n2,
        |  CAST(max(diff) * 1000000 //
        |    (CAST(max(n1) AS HUGEINT) * max(n2)) AS BIGINT) AS d_ppm,
        |  CAST(min(cents) AS BIGINT) AS at_cents
        |FROM d JOIN mx ON d.diff = mx.mdiff""",
    // a33: division-free CUSUM peak, earliest-day tie-break
    "a33_cusum" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, count(*) AS nd, sum(x) AS s
        |  FROM daily GROUP BY 1),
        |cu AS (SELECT event_type, day, nd,
        |    sum(CAST(x AS HUGEINT) * nd - s) OVER (
        |      PARTITION BY event_type ORDER BY day) AS cusum
        |  FROM daily JOIN tot USING (event_type)),
        |sel AS (SELECT event_type, day, nd, abs(cusum) AS a,
        |    max(abs(cusum)) OVER (PARTITION BY event_type) AS mx
        |  FROM cu)
        |SELECT event_type, CAST(max(nd) AS BIGINT) AS n_days,
        |  CAST(max(mx) AS BIGINT) AS max_abs_cusum,
        |  CAST(min(CASE WHEN a = mx THEN day END) AS BIGINT)
        |    AS change_day
        |FROM sel GROUP BY 1""",
    // w26: weekly rollup + LAG; // truncates toward zero like div
    "w26_wow_change" ->
      """WITH wk AS (SELECT event_type,
        |    epoch_us(ts) // 604800000000 AS week,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |lg AS (SELECT event_type, week, n_events, cents,
        |    lag(cents, 1) OVER (PARTITION BY event_type ORDER BY week)
        |      AS prev FROM wk)
        |SELECT event_type, CAST(week AS BIGINT) AS week,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  CAST(cents AS BIGINT) AS cents,
        |  CAST((CAST(cents AS HUGEINT) - prev) * 1000000 // prev
        |    AS BIGINT) AS wow_ppm
        |FROM lg WHERE prev IS NOT NULL""",
    // a30: same two-pass suppression math, direct re-derivation
    "a30_kanon_rollup" ->
      """WITH g AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS n,
        |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2)
        |SELECT CASE WHEN n >= 20 THEN event_type
        |    ELSE 'suppressed' END AS event_type,
        |  day, CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM g GROUP BY 1, 2""",
    // w25: the bounded-window lower median re-derived with DuckDB's
    // quantile_disc window (same element — convention verified)
    "w25_sliding_median" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase')
        |SELECT event_id, user_id,
        |  CAST(count(cents) OVER w AS INTEGER) AS n_win,
        |  quantile_disc(cents, 0.5) OVER w AS med_cents
        |FROM p
        |WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
        |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""",
    // t56: datasheet re-derived directly; md5 hex identical on both
    // engines, integer ppm floor division
    "t56_datasheet" ->
      """WITH b AS (SELECT lang, source,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |    n_chars, md5(text) AS th FROM documents),
        |sl AS (SELECT lang, source, count(*) AS n_docs,
        |    sum(n_tokens) AS n_tokens, sum(n_chars) AS total_chars,
        |    count(DISTINCT th) AS n_distinct FROM b GROUP BY 1, 2),
        |t AS (SELECT count(*) AS n_total FROM documents)
        |SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(total_chars AS BIGINT) AS total_chars,
        |  CAST((n_docs - n_distinct) * 1000000 // n_docs AS BIGINT)
        |    AS dup_ppm,
        |  CAST(n_docs * 1000000 // n_total AS BIGINT) AS share_ppm
        |FROM sl, t""",
    // l3: the l1 Morton ladder + the natural-grain envelopes, same
    // probe, skip rates compared — all integer bucket math
    "l3_layout_ab" ->
      """WITH b0 AS (SELECT l_partkey, l_orderkey,
        |    l_partkey & 65535 AS x0, l_suppkey & 65535 AS y0
        |  FROM lineitem),
        |b1 AS (SELECT *, (x0 | (x0 << 8)) & 16711935 AS x1,
        |    (y0 | (y0 << 8)) & 16711935 AS y1 FROM b0),
        |b2 AS (SELECT *, (x1 | (x1 << 4)) & 252645135 AS x2,
        |    (y1 | (y1 << 4)) & 252645135 AS y2 FROM b1),
        |b3 AS (SELECT *, (x2 | (x2 << 2)) & 858993459 AS x3,
        |    (y2 | (y2 << 2)) & 858993459 AS y3 FROM b2),
        |b4 AS (SELECT *, (x3 | (x3 << 1)) & 1431655765 AS x4,
        |    (y3 | (y3 << 1)) & 1431655765 AS y4 FROM b3),
        |z AS (SELECT l_partkey,
        |    (x4 | (y4 << 1)) // 16384 AS bucket FROM b4),
        |za AS (SELECT 'zorder' AS layout, count(*) AS n_buckets,
        |    sum(CASE WHEN xp < 500 OR mp > 599 THEN 1 ELSE 0 END)
        |      AS n_skipped
        |  FROM (SELECT bucket, min(l_partkey) AS mp,
        |      max(l_partkey) AS xp FROM z GROUP BY 1)),
        |na AS (SELECT 'natural' AS layout, count(*) AS n_buckets,
        |    sum(CASE WHEN xp < 500 OR mp > 599 THEN 1 ELSE 0 END)
        |      AS n_skipped
        |  FROM (SELECT l_orderkey // 2048 AS bucket,
        |      min(l_partkey) AS mp, max(l_partkey) AS xp
        |    FROM lineitem GROUP BY 1)),
        |u AS (SELECT * FROM za UNION ALL SELECT * FROM na)
        |SELECT layout, CAST(n_buckets AS BIGINT) AS n_buckets,
        |  CAST(n_skipped AS BIGINT) AS n_skipped,
        |  CAST(n_skipped * 1000000 // n_buckets AS BIGINT) AS skip_ppm
        |FROM u""",
    // l4: same Morton ladder, envelope-width accounting per layout
    "l4_cluster_depth" ->
      """WITH b0 AS (SELECT l_partkey, l_orderkey,
        |    l_partkey & 65535 AS x0, l_suppkey & 65535 AS y0
        |  FROM lineitem),
        |b1 AS (SELECT *, (x0 | (x0 << 8)) & 16711935 AS x1,
        |    (y0 | (y0 << 8)) & 16711935 AS y1 FROM b0),
        |b2 AS (SELECT *, (x1 | (x1 << 4)) & 252645135 AS x2,
        |    (y1 | (y1 << 4)) & 252645135 AS y2 FROM b1),
        |b3 AS (SELECT *, (x2 | (x2 << 2)) & 858993459 AS x3,
        |    (y2 | (y2 << 2)) & 858993459 AS y3 FROM b2),
        |b4 AS (SELECT *, (x3 | (x3 << 1)) & 1431655765 AS x4,
        |    (y3 | (y3 << 1)) & 1431655765 AS y4 FROM b3),
        |dom AS (SELECT max(l_partkey) - min(l_partkey) + 1
        |    AS key_domain FROM lineitem),
        |z AS (SELECT l_partkey,
        |    (x4 | (y4 << 1)) // 16384 AS bucket FROM b4),
        |za AS (SELECT 'zorder' AS layout, count(*) AS n_buckets,
        |    sum(xp - mp + 1) AS total_width
        |  FROM (SELECT bucket, min(l_partkey) AS mp,
        |      max(l_partkey) AS xp FROM z GROUP BY 1)),
        |na AS (SELECT 'natural' AS layout, count(*) AS n_buckets,
        |    sum(xp - mp + 1) AS total_width
        |  FROM (SELECT l_orderkey // 2048 AS bucket,
        |      min(l_partkey) AS mp, max(l_partkey) AS xp
        |    FROM lineitem GROUP BY 1)),
        |u AS (SELECT * FROM za UNION ALL SELECT * FROM na)
        |SELECT layout, CAST(n_buckets AS BIGINT) AS n_buckets,
        |  CAST(total_width AS BIGINT) AS total_width,
        |  CAST(key_domain AS BIGINT) AS key_domain,
        |  CAST(total_width * 1000 // key_domain AS BIGINT)
        |    AS depth_milli
        |FROM u CROSS JOIN dom""",
    // l6: the full 16-level Hilbert rotate/reflect chain re-derived as
    // generated CTE steps (identical integer CASE arithmetic), plus
    // l4's Morton spread chain for the z side
    "l6_hilbert_ab" -> {
      val levels = (0 until 16).map { i =>
        val s = 32768L >> i
        s"""h${i + 1} AS (SELECT l_partkey, l_suppkey,
           |  d + ${s * s} * (CASE WHEN (x & $s) > 0
           |    THEN (CASE WHEN (y & $s) > 0 THEN 2 ELSE 3 END)
           |    ELSE (CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) END)
           |    AS d,
           |  CASE WHEN (y & $s) = 0 AND (x & $s) > 0 THEN 65535 - y
           |       WHEN (y & $s) = 0 THEN y ELSE x END AS x,
           |  CASE WHEN (y & $s) = 0 AND (x & $s) > 0 THEN 65535 - x
           |       WHEN (y & $s) = 0 THEN x ELSE y END AS y
           |FROM h$i)"""
      }.mkString(",\n")
      s"""WITH h0 AS (SELECT l_partkey, l_suppkey,
         |    l_partkey & 65535 AS x,
         |    l_suppkey & 65535 AS y, CAST(0 AS BIGINT) AS d
         |  FROM lineitem),
         |$levels,
         |b0 AS (SELECT l_partkey, l_suppkey,
         |    l_partkey & 65535 AS x0, l_suppkey & 65535 AS y0
         |  FROM lineitem),
         |b1 AS (SELECT *, (x0 | (x0 << 8)) & 16711935 AS x1,
         |    (y0 | (y0 << 8)) & 16711935 AS y1 FROM b0),
         |b2 AS (SELECT *, (x1 | (x1 << 4)) & 252645135 AS x2,
         |    (y1 | (y1 << 4)) & 252645135 AS y2 FROM b1),
         |b3 AS (SELECT *, (x2 | (x2 << 2)) & 858993459 AS x3,
         |    (y2 | (y2 << 2)) & 858993459 AS y3 FROM b2),
         |b4 AS (SELECT *, (x3 | (x3 << 1)) & 1431655765 AS x4,
         |    (y3 | (y3 << 1)) & 1431655765 AS y4 FROM b3),
         |dom AS (SELECT max(l_partkey) - min(l_partkey) + 1
         |    AS part_domain,
         |  max(l_suppkey) - min(l_suppkey) + 1 AS supp_domain
         |  FROM lineitem),
         |hb AS (SELECT l_partkey, l_suppkey, d // 4096 AS bucket
         |  FROM h16),
         |ha AS (SELECT 'hilbert' AS layout, count(*) AS n_buckets,
         |    sum(xp - mp + 1) AS width_part,
         |    sum(xs - ms + 1) AS width_supp
         |  FROM (SELECT bucket, min(l_partkey) AS mp,
         |      max(l_partkey) AS xp, min(l_suppkey) AS ms,
         |      max(l_suppkey) AS xs FROM hb GROUP BY 1)),
         |zb AS (SELECT l_partkey, l_suppkey,
         |    (x4 | (y4 << 1)) // 4096 AS bucket FROM b4),
         |za AS (SELECT 'zorder' AS layout, count(*) AS n_buckets,
         |    sum(xp - mp + 1) AS width_part,
         |    sum(xs - ms + 1) AS width_supp
         |  FROM (SELECT bucket, min(l_partkey) AS mp,
         |      max(l_partkey) AS xp, min(l_suppkey) AS ms,
         |      max(l_suppkey) AS xs FROM zb GROUP BY 1)),
         |hrc AS (SELECT DISTINCT d AS v FROM h16
         |  WHERE l_partkey BETWEEN 50 AND 149
         |    AND l_suppkey BETWEEN 2 AND 7),
         |hrl AS (SELECT v, lag(v) OVER (ORDER BY v) AS pv FROM hrc),
         |hr AS (SELECT 'hilbert' AS layout, count(*) AS n_cells,
         |  CASE WHEN count(*) = 0 THEN 0 ELSE 1 +
         |    sum(CASE WHEN v - pv > 1 THEN 1 ELSE 0 END) END AS n_runs
         |  FROM hrl),
         |zrc AS (SELECT DISTINCT (x4 | (y4 << 1)) AS v FROM b4
         |  WHERE l_partkey BETWEEN 50 AND 149
         |    AND l_suppkey BETWEEN 2 AND 7),
         |zrl AS (SELECT v, lag(v) OVER (ORDER BY v) AS pv FROM zrc),
         |zr AS (SELECT 'zorder' AS layout, count(*) AS n_cells,
         |  CASE WHEN count(*) = 0 THEN 0 ELSE 1 +
         |    sum(CASE WHEN v - pv > 1 THEN 1 ELSE 0 END) END AS n_runs
         |  FROM zrl),
         |u AS (SELECT * FROM ha UNION ALL SELECT * FROM za),
         |r AS (SELECT * FROM hr UNION ALL SELECT * FROM zr)
         |SELECT layout, CAST(n_buckets AS BIGINT) AS n_buckets,
         |  CAST(width_part AS BIGINT) AS width_part,
         |  CAST(width_supp AS BIGINT) AS width_supp,
         |  CAST(part_domain AS BIGINT) AS part_domain,
         |  CAST(supp_domain AS BIGINT) AS supp_domain,
         |  CAST(width_part * 1000 // part_domain AS BIGINT)
         |    AS depth_part_milli,
         |  CAST(width_supp * 1000 // supp_domain AS BIGINT)
         |    AS depth_supp_milli,
         |  CAST(n_cells AS BIGINT) AS n_cells,
         |  CAST(n_runs AS BIGINT) AS n_runs
         |FROM u JOIN r USING (layout) CROSS JOIN dom"""
    },
    // l5: the SAME join over the RAW parquet — values are
    // layout-independent; the exchange-free plan shape is pinned by
    // the committed signature, not the oracle
    "l5_bucketed_join" ->
      """SELECT o.o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5)
        |    AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""",
    // j15: nearest-asof re-derived INDEPENDENTLY as the tolerance-
    // bounded pair join + one global candidate ranking (abs distance,
    // backward-first, id desc) vs Spark's two window passes
    "j15_asof_nearest" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t
        |  FROM events),
        |o AS (SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) AS ot
        |  FROM orders),
        |cand AS (SELECT e.event_id, o.o_orderkey,
        |    CASE WHEN o.ot <= e.t THEN e.t - o.ot ELSE o.ot - e.t END
        |      AS adt,
        |    CASE WHEN o.ot <= e.t THEN 0 ELSE 1 END AS fwd,
        |    row_number() OVER (PARTITION BY e.event_id ORDER BY
        |      (CASE WHEN o.ot <= e.t THEN e.t - o.ot
        |        ELSE o.ot - e.t END),
        |      (CASE WHEN o.ot <= e.t THEN 0 ELSE 1 END),
        |      o.o_orderkey DESC) AS rn
        |  FROM ev e JOIN o ON o.o_custkey = e.user_id
        |    AND o.ot BETWEEN e.t - 2592000000000
        |      AND e.t + 2592000000000),
        |best AS (SELECT * FROM cand WHERE rn = 1)
        |SELECT e.event_id, e.user_id,
        |  b.o_orderkey AS nearest_orderkey,
        |  COALESCE(b.adt, -1) AS dt_us,
        |  CASE WHEN b.o_orderkey IS NULL THEN 'none'
        |    WHEN b.fwd = 1 THEN 'forward'
        |    ELSE 'backward' END AS matched
        |FROM ev e LEFT JOIN best b ON e.event_id = b.event_id""",
    // t53: scores re-derived from the t21 model dump; the selection
    // re-derived with ONE direct quality-ordered window — proving
    // Spark's two-level (bucket subtotal + per-bucket refinement)
    // prefix sum ≡ the direct one
    "t53_token_budget" ->
      s"""WITH terms AS (SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM documents),
         |m AS (SELECT * FROM ${oprel("t21_model")}),
         |sc AS (SELECT doc_id, count(*) AS n_tokens,
         |    CAST(floor(CAST(sum(logp) AS DOUBLE)
         |      / CAST(count(*) AS DOUBLE) * 1000000) AS BIGINT) AS score
         |  FROM terms JOIN m USING (term) GROUP BY doc_id),
         |b AS (SELECT sum(n_tokens) // 2 AS budget FROM sc),
         |o AS (SELECT doc_id, score, n_tokens,
         |    COALESCE(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS sel_offset
         |  FROM sc)
         |SELECT doc_id, score, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(sel_offset AS BIGINT) AS sel_offset,
         |  sel_offset < budget AS kept
         |FROM o CROSS JOIN b""",
    // a28: the trim re-derived with a direct row_number ranking —
    // tie order inside a value group cannot change the kept multiset
    "a28_trimmed_mean" ->
      """WITH li AS (SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem),
        |r AS (SELECT l_returnflag, cents,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM li),
        |kept AS (SELECT * FROM r
        |  WHERE rn > n * 5 // 100 AND rn <= n - n * 5 // 100)
        |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
        |  CAST(max(n * 5 // 100) AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(cents) AS BIGINT) AS sum_kept_cents,
        |  min(cents) AS lo_kept, max(cents) AS hi_kept,
        |  CAST(sum(cents) * 1000000 // count(*) AS BIGINT)
        |    AS mean_kept_micros
        |FROM kept GROUP BY 1""",
    // m8: the m6 pair derivation (banding + hamming over the sig
    // dump) closed by recursive-SQL reachability — an independent
    // algorithm vs Spark's min-label propagation (t17/g2 discipline)
    "m8_asset_clusters" ->
      s"""WITH RECURSIVE s AS (SELECT doc_id, sh
         |    FROM ${oprel("m6_sigs")}),
         |ch AS (SELECT doc_id, sh, c, (sh >> (c * 12)) & 4095 AS ckey
         |  FROM s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) t),
         |p AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM ch x JOIN ch y
         |  ON x.c = y.c AND x.ckey = y.ckey AND x.doc_id < y.doc_id
         |  WHERE bit_count(xor(x.sh, y.sh)) <= 12),
         |ed AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
         |nodes AS (SELECT DISTINCT a AS n FROM ed),
         |reach(n, comp) AS (
         |    SELECT n, n FROM nodes
         |    UNION
         |    SELECT e.a, r.comp FROM ed e JOIN reach r ON e.b = r.n),
         |lab AS (SELECT n, min(comp) AS comp FROM reach GROUP BY 1)
         |SELECT comp, CAST(count(*) AS BIGINT) AS n_assets,
         |  min(n) AS keep_id
         |FROM lab GROUP BY 1""",
    // w23: stream≡batch attribution parity — the oracle reads the
    // streaming replay's per-conversion emissions; Spark recomputes
    // the batch window-max detail
    "w23_stream_attribution" ->
      s"""SELECT conv_id, user_id, channel, cents, lag_us
         |FROM ${oprel("stream_attrib")}""",
    // a27: the quantized decay table is read from the Spark dump (pow
    // computed once); the oracle re-derives ages + exact decimal sums
    "a27_decayed_engagement" ->
      s"""WITH ev AS (SELECT user_id,
         |    epoch_us(ts) // 86400000000 AS day,
         |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events),
         |a AS (SELECT max(day) AS anchor FROM ev),
         |w AS (SELECT * FROM ${oprel("a27_decay")}),
         |j AS (SELECT user_id, cents, anchor - day AS age
         |  FROM ev CROSS JOIN a)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(CAST(sum(w.w) AS DECIMAL(38,9)) AS DOUBLE)
         |    AS decayed_count,
         |  CAST(CAST(sum(w.w * CAST(cents AS DECIMAL(12,0)))
         |    AS DECIMAL(38,9)) AS DOUBLE) AS decayed_cents
         |FROM j JOIN w ON j.age = w.age
         |GROUP BY user_id""",
    // s10: same distinct-value cumulative-rank decile formula — each
    // tie group binned by its first rank; integer-exact
    "s10_equidepth" ->
      """WITH vc AS (SELECT
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1),
        |c AS (SELECT cents, cnt,
        |    COALESCE(sum(cnt) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_prev,
        |    sum(cnt) OVER () AS n
        |  FROM vc)
        |SELECT CAST(cum_prev * 10 // n AS BIGINT) AS bin,
        |  CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  min(cents) AS lo_cents, max(cents) AS hi_cents
        |FROM c GROUP BY 1""",
    // sc8: same synth + canonicalization via list split/filter/rejoin
    // (no regex lookarounds — RE2 has none)
    "sc8_url_canonical" ->
      """WITH u AS (SELECT 'https://'
        |    || CASE WHEN event_id % 2 = 0 THEN 'CDN' ELSE 'cdn' END
        |    || CAST(user_id % 20 AS VARCHAR) || '.Example.COM'
        |    || '/item/' || CAST(event_id % 50 AS VARCHAR)
        |    || CASE WHEN event_id % 3 = 0 THEN '/' ELSE '' END
        |    || '?utm_source=news&sku=' || CAST(event_id % 7 AS VARCHAR)
        |    || '&utm_medium=' || CAST(event_id % 3 AS VARCHAR)
        |    || '&ref=' || CAST(user_id % 5 AS VARCHAR)
        |    || CASE WHEN event_id % 5 = 0
        |      THEN '#sec' || CAST(event_id % 4 AS VARCHAR)
        |      ELSE '' END AS url
        |  FROM events),
        |n AS (SELECT url, string_split(url, '#')[1] AS nofrag FROM u),
        |c AS (SELECT url,
        |    regexp_replace(lower(string_split(nofrag, '?')[1]), '/+$', '')
        |    || CASE WHEN q = '' THEN '' ELSE '?' || q END
        |      AS canonical_url
        |  FROM (SELECT url, nofrag,
        |      array_to_string(list_filter(
        |        string_split(string_split(nofrag, '?')[2], '&'),
        |        p -> NOT starts_with(p, 'utm_')), '&') AS q
        |    FROM n))
        |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_hits,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
        |  min(url) AS example_url
        |FROM c GROUP BY 1""",
    // j14: the same sweep re-derived with a single direct window —
    // delta collapse, running sum, peak + first peak time
    "j14_concurrency" ->
      """WITH iv AS (SELECT l_suppkey AS supp, epoch_us(l_shipdate) AS t0
        |  FROM lineitem),
        |pt AS (SELECT supp, t0 AS t, 1 AS delta FROM iv
        |  UNION ALL SELECT supp, t0 + 604800000000, -1 FROM iv),
        |ag AS (SELECT supp, t, sum(delta) AS delta FROM pt GROUP BY 1, 2),
        |sw AS (SELECT supp, t,
        |    sum(delta) OVER (PARTITION BY supp ORDER BY t) AS conc
        |  FROM ag),
        |mx AS (SELECT supp, max(conc) AS mc FROM sw GROUP BY 1),
        |ct AS (SELECT supp, count(*) AS n FROM iv GROUP BY 1)
        |SELECT s.supp, CAST(ct.n AS BIGINT) AS n_shipments,
        |  CAST(mx.mc AS BIGINT) AS max_concurrent,
        |  min(s.t) AS first_peak_us
        |FROM sw s JOIN mx ON s.supp = mx.supp AND s.conc = mx.mc
        |JOIN ct ON ct.supp = s.supp
        |GROUP BY 1, 2, 3""",
    // l2: the oracle re-derives the packing with a SINGLE direct
    // prefix-sum window — hash match proves Spark's two-level
    // (chunk-local + offset join) prefix sum ≡ the direct one
    "l2_compaction" ->
      """WITH d0 AS (SELECT source, doc_id,
        |    octet_length(encode(text)) AS bytes FROM documents),
        |c AS (SELECT source, doc_id, bytes,
        |    COALESCE(sum(bytes) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS prev
        |  FROM d0)
        |SELECT source, CAST(prev // 2048 AS BIGINT) AS file_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(bytes) AS BIGINT) AS bytes,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2""",
    // g4: full re-derivation — backbone top-k, degree keys, oriented
    // wedge join, EXISTS closure — all integer, bit-exact
    "g4_triangles" ->
      """WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sup
        |  FROM lineitem),
        |pr AS (SELECT a.sup AS s_a, b.sup AS s_b, count(*) AS n_shared
        |  FROM ps a JOIN ps b ON a.p = b.p AND a.sup < b.sup
        |  GROUP BY 1, 2),
        |ed AS (SELECT s_a, s_b FROM pr
        |  ORDER BY n_shared DESC, s_a, s_b LIMIT 2000),
        |nd AS (SELECT node, count(*) AS deg FROM (
        |    SELECT s_a AS node FROM ed
        |    UNION ALL SELECT s_b FROM ed) GROUP BY 1),
        |ky AS (SELECT node, deg * 1000000000000 + node AS k FROM nd),
        |ori AS (SELECT
        |    CASE WHEN ka.k < kb.k THEN e.s_a ELSE e.s_b END AS u,
        |    CASE WHEN ka.k < kb.k THEN e.s_b ELSE e.s_a END AS v,
        |    CASE WHEN ka.k < kb.k THEN kb.k ELSE ka.k END AS kv
        |  FROM ed e JOIN ky ka ON e.s_a = ka.node
        |  JOIN ky kb ON e.s_b = kb.node),
        |wg AS (SELECT e1.v AS v, e2.v AS w FROM ori e1 JOIN ori e2
        |  ON e1.u = e2.u AND e1.kv < e2.kv),
        |tri AS (SELECT count(*) AS n_triangles FROM wg
        |  WHERE EXISTS (SELECT 1 FROM ori o
        |    WHERE o.u = wg.v AND o.v = wg.w)),
        |tot AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT)
        |      AS n_wedges,
        |    CAST(count(*) AS BIGINT) AS n_nodes FROM nd)
        |SELECT tot.n_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ed) AS n_edges,
        |  tot.n_wedges, CAST(tri.n_triangles AS BIGINT) AS n_triangles,
        |  CAST(3 * tri.n_triangles * 1000000 // tot.n_wedges AS BIGINT)
        |    AS clustering_ppm
        |FROM tri CROSS JOIN tot""",
    // g9: g4's backbone/orientation CTEs, but the closure keeps the
    // wedge center and each triangle is exploded into its three
    // member nodes for the per-vertex census
    "g9_local_clustering" ->
      """WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sup
        |  FROM lineitem),
        |pr AS (SELECT a.sup AS s_a, b.sup AS s_b, count(*) AS n_shared
        |  FROM ps a JOIN ps b ON a.p = b.p AND a.sup < b.sup
        |  GROUP BY 1, 2),
        |ed AS (SELECT s_a, s_b FROM pr
        |  ORDER BY n_shared DESC, s_a, s_b LIMIT 2000),
        |nd AS (SELECT node, count(*) AS deg FROM (
        |    SELECT s_a AS node FROM ed
        |    UNION ALL SELECT s_b FROM ed) GROUP BY 1),
        |ky AS (SELECT node, deg * 1000000000000 + node AS k FROM nd),
        |ori AS (SELECT
        |    CASE WHEN ka.k < kb.k THEN e.s_a ELSE e.s_b END AS u,
        |    CASE WHEN ka.k < kb.k THEN e.s_b ELSE e.s_a END AS v,
        |    CASE WHEN ka.k < kb.k THEN kb.k ELSE ka.k END AS kv
        |  FROM ed e JOIN ky ka ON e.s_a = ka.node
        |  JOIN ky kb ON e.s_b = kb.node),
        |wg AS (SELECT e1.u AS u, e1.v AS v, e2.v AS w
        |  FROM ori e1 JOIN ori e2
        |  ON e1.u = e2.u AND e1.kv < e2.kv),
        |tr AS (SELECT u, v, w FROM wg
        |  WHERE EXISTS (SELECT 1 FROM ori o
        |    WHERE o.u = wg.v AND o.v = wg.w)),
        |tn AS (SELECT node, count(*) AS n_tri FROM (
        |    SELECT u AS node FROM tr UNION ALL SELECT v FROM tr
        |    UNION ALL SELECT w FROM tr) GROUP BY 1)
        |SELECT nd.node, CAST(nd.deg AS BIGINT) AS deg,
        |  CAST(coalesce(tn.n_tri, 0) AS BIGINT) AS n_tri,
        |  CAST(coalesce(tn.n_tri, 0) * 2000000
        |    // (nd.deg * (nd.deg - 1)) AS BIGINT) AS lcc_ppm
        |FROM nd LEFT JOIN tn ON nd.node = tn.node
        |WHERE nd.deg >= 2""",
    // t51: the quantized Stupid Backoff models are read from the Spark
    // dump (ln computed once); the oracle re-derives the held-out
    // split, pair explode, three-branch coalesce and decimal mean
    "t51_backoff_lm" ->
      s"""WITH b AS (SELECT doc_id, text,
         |    CAST(list_sum(list_transform(range(1, 7),
         |      i -> (strpos('0123456789abcdef',
         |        substr(md5(text), CAST(i AS INTEGER), 1)) - 1)
         |        * (16 ** (6 - i)))) AS BIGINT) % 100 AS bkt
         |  FROM documents),
         |ev AS (SELECT doc_id,
         |    regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
         |  FROM b WHERE bkt >= 90),
         |pr AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(tk)),
         |      i -> tk[CAST(i AS INTEGER)] || ' '
         |        || tk[CAST(i + 1 AS INTEGER)])) AS bigram,
         |    unnest(list_transform(range(1, len(tk)),
         |      i -> tk[CAST(i + 1 AS INTEGER)])) AS w2
         |  FROM ev WHERE len(tk) >= 2),
         |m2 AS (SELECT * FROM ${oprel("t51_bigram")}),
         |m1 AS (SELECT * FROM ${oprel("t51_unigram")}),
         |st AS (SELECT * FROM ${oprel("t51_stats")}),
         |sc AS (SELECT p.doc_id,
         |    COALESCE(m2.logp, m1.logp, st.oov_logp) AS lp,
         |    m2.logp IS NULL AS backed_off,
         |    m2.logp IS NULL AND m1.logp IS NULL AS oov
         |  FROM pr p
         |  LEFT JOIN m2 ON p.bigram = m2.bigram
         |  LEFT JOIN m1 ON p.w2 = m1.term
         |  CROSS JOIN st)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN backed_off THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_backoff,
         |  CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST(sum(lp) AS DOUBLE) / count(*) AS mean_logp
         |FROM sc GROUP BY doc_id""",
    // j12: stream≡batch CDC parity — latest snapshot emission per user
    // from the replay dump, final-op-D keys dropped, vs batch j11
    "j12_stream_cdc" ->
      s"""SELECT user_id, last_op, cur_event_type, cur_value_cents,
         |  last_ts_us, n_ops, n_deletes
         |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY seq DESC) AS rn
         |  FROM ${oprel("stream_cdc")})
         |WHERE rn = 1 AND last_op <> 'D'""",
    // j13: stream≡batch SCD2 parity — the replay dump's closed rows
    // vs batch j10's non-current rows
    "j13_stream_scd2" ->
      s"""SELECT user_id, attr_value, version, valid_from_us,
         |  valid_to_us, n_events
         |FROM ${oprel("stream_scd2")}""",
    // l1: Morton interleave via the shift/mask ladder — identical
    // integer ops both engines; bucket = z >> 14
    "l1_zorder" -> {
      s"""WITH b0 AS (SELECT l_partkey, l_suppkey,
         |    l_partkey & 65535 AS x0, l_suppkey & 65535 AS y0
         |  FROM lineitem),
         |b1 AS (SELECT *, (x0 | (x0 << 8)) & 16711935 AS x1,
         |    (y0 | (y0 << 8)) & 16711935 AS y1 FROM b0),
         |b2 AS (SELECT *, (x1 | (x1 << 4)) & 252645135 AS x2,
         |    (y1 | (y1 << 4)) & 252645135 AS y2 FROM b1),
         |b3 AS (SELECT *, (x2 | (x2 << 2)) & 858993459 AS x3,
         |    (y2 | (y2 << 2)) & 858993459 AS y3 FROM b2),
         |b4 AS (SELECT *, (x3 | (x3 << 1)) & 1431655765 AS x4,
         |    (y3 | (y3 << 1)) & 1431655765 AS y4 FROM b3),
         |z AS (SELECT l_partkey, l_suppkey,
         |    (x4 | (y4 << 1)) // 16384 AS bucket FROM b4),
         |g AS (SELECT bucket, count(*) AS n_rows,
         |    min(l_partkey) AS min_part, max(l_partkey) AS max_part,
         |    min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
         |  FROM z GROUP BY 1)
         |SELECT bucket, CAST(n_rows AS BIGINT) AS n_rows,
         |  min_part, max_part, min_supp, max_supp,
         |  max_part < 500 OR min_part > 599 AS skips_probe
         |FROM g"""
    },
    // t50: BM25 — idf read from the Spark dump (ln computed once);
    // tf/dl/scoring re-derived; rank on the 1e-6-rounded score
    "t50_bm25" ->
      s"""$t50Cte
         |SELECT q_id, CAST(rank AS INT) AS rank, doc_id, score,
         |  CAST(n_hit_terms AS BIGINT) AS n_hit_terms
         |FROM bm25rk WHERE rank <= 10""",
    // e19: append ≡ rebuild under a fixed coarse quantizer — the
    // oracle re-assigns the UNION corpus (base + re-keyed arrivals)
    // from scratch and must match the served append-only index
    "e19_ivf_incremental" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL SELECT vec_id + 1000000, embedding
         |  FROM embeddings WHERE vec_id % 5 = 0),
         |c AS (SELECT vec_id AS centroid_id, embedding AS cv
         |  FROM embeddings WHERE vec_id < 16),
         |sims AS (SELECT e.vec_id, e.embedding, c.centroid_id,
         |    ${cosSql("e.embedding", "c.cv")} AS sim
         |  FROM corpus e CROSS JOIN c),
         |assigned AS (SELECT vec_id, embedding, centroid_id FROM (
         |    SELECT vec_id, embedding, centroid_id,
         |      row_number() OVER (
         |        PARTITION BY vec_id ORDER BY sim DESC, centroid_id)
         |        AS rn
         |    FROM sims) WHERE rn = 1),
         |probes AS (SELECT query_id, q, centroid_id FROM (
         |    SELECT vec_id AS query_id, embedding AS q, centroid_id,
         |      row_number() OVER (
         |        PARTITION BY vec_id ORDER BY sim DESC, centroid_id)
         |        AS rn
         |    FROM sims WHERE vec_id < 10) WHERE rn <= 4),
         |scored AS (SELECT p.query_id, a.vec_id AS cand_id,
         |    ${cosSql("p.q", "a.embedding")} AS cosine
         |  FROM probes p JOIN assigned a USING (centroid_id)
         |  WHERE p.query_id <> a.vec_id)
         |SELECT query_id, cand_id, rnk FROM (
         |  SELECT query_id, cand_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
         |  FROM scored) WHERE rnk <= 5""",
    // t50b: serve-from-persisted-index must equal inline t50 — same
    // independent oracle re-derivation
    "t50b_bm25_serve" ->
      s"""$t50Cte
         |SELECT q_id, CAST(rank AS INT) AS rank, doc_id, score,
         |  CAST(n_hit_terms AS BIGINT) AS n_hit_terms
         |FROM bm25rk WHERE rank <= 10""",
    // e18: RRF fusion of the t50 lexical ranking and the e1 dense
    // ranking (query ids 0–4); contributions are fixed-point integers
    // so rank ties break identically
    "e18_hybrid_rrf" ->
      s"""$t50Cte,
         |lex AS (SELECT q_id, doc_id, CAST(rank AS INT) AS lex_rank
         |  FROM bm25rk WHERE rank <= 10),
         |dq AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 5),
         |dc AS (SELECT vec_id AS cand_id, embedding AS cv
         |  FROM embeddings),
         |dsims AS (SELECT query_id, cand_id,
         |    list_sum(list_transform(range(1, len(qv) + 1),
         |      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
         |    / (sqrt(list_sum(list_transform(range(1, len(qv) + 1),
         |        i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
         |      * sqrt(list_sum(list_transform(range(1, len(cv) + 1),
         |        i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))))
         |      AS cosine
         |  FROM dq CROSS JOIN dc WHERE query_id <> cand_id),
         |dense AS (SELECT query_id AS q_id, cand_id AS doc_id,
         |    CAST(rnk AS INT) AS dense_rank FROM (
         |  SELECT query_id, cand_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
         |  FROM dsims) WHERE rnk <= 5),
         |f AS (SELECT COALESCE(lex.q_id, dense.q_id) AS q_id,
         |    COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
         |    lex_rank, dense_rank
         |  FROM lex FULL OUTER JOIN dense
         |    ON lex.q_id = dense.q_id AND lex.doc_id = dense.doc_id),
         |r AS (SELECT *, CAST(
         |    COALESCE(1000000000 // (60 + lex_rank), 0)
         |    + COALESCE(1000000000 // (60 + dense_rank), 0) AS BIGINT)
         |      AS rrf_fp FROM f)
         |SELECT q_id, CAST(fused_rank AS INT) AS fused_rank, doc_id,
         |  rrf_fp, lex_rank, dense_rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY rrf_fp DESC, doc_id) AS fused_rank FROM r)
         |WHERE fused_rank <= 10""",
    // w20: per-user lag chain → event-type² transition matrix; the
    // per-source total re-derived with the same partition window
    "w20_transitions" ->
      """WITH r AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |tr AS (SELECT prev, event_type AS curr, count(*) AS n
        |  FROM r WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, curr, CAST(n AS BIGINT) AS n,
        |  CAST(sum(n) OVER (PARTITION BY prev) AS BIGINT) AS n_from,
        |  CAST(n AS DOUBLE)
        |    / CAST(sum(n) OVER (PARTITION BY prev) AS DOUBLE) AS p
        |FROM tr""",
    // w19: gaps-and-islands — consecutive-day runs via day - row_number()
    "w19_streaks" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |r AS (SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |      AS grp FROM ud),
        |g AS (SELECT user_id, grp, count(*) AS len FROM r GROUP BY 1, 2)
        |SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
        |  CAST(sum(len) AS BIGINT) AS n_active_days
        |FROM g GROUP BY 1""",
    // a25: lower weighted median over distinct integer cents — the
    // cumulative-weight window re-derived; all-integer gate on both sides
    "a25_weighted_median" ->
      """WITH vw AS (SELECT l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    sum(CAST(l_quantity AS BIGINT)) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, cents, w,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS wtot
        |  FROM vw)
        |SELECT l_returnflag, CAST(wtot AS BIGINT) AS wtot,
        |  CAST(cents AS DOUBLE) / 100 AS weighted_median_price
        |FROM c WHERE cum * 2 >= wtot AND (cum - w) * 2 < wtot""",
    // t49: the bloom prefilter is exactness-neutral (no false negatives;
    // FPs scrubbed by the confirm join) — the oracle is the plain
    // segment semi-join on segment TEXT (DuckDB has no xxhash64; equal
    // counts ⇔ hash collision-freedom, as in t18)
    "t49_incremental_dedup" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |seg AS (SELECT doc_id,
        |    array_to_string(tk[CAST(i * 10 + 1 AS INTEGER)
        |      :CAST(i * 10 + 10 AS INTEGER)], ' ') AS seg
        |  FROM t, LATERAL unnest(range(0,
        |    CAST(ceil(len(tk) / 10.0) AS INTEGER))) AS u(i)),
        |prior AS (SELECT DISTINCT seg FROM seg WHERE doc_id % 3 = 0),
        |inc AS (SELECT doc_id, count(*) AS n_segs,
        |    sum(CASE WHEN seg IN (SELECT seg FROM prior)
        |      THEN 1 ELSE 0 END) AS n_dup
        |  FROM seg WHERE doc_id % 3 != 0 GROUP BY 1)
        |SELECT doc_id, CAST(n_segs AS BIGINT) AS n_segs,
        |  CAST(n_dup AS BIGINT) AS n_prior_dup_segs,
        |  n_dup > 0 AS is_contaminated
        |FROM inc""",
    // t48: Gopher repetition rules — list-wise total-vs-distinct n-gram
    // counts; keep gate re-derived with the same integer cross-multiply
    "t48_repetition" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents),
        |g AS (SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
        |    CASE WHEN len(t) >= 2 THEN
        |      list_transform(range(1, len(t)),
        |        i -> t[CAST(i AS INTEGER)] || ' '
        |          || t[CAST(i + 1 AS INTEGER)])
        |    ELSE [] END AS g2,
        |    CASE WHEN len(t) >= 3 THEN
        |      list_transform(range(1, len(t) - 1),
        |        i -> t[CAST(i AS INTEGER)] || ' '
        |          || t[CAST(i + 1 AS INTEGER)] || ' '
        |          || t[CAST(i + 2 AS INTEGER)])
        |    ELSE [] END AS g3
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST(len(g2) AS INT) AS n_2grams,
        |  CAST(len(list_distinct(g2)) AS INT) AS n_2distinct,
        |  CAST(len(g3) AS INT) AS n_3grams,
        |  CAST(len(list_distinct(g3)) AS INT) AS n_3distinct,
        |  CASE WHEN len(g2) > 0 THEN
        |    CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
        |      / CAST(len(g2) AS DOUBLE) ELSE 0.0 END AS dup_frac_2,
        |  CASE WHEN len(g3) > 0 THEN
        |    CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
        |      / CAST(len(g3) AS DOUBLE) ELSE 0.0 END AS dup_frac_3,
        |  (len(g2) - len(list_distinct(g2))) * 100 <= len(g2) * 20
        |    AND (len(g3) - len(list_distinct(g3))) * 100 <= len(g3) * 18
        |    AS keep
        |FROM g""",
    // t47: t12's md5-bucket split + t32's trigram machinery; NOTE the
    // emit-only-overlapping-pairs convention — a split pair with zero
    // shared trigrams is ABSENT, not a zero row, on both engines
    "t47_split_overlap" ->
      """WITH b AS (SELECT doc_id,
        |  CAST(list_sum(list_transform(range(1, 7),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(text), CAST(i AS INTEGER), 1)) - 1)
        |      * (16 ** (6 - i)))) AS BIGINT) % 100 AS bkt
        |  FROM documents),
        |sp AS (SELECT doc_id, CASE WHEN bkt < 90 THEN 'train'
        |    WHEN bkt < 95 THEN 'val' ELSE 'test' END AS split FROM b),
        |tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |tg AS (SELECT DISTINCT doc_id, substr(md5(trigram), 1, 16) AS g
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS trigram
        |    FROM tok)),
        |sg AS (SELECT DISTINCT split, g FROM tg JOIN sp USING (doc_id)),
        |totals AS (SELECT split, count(*) AS n_grams FROM sg GROUP BY 1),
        |pairs AS (SELECT a.split AS split_a, b.split AS split_b,
        |    count(*) AS n_shared
        |  FROM sg a JOIN sg b ON a.g = b.g AND a.split < b.split
        |  GROUP BY 1, 2)
        |SELECT split_a, split_b, n_shared, ta.n_grams AS n_a,
        |  tb.n_grams AS n_b,
        |  CAST(n_shared AS DOUBLE)
        |    / CAST(ta.n_grams + tb.n_grams - n_shared AS DOUBLE)
        |    AS gram_jaccard
        |FROM pairs
        |JOIN totals ta ON split_a = ta.split
        |JOIN totals tb ON split_b = tb.split""",
    "f1_range_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01' AND l_discount > 0.05""",
    "f2_in_filter" ->
      """SELECT p_partkey, p_name, p_brand, p_size FROM part
        |WHERE p_size IN (5, 11, 28, 40) AND p_type <> 'ECONOMY'""",
    "f3_like_filter" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_name LIKE '%12%'""",
    "f4_pred_combo" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderstatus = 'O'
        |  AND o_totalprice BETWEEN 1000.0 AND 50000.0""",
    "f10_url_routing" ->
      """WITH u AS (SELECT event_id,
        |  CASE CAST(event_id % 4 AS INTEGER)
        |    WHEN 0 THEN '/stream_procs.json'
        |    WHEN 1 THEN '/stream_procs/' || CAST(user_id AS VARCHAR)
        |      || '.json'
        |    WHEN 2 THEN '/stream_procs/' || CAST(user_id AS VARCHAR)
        |      || '/program_processors/' || CAST(event_id % 3 AS VARCHAR)
        |      || '.json'
        |    ELSE '/bogus/' || CAST(user_id AS VARCHAR) END AS url
        |  FROM events)
        |SELECT event_id, url,
        |  CASE WHEN url = '/stream_procs.json' THEN 'list'
        |    WHEN regexp_matches(url, '^/stream_procs/[0-9]+\.json$')
        |      THEN 'instance'
        |    WHEN regexp_matches(url,
        |      '^/stream_procs/[0-9]+/program_processors/[0-9]+\.json$')
        |      THEN 'program_proc'
        |    ELSE 'not_found' END AS route,
        |  CAST(nullif(regexp_extract(url, '^/stream_procs/([0-9]+)', 1),
        |    '') AS INTEGER) AS sp_id,
        |  CAST(nullif(regexp_extract(url, '/program_processors/([0-9]+)',
        |    1), '') AS INTEGER) AS prog_id
        |FROM u""",
    // the (method, end_code) -> (code, status) translation table inlined
    // as a VALUES dimension; envelope via the shared format constant
    "f11_status_envelope" ->
      s"""WITH dim(method, end_code, http_code, status) AS (VALUES
        |  ('GET', 'success', 200, 'OK'),
        |  ('POST', 'success', 201, 'Created'),
        |  ('PUT', 'success', 200, 'OK'),
        |  ('DELETE', 'success', 200, 'OK'),
        |  ('GET', 'enotfound', 404, 'Not Found'),
        |  ('POST', 'enotfound', 404, 'Not Found'),
        |  ('PUT', 'enotfound', 204, 'No Content'),
        |  ('DELETE', 'enotfound', 404, 'Not Found'),
        |  ('GET', 'notmodified', 304, 'Not Modified'),
        |  ('POST', 'notmodified', 409, 'Conflict'),
        |  ('PUT', 'notmodified', 204, 'No Content'),
        |  ('DELETE', 'notmodified', 404, 'Not Found'),
        |  ('GET', 'eagain', 304, 'Not Modified'),
        |  ('POST', 'eagain', 409, 'Conflict'),
        |  ('PUT', 'eagain', 204, 'No Content'),
        |  ('DELETE', 'eagain', 404, 'Not Found'),
        |  ('GET', 'error', 404, 'Not Found'),
        |  ('POST', 'error', 404, 'Not Found'),
        |  ('PUT', 'error', 404, 'Not Found'),
        |  ('DELETE', 'error', 404, 'Not Found')),
        |u AS (SELECT event_id,
        |    ['GET', 'POST', 'PUT', 'DELETE'][
        |      CAST(event_id % 4 AS INTEGER) + 1] AS method,
        |    ['success', 'enotfound', 'notmodified', 'eagain', 'error'][
        |      CAST(user_id % 5 AS INTEGER) + 1] AS end_code
        |  FROM events)
        |SELECT u.event_id, u.method, u.end_code, d.http_code,
        |  printf('${graft.operators.Relational.envelopeFmt}',
        |    d.http_code, d.status, u.end_code) AS envelope
        |FROM u JOIN dim d USING (method, end_code)""",
    "j1_inner_join" ->
      """SELECT c_mktsegment, o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment, o_orderpriority""",
    "j2_left_join_nullfill" ->
      """SELECT c_custkey, count(o_orderkey) AS order_cnt,
        |  coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    AS DOUBLE), 0.0) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""",
    "j3_semi_join" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity >= 45.0)""",
    "j4_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""",
    "j5_dim_chain" ->
      """SELECT r_name, n_name, count(s_suppkey) AS suppliers
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |LEFT JOIN supplier ON s_nationkey = n_nationkey
        |GROUP BY r_name, n_name""",
    "a1_grouped_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_base,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |    AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "a2_count_distinct" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS uniq_custs,
        |  count(*) AS cnt
        |FROM orders GROUP BY o_orderpriority""",
    "a3_tumbling_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS window_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2""",
    "a4_sliding_window" ->
      """SELECT strftime(make_timestamp(
        |    ((CAST(floor(epoch(ts) / 1800) AS BIGINT) - k) * 1800)
        |    * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
        |GROUP BY 1""",
    "a6_log_dedup" ->
      """SELECT event_type, count(*) AS cnt,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
        |  count(DISTINCT user_id) AS uniq_users
        |FROM events GROUP BY event_type""",
    "a5_gauges" ->
      """SELECT event_type, max(value) AS peak_gauge,
        |  arg_max(value, event_id) AS current_gauge
        |FROM events GROUP BY event_type""",
    "a9_batch_profile" ->
      """SELECT CAST(floor(event_id / 1000) AS BIGINT) AS batch,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |    AS mean_value
        |FROM events GROUP BY 1""",
    "a8_stats_series" ->
      """WITH per_min AS (SELECT event_type,
        |    strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS m,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |  to_json(list(struct_pack(m := m, n := n) ORDER BY m DESC)[1:60])
        |    AS series
        |FROM per_min GROUP BY event_type""",
    // composed flot stats doc: same shared format constants as the Spark
    // side; x = newest-minute rank, emitted descending (oldest first)
    "ts12_stats_doc" ->
      s"""WITH per_min AS (SELECT event_type,
         |    strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS m,
         |    count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |  ranked AS (SELECT event_type, n, row_number() OVER (
         |      PARTITION BY event_type ORDER BY m DESC) - 1 AS x
         |    FROM per_min),
         |  ser AS (SELECT event_type, string_agg(
         |      printf('${graft.operators.Relational.statsXyFmt}', x, n),
         |      ',' ORDER BY x DESC) AS data_json
         |    FROM ranked WHERE x < 60 GROUP BY 1),
         |  f AS (SELECT count(*) AS n_types, string_agg(
         |      printf('${graft.operators.Relational.statsSeriesFragFmt}',
         |        event_type, data_json),
         |      ',' ORDER BY event_type) AS stats_json FROM ser)
         |SELECT printf('${graft.operators.Relational.statsDocFmt}',
         |  n_types, stats_json) AS doc FROM f""",
    "t10_dedup_resolve" ->
      """WITH tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM tok)),
        |  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |  ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      count(*) AS inter
        |    FROM sh a JOIN sh b
        |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2),
        |  pairs AS (SELECT doc_a, doc_b FROM ix
        |    JOIN sizes sa ON doc_a = sa.doc_id
        |    JOIN sizes sb ON doc_b = sb.doc_id
        |    WHERE CAST(inter AS DOUBLE)
        |      / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5),
        |  nb AS (SELECT doc_b AS doc_id, min(doc_a) AS min_nb FROM pairs
        |    GROUP BY doc_b)
        |SELECT d.doc_id,
        |  least(d.doc_id, coalesce(nb.min_nb, d.doc_id)) AS canonical_id
        |FROM documents d LEFT JOIN nb ON d.doc_id = nb.doc_id""",
    "t11_quality_filter" ->
      """WITH tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |  q AS (SELECT doc_id FROM documents
        |    WHERE CAST(len(list_filter(
        |        regexp_split_to_array(trim(text), '\s+'),
        |        x -> x IN ('the', 'a', 'of', 'to', 'and'))) AS DOUBLE)
        |      / CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |        AS DOUBLE) <= 0.5
        |      AND CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |        AS DOUBLE) / CAST(length(text) AS DOUBLE)
        |        BETWEEN 0.05 AND 0.5),
        |  sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM tok)),
        |  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |  ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      count(*) AS inter
        |    FROM sh a JOIN sh b
        |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2),
        |  losers AS (SELECT DISTINCT doc_b AS doc_id FROM ix
        |    JOIN sizes sa ON doc_a = sa.doc_id
        |    JOIN sizes sb ON doc_b = sb.doc_id
        |    WHERE CAST(inter AS DOUBLE)
        |      / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5)
        |SELECT q.doc_id FROM q
        |WHERE NOT EXISTS
        |  (SELECT 1 FROM losers l WHERE l.doc_id = q.doc_id)""",
    "w1_row_number" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1""",
    "w2_rank" ->
      """SELECT s_nationkey, s_suppkey, s_name, rnk FROM (
        |  SELECT s_nationkey, s_suppkey, s_name,
        |    rank() OVER (PARTITION BY s_nationkey
        |      ORDER BY s_acctbal DESC, s_suppkey) AS rnk
        |  FROM supplier) WHERE rnk <= 3""",
    "w3_lag_lead" ->
      """SELECT user_id, event_id,
        |  lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS prev_id,
        |  lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
        |    AS next_id
        |FROM events""",
    "w4_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_spent
        |FROM orders""",
    "w5_running_max" ->
      """SELECT user_id, event_id, value,
        |  max(value) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |FROM events""",
    "w6_asof_join" ->
      """WITH cand AS (SELECT e.event_id, e.user_id, o.o_orderkey,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e LEFT JOIN orders o
        |    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
        |SELECT event_id, user_id, o_orderkey AS asof_orderkey
        |FROM cand WHERE rn = 1""",
    "w7_ntile" ->
      """SELECT c_custkey, c_mktsegment,
        |  ntile(4) OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal, c_custkey) AS quartile,
        |  round(percent_rank() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal, c_custkey), 6) AS pct_rank
        |FROM customer""",
    "a10_rollup" ->
      """SELECT r_name, n_name, count(*) AS suppliers,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_bal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""",
    "a12_cube" ->
      """SELECT event_type, CAST(hour(ts) AS INT) AS hr,
        |  CAST(GROUPING(event_type) * 2 + GROUPING(hour(ts)) AS INT)
        |    AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events
        |GROUP BY CUBE (event_type, hour(ts))""",
    "s5_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |    FILTER (event_type = 'click') AS DOUBLE) AS click,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |    FILTER (event_type = 'error') AS DOUBLE) AS error,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |    FILTER (event_type = 'purchase') AS DOUBLE) AS purchase,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |    FILTER (event_type = 'signup') AS DOUBLE) AS signup,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |    FILTER (event_type = 'view') AS DOUBLE) AS view
        |FROM events GROUP BY user_id""",
    "s6_unpivot" ->
      """WITH p AS (SELECT user_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |    FILTER (event_type = 'click') AS DOUBLE) AS click,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |    FILTER (event_type = 'error') AS DOUBLE) AS error,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |    FILTER (event_type = 'purchase') AS DOUBLE) AS purchase,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |    FILTER (event_type = 'signup') AS DOUBLE) AS signup,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |    FILTER (event_type = 'view') AS DOUBLE) AS view
        |FROM events GROUP BY user_id)
        |UNPIVOT p ON click, error, purchase, signup, view
        |INTO NAME event_type VALUE total""",
    "w8_session_agg" ->
      """WITH f AS (SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
        |      THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS session_value
        |FROM s GROUP BY user_id, session_id""",
    "r1_gap_detect" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN prev_ts IS NULL
        |    OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS sessions,
        |  count(*) AS n_events
        |FROM (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
        |  FROM events)
        |GROUP BY user_id""",
    "r2_latest_per_key" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC)
        |      AS rn
        |  FROM events) WHERE rn = 1""",
    "r3_group_complete" ->
      """SELECT l_orderkey, count(DISTINCT l_linenumber) AS n_parts,
        |  max(l_linenumber) AS last_part,
        |  count(DISTINCT l_linenumber) = CAST(max(l_linenumber) AS BIGINT)
        |    AS complete
        |FROM lineitem GROUP BY l_orderkey""",
    "s1_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "s2_except" ->
      """SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |  WHERE c_acctbal > 9000.0
        |EXCEPT SELECT DISTINCT s_nationkey AS nationkey FROM supplier
        |  WHERE s_acctbal > 9000.0""",
    "s3_intersect" ->
      """SELECT DISTINCT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT DISTINCT s_nationkey AS nationkey FROM supplier""",
    "s4_union_all" ->
      """SELECT c_custkey AS id, 'customer' AS kind FROM customer
        |UNION ALL
        |SELECT s_suppkey AS id, 'supplier' AS kind FROM supplier""",
    "sc1_string_funcs" ->
      """SELECT c_custkey, upper(c_mktsegment) AS seg_upper,
        |  regexp_extract(c_name, '([0-9]+)', 1) AS cust_num,
        |  CAST(length(c_name) AS INTEGER) AS name_len,
        |  c_mktsegment || '-' || CAST(c_custkey AS VARCHAR) AS tag
        |FROM customer""",
    "sc2_json" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        |FROM events""",
    "sc3_datetime" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(month(o_orderdate) AS INTEGER) AS o_month,
        |  strftime(o_orderdate, '%Y-%m') AS o_ym
        |FROM orders""",
    "sc4_bit_ops" ->
      """SELECT DISTINCT l_orderkey, l_linenumber,
        |  l_orderkey & 255 AS lo_byte,
        |  xor(l_orderkey, 12345) AS xored,
        |  l_orderkey >> 4 AS shifted
        |FROM lineitem""",
    "sc5_base64_hash" ->
      """SELECT p_partkey, base64(encode(p_name)) AS b64, md5(p_name) AS h
        |FROM part""",
    "t1_exact_dedup" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
        |  count(*) AS copies
        |FROM documents GROUP BY md5(text)""",
    "t2_token_stats" ->
      """SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars_m,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INTEGER)
        |    AS n_tokens,
        |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |    / len(regexp_split_to_array(trim(text), '\s+'))
        |    AS avg_token_len
        |FROM documents""",
    "t3_quality_score" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS DOUBLE)
        |    / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
        |    AS stopword_ratio,
        |  CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE) AS punct_ratio,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE) AS token_density
        |FROM documents""",
    "t4_lang_id" -> t4Sql,
    // t62: the t4 language rule reused as a CTE, the t9 token regex
    // recounted, ratios as exact integer ppm/milli over language sums
    "t62_fertility" ->
      s"""WITH lang AS (SELECT * FROM ($t4Sql) l),
         |m AS (SELECT doc_id,
         |    len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
         |    len(regexp_extract_all(text,
         |      ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS n_toks,
         |    length(text) AS n_chars
         |  FROM documents),
         |g AS (SELECT pred_lang, count(*) AS n_docs,
         |    sum(n_words) AS n_words, sum(n_toks) AS n_tokens,
         |    sum(n_chars) AS n_chars
         |  FROM lang JOIN m USING (doc_id) GROUP BY 1)
         |SELECT pred_lang, CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_words AS BIGINT) AS n_words,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(n_tokens * 1000000 // n_words AS BIGINT)
         |    AS fertility_ppm,
         |  CAST(n_chars * 1000 // n_tokens AS BIGINT)
         |    AS chars_per_token_milli
         |FROM g""",
    "t5_fingerprint" ->
      """WITH tok AS (SELECT doc_id,
        |  regexp_split_to_array(trim(text), '\s+') AS t FROM documents)
        |SELECT doc_id, list_min(list_transform(range(1, len(t) - 1),
        |  i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS fingerprint
        |FROM tok""",
    // t34: the winnowing pipeline replayed — positional 48-bit md5
    // shingle hashes, w=4 window minima (short-doc global-min
    // fallback), distinct values, shared-fingerprint pair counts
    "t34_winnowing" ->
      """WITH tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents
        |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3),
        |hs AS (SELECT doc_id,
        |    list_transform(range(1, len(t) - 1),
        |      i -> CAST(list_sum(list_transform(range(1, 13),
        |        j -> (strpos('0123456789abcdef', substr(
        |            md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
        |            CAST(j AS INTEGER), 1)) - 1)
        |          * (16 ** (12 - j)))) AS BIGINT)) AS h
        |  FROM tok),
        |fp0 AS (SELECT doc_id, unnest(CASE
        |    WHEN len(h) >= 4 THEN
        |      [list_min(h[e - 2 : e + 1]) for e in range(3, len(h))]
        |    ELSE [list_min(h)] END) AS h
        |  FROM hs),
        |fp AS (SELECT DISTINCT doc_id, h FROM fp0)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  count(*) AS n_shared
        |FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""",
    // t33: SAME oracle as t32 by design — the prefix-filtered
    // candidate generation must reproduce the naive all-pairs
    // definition exactly (completeness via the pigeonhole bound,
    // precision via the exact set-intersection verify)
    "t33_prefix_containment" ->
      """WITH tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM tok)),
        |  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |  ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      count(*) AS inter
        |    FROM sh a JOIN sh b
        |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2)
        |SELECT doc_a, doc_b, inter, least(sa.n, sb.n) AS n_small,
        |  CAST(inter AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE)
        |    AS containment
        |FROM ix
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE inter * 10 >= least(sa.n, sb.n) * 8""",
    // t32: t6's shingle machinery, asymmetric gate — containment vs
    // min-size; the 0.8 cut is integer cross-multiplication
    "t32_containment" ->
      """WITH tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM tok)),
        |  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |  ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      count(*) AS inter
        |    FROM sh a JOIN sh b
        |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2)
        |SELECT doc_a, doc_b, inter, least(sa.n, sb.n) AS n_small,
        |  CAST(inter AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE)
        |    AS containment
        |FROM ix
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE inter * 10 >= least(sa.n, sb.n) * 8""",
    "t6_ngram_jaccard" ->
      """WITH tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM tok)),
        |  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |  ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      count(*) AS inter
        |    FROM sh a JOIN sh b
        |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
        |    AS jaccard
        |FROM ix
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
        |  >= 0.5""",
    // t7 emits exact-verified jaccard over its LSH candidate set; banding
    // recall is total on this corpus (25/25 pairs), so the exact pair SQL
    // is a valid oracle for it
    "t7_minhash_lsh" ->
      """WITH tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM tok)),
        |  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |  ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      count(*) AS inter
        |    FROM sh a JOIN sh b
        |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
        |    AS jaccard
        |FROM ix
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
        |  >= 0.5""",
    // t67: the pair set is t7's exact-jaccard reconstruction (the t13
    // recall contract makes the engine's LSH set identical); clipped
    // gram counts re-derived from the same trim+\s+ tokenization
    "t67_ngram_precision" ->
      """WITH tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM tok)),
        |  sizes AS (SELECT doc_id, count(*) AS n FROM sh
        |    GROUP BY doc_id),
        |  ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      count(*) AS inter
        |    FROM sh a JOIN sh b
        |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2),
        |  pairs AS (SELECT doc_a, doc_b FROM ix
        |    JOIN sizes sa ON doc_a = sa.doc_id
        |    JOIN sizes sb ON doc_b = sb.doc_id
        |    WHERE CAST(inter AS DOUBLE)
        |      / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5),
        |  uc AS (SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, unnest(t) AS g FROM tok) GROUP BY 1, 2),
        |  bc AS (SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i+1])) AS g FROM tok)
        |    GROUP BY 1, 2),
        |  c1 AS (SELECT p.doc_a, p.doc_b,
        |      sum(least(a.c, b.c)) AS clip1
        |    FROM pairs p JOIN uc a ON a.doc_id = p.doc_a
        |    JOIN uc b ON b.doc_id = p.doc_b AND b.g = a.g
        |    GROUP BY 1, 2),
        |  c2 AS (SELECT p.doc_a, p.doc_b,
        |      sum(least(a.c, b.c)) AS clip2
        |    FROM pairs p JOIN bc a ON a.doc_id = p.doc_a
        |    JOIN bc b ON b.doc_id = p.doc_b AND b.g = a.g
        |    GROUP BY 1, 2),
        |  lens AS (SELECT doc_id, len(t) AS n1 FROM tok)
        |SELECT p.doc_a, p.doc_b, CAST(l.n1 AS INTEGER) AS n_tokens_a,
        |  CAST(coalesce(c1.clip1, 0) AS BIGINT) AS clip1,
        |  CAST(coalesce(c1.clip1, 0) * 1000000 // l.n1 AS BIGINT)
        |    AS p1_ppm,
        |  CAST(coalesce(c2.clip2, 0) * 1000000
        |    // greatest(l.n1 - 1, 1) AS BIGINT) AS p2_ppm
        |FROM pairs p
        |LEFT JOIN c1 ON c1.doc_a = p.doc_a AND c1.doc_b = p.doc_b
        |LEFT JOIN c2 ON c2.doc_a = p.doc_a AND c2.doc_b = p.doc_b
        |JOIN lens l ON l.doc_id = p.doc_a""",
    // t68: cum_vocab(d) = #{tokens with first doc <= d}; the chunk
    // width is data-derived so the checkpoint grid stays ~128 rows
    "t68_heaps_law" ->
      """WITH tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |w AS (SELECT (max(doc_id) // 128) + 1 AS w FROM tok),
        |pd AS (SELECT doc_id, len(t) AS ntok FROM tok),
        |fd AS (SELECT g, min(doc_id) AS first_doc FROM (
        |    SELECT doc_id, unnest(t) AS g FROM tok) GROUP BY 1),
        |tc AS (SELECT doc_id // w.w AS chunk, sum(ntok) AS toks,
        |    count(*) AS nd
        |  FROM pd, w GROUP BY 1),
        |vc AS (SELECT first_doc // w.w AS chunk, count(*) AS voc
        |  FROM fd, w GROUP BY 1)
        |SELECT CAST(tc.chunk AS BIGINT) AS chunk,
        |  CAST(sum(tc.nd) OVER cum AS BIGINT) AS cum_docs,
        |  CAST(sum(tc.toks) OVER cum AS BIGINT) AS cum_tokens,
        |  CAST(sum(coalesce(vc.voc, 0)) OVER cum AS BIGINT)
        |    AS cum_vocab
        |FROM tc LEFT JOIN vc ON tc.chunk = vc.chunk
        |WINDOW cum AS (ORDER BY tc.chunk ROWS BETWEEN UNBOUNDED
        |  PRECEDING AND CURRENT ROW)""",
    // the LSH recall contract: the exact pair count re-derived in SQL,
    // and the miss count PINNED to 0 — if banding ever loses a true
    // pair, the Spark side reports >0 and this row goes red
    // t23: the exact cross-set jaccard pairs (t7's proven oracle math,
    // restricted to eval × corpus) — the fuzzy-decontamination contract
    "t23_fuzzy_decontaminate" ->
      """WITH tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM tok)),
        |  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |  ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      count(*) AS inter
        |    FROM sh a JOIN sh b
        |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2)
        |SELECT doc_a AS eval_id, doc_b AS doc_id,
        |  CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
        |    AS jaccard
        |FROM ix
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE)
        |  >= 0.5 AND doc_a < 10 AND doc_b >= 10""",
    "t13_lsh_recall" ->
      """WITH tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM tok)),
        |  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |  ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      count(*) AS inter
        |    FROM sh a JOIN sh b
        |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2),
        |  pairs AS (SELECT doc_a, doc_b FROM ix
        |    JOIN sizes sa ON doc_a = sa.doc_id
        |    JOIN sizes sb ON doc_b = sb.doc_id
        |    WHERE CAST(inter AS DOUBLE)
        |      / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5)
        |SELECT count(*) AS n_exact_pairs,
        |  CAST(0 AS BIGINT) AS n_missing_from_lsh
        |FROM pairs""",
    // e12: the full binary-quantization pipeline replayed — sign-bit
    // pack (two 32-bit halves), XOR+popcount Hamming shortlist, exact
    // cosine rerank (same left-to-right list_sum kernel as e1)
    "e12_sign_topk" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    CAST(list_sum(list_transform(range(1, 33),
        |      i -> CASE WHEN embedding[i] >= 0
        |        THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END))
        |      AS BIGINT) AS lo,
        |    CAST(list_sum(list_transform(range(33, 65),
        |      i -> CASE WHEN embedding[i] >= 0
        |        THEN CAST(1 AS BIGINT) << (i - 33) ELSE 0 END))
        |      AS BIGINT) AS hi
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding AS qv,
        |    lo AS qlo, hi AS qhi FROM e WHERE vec_id < 10),
        |h AS (SELECT query_id, e.vec_id AS cand_id, e.embedding AS cv,
        |    qv, CAST(bit_count(xor(lo, qlo))
        |      + bit_count(xor(hi, qhi)) AS INTEGER) AS hamming
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |s AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY hamming, cand_id) AS hrk FROM h),
        |sc AS (SELECT query_id, cand_id, hamming,
        |    list_sum(list_transform(range(1, len(qv) + 1),
        |      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1, len(qv) + 1),
        |        i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
        |      * sqrt(list_sum(list_transform(range(1, len(cv) + 1),
        |        i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))))
        |      AS cosine
        |  FROM s WHERE hrk <= 50)
        |SELECT query_id, cand_id, hamming, CAST(rnk AS INTEGER) AS rnk
        |FROM (SELECT query_id, cand_id, hamming, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rnk
        |  FROM sc) WHERE rnk <= 5""",
    // e11: the SQ8 code build + integer dot replayed list-wise — the
    // all-integer kernel makes qdot emittable (no float compare)
    "e11_sq8_topk" ->
      """WITH base AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        |  FROM embeddings),
        |sc AS (SELECT vec_id, vd,
        |    greatest(list_max(list_transform(vd, x -> abs(x))), 1e-30)
        |      AS mx FROM base),
        |coded AS (SELECT vec_id,
        |    list_transform(vd, x ->
        |      CAST(floor(x * (127.0 / mx) + 0.5) AS BIGINT)) AS code
        |  FROM sc),
        |q AS (SELECT vec_id AS query_id, code AS qc FROM coded
        |  WHERE vec_id < 10),
        |scored AS (SELECT query_id, c.vec_id AS cand_id,
        |    CAST(list_sum(list_transform(range(1, len(qc) + 1),
        |      i -> qc[i] * code[i])) AS BIGINT) AS qdot
        |  FROM coded c CROSS JOIN q WHERE c.vec_id <> q.query_id)
        |SELECT query_id, cand_id, qdot, CAST(rnk AS INTEGER) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY qdot DESC, cand_id) AS rnk FROM scored)
        |WHERE rnk <= 5""",
    "e1_cosine_topk" -> e1Sql,
    // e30: the e1 float contract extended to the 4×16 slice layout —
    // each slice dot/norm is the same shifted-range list_sum fold the
    // codegen'd kernels run, greatest/sum fold order written out
    "e30_maxsim" -> {
      def sdot(a: String, ao: Int, b: String, bo: Int) =
        s"list_sum(list_transform(range(1, 17), k -> " +
          s"CAST($a[k + $ao] AS DOUBLE) * CAST($b[k + $bo] AS DOUBLE)))"
      def snorm(a: String, ao: Int) = s"sqrt(${sdot(a, ao, a, ao)})"
      def cos(i: Int, j: Int) =
        s"(${sdot("qv", 16 * i, "cv", 16 * j)} / " +
          s"(${snorm("qv", 16 * i)} * ${snorm("cv", 16 * j)}))"
      def m(i: Int) =
        s"greatest(${cos(i, 0)}, ${cos(i, 1)}, ${cos(i, 2)}, ${cos(i, 3)})"
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |    FROM embeddings WHERE vec_id < 8),
         |  c AS (SELECT vec_id AS cand_id, embedding AS cv
         |    FROM embeddings),
         |  sims AS (SELECT query_id, cand_id,
         |      (((${m(0)} + ${m(1)}) + ${m(2)}) + ${m(3)}) AS score
         |    FROM q CROSS JOIN c WHERE query_id <> cand_id)
         |SELECT query_id, cand_id, rnk FROM (
         |  SELECT query_id, cand_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, cand_id) AS rnk
         |  FROM sims) WHERE rnk <= 5""".stripMargin
    },
    "e3_cosine_near_dup" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> CAST(embedding[i] AS DOUBLE)
        |        * CAST(embedding[i] AS DOUBLE)))) AS nrm
        |  FROM embeddings)
        |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
        |FROM e x JOIN e y ON x.vec_id < y.vec_id
        |WHERE list_sum(list_transform(range(1, len(x.embedding) + 1),
        |    i -> CAST(x.embedding[i] AS DOUBLE)
        |      * CAST(y.embedding[i] AS DOUBLE))) / (x.nrm * y.nrm)
        |  >= 0.4""",
    // e27: same dot/norm float sequence as the proven e3 contract,
    // restricted to corpus × benchmark; integer-only output
    "e27_semantic_decontam" ->
      s"""WITH e AS (SELECT vec_id, label, embedding,
         |    sqrt(${dotSql("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |b AS (SELECT vec_id AS bench_id, embedding AS bv, nrm AS bn
         |  FROM e WHERE vec_id % 50 = 0),
         |hits AS (SELECT e.vec_id, e.label, b.bench_id
         |  FROM e CROSS JOIN b
         |  WHERE e.vec_id % 50 <> 0
         |    AND ${dotSql("e.embedding", "b.bv")} / (e.nrm * b.bn)
         |      >= 0.4)
         |SELECT vec_id, label,
         |  CAST(count(*) AS BIGINT) AS n_bench_hits,
         |  CAST(min(bench_id) AS BIGINT) AS first_bench_id
         |FROM hits GROUP BY 1, 2""",
    "e4_label_centroid" ->
      """WITH e AS (SELECT label,
        |    round(sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
        |      i -> CAST(embedding[i] AS DOUBLE)
        |        * CAST(embedding[i] AS DOUBLE)))), 6) AS nrm
        |  FROM embeddings)
        |SELECT label, count(*) AS n, min(nrm) AS min_norm,
        |  max(nrm) AS max_norm
        |FROM e GROUP BY label""",
    "e7_quantize" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        |  FROM embeddings),
        |  sc AS (SELECT vec_id, vd,
        |    127.0 / greatest(list_max(list_transform(vd, x -> abs(x))),
        |      1e-30) AS scale
        |  FROM e),
        |  q AS (SELECT vec_id,
        |    list_transform(vd, x -> CAST(floor(x * scale + 0.5)
        |      AS INTEGER)) AS qv
        |  FROM sc)
        |SELECT vec_id, list_min(qv) AS q_min, list_max(qv) AS q_max,
        |  CAST(len(list_filter(qv, x -> x = 0)) AS INTEGER) AS q_zeros
        |FROM q""",
    "p9_dual_parse" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_from_json,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_from_qs
        |FROM events""",
    // sc9: HUGEINT canary, RETIRED (round-10 judge ask). In round 9
    // canary_hugeint was deliberately left as DuckDB's native sum()
    // HUGEINT while its value-identical twin was cast BIGINT; the
    // resulting hash-red (rows/schema green, BIGINT twin green) PROVED
    // the driver comparator's HUGEINT rendering was the root cause of
    // the r7/r8 a45/a46/m12 reds. Point made — both columns are now
    // cast so the scoreboard's steady state is all-green and future
    // newly-failing detection isn't desensitized by an expected red.
    "sc9_hugeint_canary" ->
      """SELECT n_regionkey,
        |  CAST(sum(n_nationkey) AS BIGINT) AS canary_hugeint,
        |  CAST(sum(n_nationkey) AS BIGINT) AS canary_bigint
        |FROM nation GROUP BY 1""",
    "p10_base64_roundtrip" ->
      """SELECT p_partkey, base64(encode(p_name)) AS b64, p_name AS decoded
        |FROM part""",
    "k3_json_projection" ->
      """SELECT o_custkey, to_json(struct_pack(
        |    id := o_custkey,
        |    n_orders := count(*),
        |    latest_date := strftime(max(o_orderdate), '%Y-%m-%d')))
        |  AS doc
        |FROM orders GROUP BY o_custkey""",
    "k4_log_register" ->
      """SELECT event_type AS code, count(*) AS log_trace_counter,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS date
        |FROM events GROUP BY event_type""",
    // k5/k6: the instance registry — the oracle re-derives the
    // query-string parse with regexp_extract (vs Spark's str_to_map)
    // and the proc_id allocation with the same running-count window
    "k5_instance_create" ->
      s"""WITH firsts AS (
        |  SELECT user_id, min(event_id) AS event_id
        |  FROM events GROUP BY user_id),
        |r AS (
        |  SELECT e.event_id,
        |    CASE WHEN e.event_type = 'error'
        |      THEN 'tag=dropped-' || CAST(e.event_id AS VARCHAR)
        |      ELSE 'proc_name=mpeg2_sp&tag=' || e.event_type || '-'
        |        || CAST(e.user_id AS VARCHAR)
        |        || '&input_url=udp://224.0.0.1:'
        |        || CAST(2000 + e.event_id % 1000 AS VARCHAR)
        |        || '&bogus_key=ignored' END AS qs
        |  FROM events e JOIN firsts f
        |    ON e.user_id = f.user_id AND e.event_id = f.event_id),
        |p AS (
        |  SELECT event_id,
        |    nullif(regexp_extract(qs, 'proc_name=([^&]*)', 1), '')
        |      AS proc_name,
        |    nullif(regexp_extract(qs, '(?:^|&)tag=([^&]*)', 1), '')
        |      AS tag,
        |    nullif(regexp_extract(qs, 'input_url=([^&]*)', 1), '')
        |      AS input_url
        |  FROM r),
        |a AS (
        |  SELECT event_id, proc_name, tag, input_url,
        |    CASE WHEN proc_name IS NOT NULL THEN
        |      SUM(CASE WHEN proc_name IS NOT NULL THEN 1 ELSE 0 END)
        |        OVER (ORDER BY event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
        |    END AS proc_id,
        |    CASE WHEN proc_name IS NOT NULL THEN 201 ELSE 404 END
        |      AS http_code
        |  FROM p)
        |SELECT event_id, CAST(proc_id AS BIGINT) AS proc_id,
        |  proc_name, tag, input_url, http_code,
        |  printf('${graft.operators.Relational.envelopeFmt}', http_code,
        |    CASE WHEN http_code = 201 THEN 'Created'
        |      ELSE 'Not Found' END,
        |    CASE WHEN http_code = 201 THEN 'success' ELSE 'einval' END)
        |    AS envelope
        |FROM a""",
    // p11: the oracle re-derives the query-string parse and the int32
    // clamp (scte_subt2dvb.js:322-342) independently
    "p11_scte_offsets" ->
      """WITH r AS (
        |  SELECT event_id,
        |    'duration_offset_msec='
        |      || CAST((event_id - 5000) * 1000000 AS VARCHAR)
        |      || '&vpos_offset_pels='
        |      || CAST((user_id - 50) * 100000000 AS VARCHAR) AS qs
        |  FROM events),
        |p AS (
        |  SELECT event_id,
        |    CAST(regexp_extract(qs, 'duration_offset_msec=(-?[0-9]+)',
        |      1) AS BIGINT) AS dur_raw,
        |    CAST(regexp_extract(qs, 'vpos_offset_pels=(-?[0-9]+)', 1)
        |      AS BIGINT) AS vpos_raw
        |  FROM r)
        |SELECT event_id,
        |  least(greatest(dur_raw, -2147483648), 2147483647)
        |    AS duration_offset_msec,
        |  least(greatest(vpos_raw, -2147483648), 2147483647)
        |    AS vpos_offset_pels,
        |  '{"duration_offset_msec":'
        |    || CAST(least(greatest(dur_raw, -2147483648), 2147483647)
        |         AS VARCHAR)
        |    || ',"vpos_offset_pels":'
        |    || CAST(least(greatest(vpos_raw, -2147483648), 2147483647)
        |         AS VARCHAR)
        |    || '}' AS settings_doc
        |FROM p""",
    "k6_instance_list" ->
      """WITH firsts AS (
        |  SELECT user_id, min(event_id) AS event_id
        |  FROM events GROUP BY user_id),
        |r AS (
        |  SELECT e.event_id,
        |    CASE WHEN e.event_type = 'error'
        |      THEN 'tag=dropped-' || CAST(e.event_id AS VARCHAR)
        |      ELSE 'proc_name=mpeg2_sp&tag=' || e.event_type || '-'
        |        || CAST(e.user_id AS VARCHAR)
        |        || '&input_url=udp://224.0.0.1:'
        |        || CAST(2000 + e.event_id % 1000 AS VARCHAR)
        |        || '&bogus_key=ignored' END AS qs
        |  FROM events e JOIN firsts f
        |    ON e.user_id = f.user_id AND e.event_id = f.event_id),
        |p AS (
        |  SELECT event_id,
        |    nullif(regexp_extract(qs, 'proc_name=([^&]*)', 1), '')
        |      AS proc_name,
        |    nullif(regexp_extract(qs, '(?:^|&)tag=([^&]*)', 1), '')
        |      AS tag
        |  FROM r),
        |a AS (
        |  SELECT tag,
        |    SUM(CASE WHEN proc_name IS NOT NULL THEN 1 ELSE 0 END)
        |      OVER (ORDER BY event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
        |      AS proc_id
        |  FROM p WHERE proc_name IS NOT NULL)
        |SELECT '{"stream_procs":['
        |  || string_agg('{"proc_id":' || CAST(proc_id AS VARCHAR)
        |       || ',"tag":"' || tag || '"}', ',' ORDER BY proc_id)
        |  || ']}' AS doc
        |FROM a""",
    // t17: the transitive closure re-derived with RECURSIVE SQL over
    // the exact pair set (valid for the LSH pair set by the t13 recall
    // contract) — a genuinely independent algorithm vs the Spark side's
    // label propagation
    "t17_dup_components" ->
      """WITH RECURSIVE tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM tok)),
        |  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |  ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      count(*) AS inter
        |    FROM sh a JOIN sh b
        |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2),
        |  pairs AS (SELECT doc_a, doc_b FROM ix
        |    JOIN sizes sa ON doc_a = sa.doc_id
        |    JOIN sizes sb ON doc_b = sb.doc_id
        |    WHERE CAST(inter AS DOUBLE)
        |      / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5),
        |  ed AS (SELECT doc_a, doc_b FROM pairs
        |    UNION ALL SELECT doc_b, doc_a FROM pairs),
        |  reach(doc_id, comp) AS (
        |    SELECT doc_id, doc_id FROM documents
        |    UNION
        |    SELECT e.doc_a, r.comp FROM ed e
        |    JOIN reach r ON e.doc_b = r.doc_id)
        |SELECT doc_id, min(comp) AS comp FROM reach GROUP BY doc_id""",
    // t59: the t17 recursive closure re-derived, then the size census
    "t59_cluster_census" ->
      """WITH RECURSIVE tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM tok)),
        |  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |  ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      count(*) AS inter
        |    FROM sh a JOIN sh b
        |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2),
        |  pairs AS (SELECT doc_a, doc_b FROM ix
        |    JOIN sizes sa ON doc_a = sa.doc_id
        |    JOIN sizes sb ON doc_b = sb.doc_id
        |    WHERE CAST(inter AS DOUBLE)
        |      / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5),
        |  ed AS (SELECT doc_a, doc_b FROM pairs
        |    UNION ALL SELECT doc_b, doc_a FROM pairs),
        |  reach(doc_id, comp) AS (
        |    SELECT doc_id, doc_id FROM documents
        |    UNION
        |    SELECT e.doc_a, r.comp FROM ed e
        |    JOIN reach r ON e.doc_b = r.doc_id),
        |  lab AS (SELECT doc_id, min(comp) AS comp FROM reach
        |    GROUP BY doc_id),
        |  cs AS (SELECT comp, count(*) AS cluster_size FROM lab
        |    GROUP BY 1),
        |  tot AS (SELECT count(*) AS n_docs_total FROM lab)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |  CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
        |  CAST(cluster_size * count(*) * 1000000 // n_docs_total
        |    AS BIGINT) AS share_ppm
        |FROM cs CROSS JOIN tot GROUP BY cluster_size, n_docs_total""",
    // t60: counts/shares re-derived from raw parquet; the surprise
    // doubles come from the engine dump (ln computed once), and the
    // quantized contribution re-applies the same float sequence
    "t60_mix_entropy" ->
      s"""WITH src AS (SELECT source, count(*) AS n_docs
         |  FROM documents GROUP BY 1),
         |t AS (SELECT sum(n_docs) AS t FROM src),
         |w AS (SELECT * FROM ${oprel("t60_surprise")})
         |SELECT s.source, CAST(s.n_docs AS BIGINT) AS n_docs,
         |  CAST(s.n_docs * 1000000 // t.t AS BIGINT) AS share_ppm,
         |  w.surprise,
         |  CAST(floor(CAST(s.n_docs AS DOUBLE) / CAST(t.t AS DOUBLE)
         |    * w.surprise * 1000000 + 0.5) AS BIGINT) AS contrib_micro
         |FROM src s JOIN w USING (source) CROSS JOIN t""",
    // t61: per-band bucket census re-aggregated in SQL from the dumped
    // band relation (the banding itself is pinned by t25's stream≡batch
    // parity and t13's recall gate; what's verified here is the cost
    // arithmetic a planner would trust)
    "t61_lsh_cost" ->
      s"""WITH bk AS (SELECT band, band_key, count(*) AS sz
         |  FROM ${oprel("minhash_bands")} GROUP BY 1, 2)
         |SELECT band, count(*) AS n_buckets,
         |  CAST(sum(sz) AS BIGINT) AS n_docs,
         |  CAST(max(sz) AS BIGINT) AS max_bucket,
         |  CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs,
         |  CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_singletons
         |FROM bk GROUP BY band""",
    // t65: same temperature-scaled allocation; sqrt is IEEE-exact so
    // floor(sqrt) matches bit-for-bit; HUGEINT mirrors decimal(38,0)
    "t65_mix_planner" ->
      """WITH ps AS (SELECT source, count(*) AS n_docs,
        |    sum(len(regexp_split_to_array(trim(text), '\s+')))
        |      AS n_tokens
        |  FROM documents GROUP BY 1),
        |w AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)))
        |    AS BIGINT) AS weight FROM ps),
        |tot AS (SELECT sum(weight) AS wsum,
        |    sum(n_tokens) // 2 AS budget FROM w)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(CAST(weight AS HUGEINT) * 1000000 // wsum AS BIGINT)
        |    AS target_share_ppm,
        |  CAST(CAST(budget AS HUGEINT) * weight // wsum AS BIGINT)
        |    AS planned_tokens,
        |  CAST(least(1000000, (CAST(budget AS HUGEINT) * weight
        |    // wsum) * 1000000 // n_tokens) AS BIGINT)
        |    AS sample_rate_ppm,
        |  CAST((CAST(budget AS HUGEINT) * weight // wsum) * 1000
        |    // n_tokens AS BIGINT) AS epochs_milli
        |FROM w CROSS JOIN tot""",
    // t66: exact-pair CTE (t13's) + t12's bucket CTE, then the same
    // eval-side contamination census; exactness of the LSH pair set
    // is what t13 pins every run
    "t66_split_leakage" ->
      """WITH tok AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |  sh AS (SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM tok)),
        |  sizes AS (SELECT doc_id, count(*) AS n FROM sh
        |    GROUP BY doc_id),
        |  ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      count(*) AS inter
        |    FROM sh a JOIN sh b
        |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |    GROUP BY 1, 2),
        |  pairs AS (SELECT doc_a, doc_b FROM ix
        |    JOIN sizes sa ON doc_a = sa.doc_id
        |    JOIN sizes sb ON doc_b = sb.doc_id
        |    WHERE CAST(inter AS DOUBLE)
        |      / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5),
        |  bk AS (SELECT doc_id,
        |    CAST(list_sum(list_transform(range(1, 7),
        |      i -> (strpos('0123456789abcdef',
        |        substr(md5(text), CAST(i AS INTEGER), 1)) - 1)
        |        * (16 ** (6 - i)))) AS BIGINT) % 100 AS bkt
        |    FROM documents),
        |  spl AS (SELECT doc_id, CASE WHEN bkt < 90 THEN 'train'
        |    WHEN bkt < 95 THEN 'val' ELSE 'test' END AS split
        |    FROM bk),
        |  und AS (SELECT doc_a, doc_b FROM pairs
        |    UNION ALL SELECT doc_b, doc_a FROM pairs),
        |  cont AS (SELECT sa.split, und.doc_a FROM und
        |    JOIN spl sa ON und.doc_a = sa.doc_id
        |    JOIN spl sb ON und.doc_b = sb.doc_id
        |    WHERE sa.split IN ('val', 'test') AND sb.split = 'train'
        |    GROUP BY 1, 2),
        |  cc AS (SELECT split, count(*) AS n_contaminated FROM cont
        |    GROUP BY 1),
        |  sz AS (SELECT split, count(*) AS n_docs FROM spl
        |    WHERE split IN ('val', 'test') GROUP BY 1)
        |SELECT sz.split, CAST(sz.n_docs AS BIGINT) AS n_docs,
        |  CAST(coalesce(cc.n_contaminated, 0) AS BIGINT)
        |    AS n_contaminated,
        |  CAST(coalesce(cc.n_contaminated, 0) * 1000000 // sz.n_docs
        |    AS BIGINT) AS leakage_ppm
        |FROM sz LEFT JOIN cc ON sz.split = cc.split""",
    // t14: trigram derivation + 3-gram-overlap contamination re-derived
    // independently (DuckDB list functions vs Spark HOFs)
    "t14_decontaminate" ->
      """WITH tk AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |tg AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 1, 1)),
        |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])))
        |    AS trigram
        |  FROM tk)
        |SELECT c.doc_id, e.doc_id AS eval_id, count(*) AS n_shared
        |FROM tg c JOIN tg e ON c.trigram = e.trigram
        |WHERE e.doc_id < 10 AND c.doc_id >= 10
        |GROUP BY 1, 2 HAVING count(*) >= 3""",
    // t15: the planted PII and both regexes are identical on both
    // sides (Java regex ∩ RE2 dialect)
    "t15_pii_scrub" ->
      """WITH p AS (SELECT doc_id, text
        |    || CASE WHEN doc_id % 7 = 0 THEN ' contact user'
        |         || CAST(doc_id AS VARCHAR) || '@example.com now'
        |       ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN ' call +1-555-'
        |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |       ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\+1-555-[0-9]{4}'))
        |    AS INTEGER) AS n_phones,
        |  regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
        |    'g'), '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
        |FROM p""",
    // t16: duplicated-trigram fraction + top-token share, re-derived
    // via unnest/group-by
    "t16_repetition" ->
      """WITH tk AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |tg AS (SELECT doc_id, len(toks) AS n_tokens,
        |    list_transform(range(1, greatest(len(toks) - 1, 1)),
        |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
        |      AS g
        |  FROM tk),
        |dup AS (SELECT doc_id, n_tokens,
        |    CASE WHEN len(g) > 0 THEN
        |      CAST(len(g) - len(list_distinct(g)) AS DOUBLE)
        |        / CAST(len(g) AS DOUBLE)
        |    ELSE 0.0 END AS dup_trigram_frac
        |  FROM tg),
        |tc AS (SELECT doc_id, tok, count(*) AS c FROM (
        |    SELECT doc_id, unnest(toks) AS tok FROM tk) GROUP BY 1, 2),
        |top AS (SELECT doc_id, max(c) AS maxc FROM tc GROUP BY 1)
        |SELECT d.doc_id, d.n_tokens, d.dup_trigram_frac,
        |  CAST(t.maxc AS DOUBLE) / CAST(d.n_tokens AS DOUBLE)
        |    AS top_token_ratio
        |FROM dup d JOIN top t USING (doc_id)""",
    "t9_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS INTEGER)
        |    AS n_bpe_tokens,
        |  CAST(length(text) AS DOUBLE)
        |    / len(regexp_extract_all(text,
        |      ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))
        |    AS chars_per_token
        |FROM documents""",
    "m1_media_meta" ->
      """SELECT doc_id, source AS format,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |  md5(text) AS content_hash
        |FROM documents""",
    // m2: the hex string of the payload has 2 chars/byte; keeping the
    // first of each pair leaves exactly the high nibbles, so per-digit
    // char counts ARE the 16-bin histogram
    "m2_feature_extract" ->
      ("""WITH hn AS (SELECT doc_id,
        |  regexp_replace(hex(encode(text)), '(.).', '\1', 'g')
        |    AS s
        |  FROM documents)
        |SELECT doc_id, """.stripMargin.replace('\n', ' ') +
        (0 until 16).map { k =>
          val digit = f"$k%X"
          s"CAST(length(s) - length(replace(s, '$digit', '')) AS BIGINT)" +
            s" AS h$k"
        }.mkString(", ") + " FROM hn"),
    // hex(md5)[1..6] parsed digit-wise (strpos over the hex alphabet ×
    // powers of 16) — DuckDB's portable spelling of Spark's conv(_,16,10)
    // t18: segments re-derived from the raw text (DuckDB groups segment
    // TEXT where Spark groups the 64-bit segment hash — count-equivalent
    // absent a 64-bit collision, which 5k segments cannot plausibly hit)
    "t18_segment_dedup" ->
      """WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |segs AS (SELECT doc_id,
        |    unnest([array_to_string(t[i*10+1 : i*10+10], ' ')
        |      for i in range(0, CAST(ceil(len(t)/10.0) AS INT))]) AS seg
        |  FROM toks),
        |freq AS (SELECT seg, count(DISTINCT doc_id) AS n_docs
        |  FROM segs GROUP BY 1)
        |SELECT doc_id, count(*) AS n_segs,
        |  CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_segs
        |FROM segs JOIN freq USING (seg)
        |GROUP BY doc_id""",
    "t19_tfidf" ->
      """WITH terms AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df
        |  FROM terms GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, term,
        |    CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE)
        |      / CAST(df AS DOUBLE)) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, score, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
        |  FROM scored)
        |SELECT doc_id, CAST(rnk AS INT) AS rnk, term, score
        |FROM r WHERE rnk <= 3""",
    // t64: t3's ratio and t22's keep verdict re-derived, decile
    // buckets over identical doubles (bit-equal floor), integer rollup
    "t64_calibration" ->
      """WITH q AS (SELECT doc_id,
        |    least(9, CAST(floor(
        |      CAST(len(list_filter(regexp_split_to_array(trim(text),
        |        '\s+'), t -> t IN ('the','a','of','to','and')))
        |        AS DOUBLE)
        |      / CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |        AS DOUBLE) * 10) AS BIGINT)) AS bucket
        |  FROM documents),
        |b AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t,
        |    length(regexp_replace(text, '\s+', '', 'g')) AS nchars,
        |    length(regexp_replace(text, '[^#…]', '', 'g')) AS nsym
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    len(t) AS n_words,
        |    CAST(nchars AS DOUBLE) / CAST(len(t) AS DOUBLE)
        |      AS mean_word_len,
        |    CAST(nsym AS DOUBLE) / CAST(len(t) AS DOUBLE)
        |      AS symbol_ratio,
        |    CAST(len(list_filter(t, x -> regexp_matches(x,
        |      '[A-Za-z]'))) AS DOUBLE) / CAST(len(t) AS DOUBLE)
        |      AS alpha_word_frac,
        |    len(list_filter(t, x -> list_contains(
        |      ['the','a','of','to','and','in','is','that'], x)))
        |      AS n_stopwords
        |  FROM b),
        |g AS (SELECT doc_id,
        |    (n_words >= 50 AND n_words <= 100000
        |      AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |      AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8
        |      AND n_stopwords >= 2) AS keep
        |  FROM c)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_keep,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS keep_ppm
        |FROM q JOIN g USING (doc_id) GROUP BY bucket""",
    "t22_gopher_filter" ->
      """WITH b AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t,
        |    length(regexp_replace(text, '\s+', '', 'g')) AS nchars,
        |    length(regexp_replace(text, '[^#…]', '', 'g')) AS nsym
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    len(t) AS n_words,
        |    CAST(nchars AS DOUBLE) / CAST(len(t) AS DOUBLE)
        |      AS mean_word_len,
        |    CAST(nsym AS DOUBLE) / CAST(len(t) AS DOUBLE) AS symbol_ratio,
        |    CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
        |      AS DOUBLE) / CAST(len(t) AS DOUBLE) AS alpha_word_frac,
        |    len(list_filter(t, x -> list_contains(
        |      ['the','a','of','to','and','in','is','that'], x)))
        |      AS n_stopwords
        |  FROM b)
        |SELECT doc_id, CAST(n_words AS INT) AS n_words, mean_word_len,
        |  symbol_ratio, alpha_word_frac,
        |  CAST(n_stopwords AS INT) AS n_stopwords,
        |  (n_words >= 50 AND n_words <= 100000
        |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |    AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8
        |    AND n_stopwords >= 2) AS keep
        |FROM c""",
    "t20_stratified_sample" ->
      """WITH b AS (SELECT doc_id, lang, source,
        |  CAST(list_sum(list_transform(range(1, 7),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5('strat:' || text), CAST(i AS INTEGER), 1)) - 1)
        |      * (16 ** (6 - i)))) AS BIGINT) % 1000 AS bkt
        |  FROM documents)
        |SELECT doc_id, lang, source, CAST(bkt AS INTEGER) AS bucket
        |FROM b
        |WHERE bkt < CASE WHEN lang = 'en' THEN 100
        |  WHEN lang = 'zh' THEN 300 ELSE 500 END""",
    // t31: same digit-wise hex parse as t12; the accept test is integer
    // cross-multiplication, exact in both engines
    "t31_domain_mix" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(list_sum(list_transform(range(1, 7),
        |      i -> (strpos('0123456789abcdef',
        |        substr(md5('mix:' || text), CAST(i AS INTEGER), 1)) - 1)
        |        * (16 ** (6 - i)))) AS BIGINT) % 1000000 AS bucket
        |  FROM documents),
        |c AS (SELECT source, count(*) AS n_src FROM d GROUP BY source),
        |m AS (SELECT min(n_src) AS n_min FROM c)
        |SELECT doc_id, d.source, CAST(bucket AS INTEGER) AS bucket,
        |  bucket * n_src < 1000000 * n_min AS keep
        |FROM d JOIN c ON d.source = c.source CROSS JOIN m""",
    // t39: the oracle replays the same merge step — top-1 pair by
    // (count desc, pair), greedy left-to-right literal replace on the
    // boundary-encoded string (non-overlapping in both engines), then
    // the post-merge recount; '|' and '_' sentinels are engine-neutral
    "t39_bpe_merge" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |p AS (SELECT unnest(list_transform(range(1, len(tk)),
        |    i -> tk[CAST(i AS INTEGER)] || ' '
        |      || tk[CAST(i + 1 AS INTEGER)])) AS bigram FROM t),
        |c AS (SELECT bigram, count(*) AS n FROM p GROUP BY bigram),
        |top AS (SELECT bigram AS mp FROM c
        |  ORDER BY n DESC, bigram LIMIT 1),
        |m AS (SELECT doc_id,
        |    replace('|' || array_to_string(tk, '||') || '|',
        |      '|' || split_part(mp, ' ', 1) || '||'
        |        || split_part(mp, ' ', 2) || '|',
        |      '|' || split_part(mp, ' ', 1) || '_'
        |        || split_part(mp, ' ', 2) || '|') AS s1, mp
        |  FROM t CROSS JOIN top),
        |t2 AS (SELECT mp, regexp_split_to_array(
        |    substr(s1, 2, length(s1) - 2), '\|\|') AS tk2 FROM m),
        |p2 AS (SELECT mp, unnest(list_transform(range(1, len(tk2)),
        |    i -> tk2[CAST(i AS INTEGER)] || ' '
        |      || tk2[CAST(i + 1 AS INTEGER)])) AS bigram FROM t2)
        |SELECT mp AS last_merge, bigram, count(*) AS n FROM p2
        |GROUP BY 1, 2 ORDER BY n DESC, bigram LIMIT 50""",
    // t40: same digit-wise hex parse as t12; the weight sum is exact
    // integer math list-wise (list_sum of BIGINTs)
    "t40_fasttext_score" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |  FROM documents)
        |SELECT doc_id, CAST(len(tk) AS INTEGER) AS n_tokens,
        |  CAST(list_sum(list_transform(tk, t ->
        |    CAST(list_sum(list_transform(range(1, 7),
        |      i -> (strpos('0123456789abcdef',
        |        substr(md5('ft:' || t), CAST(i AS INTEGER), 1)) - 1)
        |        * (16 ** (6 - i)))) AS BIGINT) % 2001 - 1000))
        |    AS BIGINT) AS score_sum,
        |  CAST(list_sum(list_transform(tk, t ->
        |    CAST(list_sum(list_transform(range(1, 7),
        |      i -> (strpos('0123456789abcdef',
        |        substr(md5('ft:' || t), CAST(i AS INTEGER), 1)) - 1)
        |        * (16 ** (6 - i)))) AS BIGINT) % 2001 - 1000))
        |    AS BIGINT) > 0 AS keep
        |FROM t""",
    // t41: hashed-bigram counts re-derived relationally; the keep test
    // is the same integer cross-multiplication as t31.
    // t41b is the persisted-feature-lake variant — same semantics, same
    // oracle (the lake is an execution detail, not a semantic one).
    "t41b_dsir_lake" -> t41DsirSql,
    "t41_dsir" -> t41DsirSql,
    // t30: DuckDB rebuilds the shifted-zip bigrams list-wise; tk[i] is
    // 1-based, range(1, len) = [1, len-1]
    "t30_bigram_vocab" ->
      """WITH t AS (SELECT
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |b AS (SELECT list_transform(range(1, len(tk)),
        |    i -> tk[CAST(i AS INTEGER)] || ' '
        |      || tk[CAST(i + 1 AS INTEGER)]) AS bs FROM t),
        |e AS (SELECT unnest(bs) AS bigram FROM b)
        |SELECT bigram, count(*) AS n FROM e GROUP BY bigram
        |ORDER BY n DESC, bigram
        |LIMIT 100""",
    // t26: the oracle rebuilds the same shard-local prefix sum; // is
    // DuckDB integer division = Spark floor(x / 2^11) (budget is a
    // power of two, so the double division is exact in binary)
    "t26_pack" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(doc_id % 8 AS INTEGER) AS shard,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |      AS INTEGER) AS n_tokens
        |  FROM documents),
        |o AS (SELECT doc_id, shard, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS tok_offset
        |  FROM t)
        |SELECT doc_id, shard, n_tokens, tok_offset,
        |  CAST(tok_offset // 2048 AS INTEGER) AS bin,
        |  (tok_offset + n_tokens - 1) // 2048 > tok_offset // 2048
        |    AS crosses_bin
        |FROM o""",
    // t27: digit-wise hex parse as in t12 (DuckDB has no conv())
    "t27_shuffle_shard" ->
      """WITH t AS (SELECT doc_id,
        |    md5('shuf:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |  FROM documents),
        |b AS (SELECT doc_id, shuffle_key,
        |    CAST(CAST(list_sum(list_transform(range(1, 7),
        |      i -> (strpos('0123456789abcdef',
        |        substr(shuffle_key, CAST(i AS INTEGER), 1)) - 1)
        |        * (16 ** (6 - i)))) AS BIGINT) % 16 AS INTEGER) AS shard
        |  FROM t)
        |SELECT doc_id, shuffle_key, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard
        |    ORDER BY shuffle_key, doc_id) AS INTEGER) AS pos
        |FROM b""",
    // t28: the weighted lottery replayed list-wise; range(1, w+1) is
    // DuckDB's [1, w] = Spark's sequence(1, w)
    "t28_weighted_sample" ->
      """WITH t AS (SELECT doc_id, lang,
        |    CAST(least(64,
        |      (len(regexp_split_to_array(trim(text), '\s+')) + 31) // 32)
        |      AS INTEGER) AS w_units
        |  FROM documents),
        |k AS (SELECT doc_id, lang, w_units,
        |    list_min(list_transform(range(1, w_units + 1),
        |      i -> md5('ws:' || CAST(doc_id AS VARCHAR) || ':'
        |        || CAST(i AS VARCHAR)))) AS min_ticket
        |  FROM t),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY min_ticket, doc_id) AS rn FROM k)
        |SELECT doc_id, lang, w_units, min_ticket,
        |  CAST(rn AS INTEGER) AS rnk
        |FROM r WHERE rn <= 10""",
    "t12_hash_split" ->
      """WITH b AS (SELECT doc_id,
        |  CAST(list_sum(list_transform(range(1, 7),
        |    i -> (strpos('0123456789abcdef',
        |      substr(md5(text), CAST(i AS INTEGER), 1)) - 1)
        |      * (16 ** (6 - i)))) AS BIGINT) % 100 AS bkt
        |  FROM documents)
        |SELECT doc_id, CAST(bkt AS INTEGER) AS bucket,
        |  CASE WHEN bkt < 90 THEN 'train'
        |    WHEN bkt < 95 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM b""",
    // m3: the frame GRID is byte-derived on both engines; the frame
    // content here is a char substring (DuckDB's md5/substring are
    // VARCHAR-only) — identical to Spark's byte slice on this ASCII
    // corpus, the one residual char/byte seam in the media family
    "m3_frame_sample" ->
      """WITH m AS (SELECT doc_id, text,
        |    octet_length(encode(text)) AS n FROM documents)
        |SELECT doc_id, CAST(t.i AS INTEGER) AS frame_idx,
        |  md5(substring(text, CAST(t.i * 256 + 1 AS INTEGER), 64))
        |    AS frame_hash
        |FROM m, LATERAL unnest(range(0,
        |  greatest(0, CAST((n - 1) // 256 AS INTEGER)) + 1)) AS t(i)""",
    // m4: the stride decimation re-derived over the same hex rendering
    // m7: segment relation re-derived as in m5, distinct (doc, hash),
    // ≥2-doc support cut, pair count with the same ≥2 threshold
    "m7_segment_neardup" ->
      """WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n_bytes FROM documents),
        |s AS (SELECT doc_id, hx,
        |    unnest(range(0, (n_bytes - 1) // 256 + 1)) AS seg FROM m),
        |x AS (SELECT DISTINCT doc_id,
        |    md5(substring(hx, CAST(seg * 512 + 1 AS INTEGER), 512))
        |      AS seg_hash FROM s),
        |sh AS (SELECT seg_hash FROM (
        |    SELECT seg_hash, count(*) AS nd FROM x GROUP BY 1)
        |  WHERE nd >= 2),
        |c AS (SELECT x.* FROM x JOIN sh USING (seg_hash))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  count(*) AS n_shared_segs
        |FROM c a JOIN c b
        |  ON a.seg_hash = b.seg_hash AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""",
    "m5_segment_stats" ->
      """WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n_bytes FROM documents),
        |s AS (SELECT doc_id, hx,
        |    unnest(range(0, (n_bytes - 1) // 256 + 1)) AS seg FROM m),
        |x AS (SELECT doc_id, seg,
        |    substring(hx, CAST(seg * 512 + 1 AS INTEGER), 512) AS shx
        |  FROM s)
        |SELECT doc_id, CAST(seg AS INT) AS seg,
        |  CAST(length(shx) // 2 AS INT) AS seg_bytes,
        |  md5(shx) AS seg_hash,
        |  CAST(list_sum(list_transform(range(1, length(shx) + 1),
        |    i -> strpos('0123456789ABCDEF',
        |      substring(shx, CAST(i AS INT), 1)) - 1)) AS BIGINT)
        |    AS nibble_sum
        |FROM x""",
    "m4_resize" ->
      """WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS n FROM documents),
        |d AS (SELECT doc_id, hx,
        |    CAST(n // 32 AS INTEGER) AS in_h FROM m),
        |e AS (SELECT doc_id, hx,
        |    CAST(in_h // 2 AS INTEGER) AS out_h
        |  FROM d WHERE in_h // 2 > 0),
        |sm AS (SELECT doc_id, out_h,
        |    array_to_string(list_transform(
        |      range(0, out_h * 16),
        |      i -> substring(hx,
        |        CAST(((i // 16) * 2 * 32 + (i % 16) * 2) * 2 + 1
        |          AS INTEGER), 2)), '') AS sampled
        |  FROM e)
        |SELECT doc_id, 16 AS out_w, out_h, md5(sampled) AS resized_hash,
        |  CAST(length(sampled) // 2 AS INTEGER) AS n_out_bytes
        |FROM sm""",
  )).map { case (k, v) => k -> v.stripMargin.replace('\n', ' ') }
}
