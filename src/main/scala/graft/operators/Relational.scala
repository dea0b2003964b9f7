package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, IntegerType}

import graft.Tables._

/** The declared relational query surface of the reference engine
  * (SURVEY.md §2.4, §2.6–§2.9), re-expressed over the driver test schema so
  * each operator class is oracle-checkable against DuckDB.
  *
  * Scale notes (100 TB design):
  *  - every dimension join (`region`/`nation`/`customer`-sized sides) is an
  *    explicit `broadcast()` — the reference's joins are all tiny-dimension
  *    lookups (`psi_table.c:213-249`, `mpeg2_sp.c:1181-1203`) and must never
  *    shuffle the fact side;
  *  - aggregations are plain `groupBy` so Catalyst plans partial (map-side)
  *    aggregation before the exchange;
  *  - sums/averages over floating columns go through `DECIMAL(18,2)` so the
  *    result is order-independent — a parallel double-sum is
  *    non-deterministic across partitionings, which would make results
  *    unstable run-to-run at scale (and fail the oracle hash);
  *  - every ordered operator (window/top-k) carries a unique tie-breaker
  *    key, so results are stable under any partitioning.
  */
object Relational {

  /** Fact-table scans spread across the session's cores
    * ([[graft.Tables.spread]] — a no-op on multi-split layouts): the
    * single-file bench layout otherwise serializes the map side of
    * every aggregate/window on one core. Applied SURGICALLY, not as a
    * file-wide shadow: the exchange costs ~0.1 s, so only queries
    * whose post-scan compute dominates (measured ≥ 0.15 s win on the
    * sf0.1 sweep) opt in; light scan-and-aggregate queries keep the
    * bare scan. The round-9 noise-flagged opt-ins (a15, a29, a50,
    * a55-via-a50, a61) were re-measured in round 10 on interleaved
    * per-query minima (2 runs per side) and the BARE scan won every
    * one (e.g. a15 0.83 vs 1.17 s, a29 cpu 3.9 vs 6.6 s) — their
    * multi-subtree plans pay k exchanges that runtime exchange reuse
    * only partly collapses, so they are reverted. spreadCached stays
    * rejected for wide fact tables (~4 cpu-s per cache re-read,
    * round 9). Filters and column pruning push through the exchange,
    * so opted-in scans keep their PushedFilters/ReadSchema. */
  private def eventsSp(s: SparkSession, d: String): DataFrame =
    graft.Tables.spreadBy(s, graft.Tables.events(s, d),
      s"$d/events.parquet", col("event_id"))
  private def lineitemSp(s: SparkSession, d: String): DataFrame =
    graft.Tables.spread(s, d, "lineitem", col("l_orderkey"))

  private val dec = DecimalType(18, 2)

  // ---------------------------------------------------------------- filters
  /** F-class: range predicate + projection, pushed to the parquet scan
    * (reference analog: PID/time filtering, `mpeg2_sp.c:1369-1382`). */
  def f1RangeFilter(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp") &&
          col("l_discount") > 0.05)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")

  /** F-class: IN-list predicate (reference analog: registered-PID set
    * routing, `mpeg2_sp.c:1400-1408`). */
  def f2InFilter(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .filter(col("p_size").isin(5, 11, 28, 40) && col("p_type") =!= "ECONOMY")
      .select("p_partkey", "p_name", "p_brand", "p_size")

  /** F-class: string LIKE + equality (reference analog: URL/tag routing,
    * `stream_procs_api_http.c:113-173`). */
  def f3LikeFilter(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING" && col("c_name").like("%12%"))
      .select("c_custkey", "c_name", "c_acctbal")

  /** F-class: conjunctive predicates over measure + dictionary columns. */
  def f4PredCombo(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(
        col("o_orderstatus") === "O" &&
          col("o_totalprice").between(1000.0, 50000.0))
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")

  /** F10 — URL route dispatch (`main/stream_procs_api_http.c:113-173`,
    * `mpeg2_sp.c` REST path scheme): classify request paths against the
    * reference's route table and extract the path parameters
    * (stream-proc id, program-processor id) — pure codegen'd regexp,
    * no UDF. URLs are derived deterministically from the events table
    * so the same relation exists on the oracle side. */
  def f10UrlRouting(s: SparkSession, d: String): DataFrame = {
    val uid = col("user_id").cast("string")
    val url = when(pmod(col("event_id"), lit(4L)) === 0,
        lit("/stream_procs.json"))
      .when(pmod(col("event_id"), lit(4L)) === 1,
        concat(lit("/stream_procs/"), uid, lit(".json")))
      .when(pmod(col("event_id"), lit(4L)) === 2,
        concat(lit("/stream_procs/"), uid, lit("/program_processors/"),
          pmod(col("event_id"), lit(3L)).cast("string"), lit(".json")))
      .otherwise(concat(lit("/bogus/"), uid))
    val instPat = "^/stream_procs/([0-9]+)\\.json$"
    val procPat =
      "^/stream_procs/([0-9]+)/program_processors/([0-9]+)\\.json$"
    events(s, d)
      .select(col("event_id"), url.as("url"))
      .select(
        col("event_id"), col("url"),
        when(col("url") === "/stream_procs.json", "list")
          .when(col("url").rlike(instPat), "instance")
          .when(col("url").rlike(procPat), "program_proc")
          .otherwise("not_found").as("route"),
        numParam(regexp_extract(col("url"), "^/stream_procs/([0-9]+)", 1))
          .as("sp_id"),
        numParam(regexp_extract(col("url"),
          "/program_processors/([0-9]+)", 1)).as("prog_id"))
  }

  /** '' (regexp_extract's no-match) → null, else int — ANSI-safe. */
  private def numParam(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = when(c =!= "", c.cast("int"))

  /** The REST response envelope (`stream_procs_api_http.c:52`). */
  private[graft] val envelopeFmt =
    "{\"code\":%d,\"status\":\"%s\",\"message\":\"%s\",\"data\":null}"

  /** §2.12 HTTP status mapping as data
    * (`stream_procs_api_http.c:230-291`): the (method, end_code) →
    * (http code, status) translation table is a 20-row broadcast
    * dimension — a join, not control flow — and each request gets the
    * `{"code","status","message","data"}` envelope rendered through the
    * shared format constant. Requests synthesized deterministically
    * from events, like f10's URL dispatch. */
  def f11StatusEnvelope(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dim = Seq(
      ("GET", "success", 200, "OK"),
      ("POST", "success", 201, "Created"),
      ("PUT", "success", 200, "OK"),
      ("DELETE", "success", 200, "OK"),
      ("GET", "enotfound", 404, "Not Found"),
      ("POST", "enotfound", 404, "Not Found"),
      ("PUT", "enotfound", 204, "No Content"),
      ("DELETE", "enotfound", 404, "Not Found"),
      ("GET", "notmodified", 304, "Not Modified"),
      ("POST", "notmodified", 409, "Conflict"),
      ("PUT", "notmodified", 204, "No Content"),
      ("DELETE", "notmodified", 404, "Not Found"),
      ("GET", "eagain", 304, "Not Modified"),
      ("POST", "eagain", 409, "Conflict"),
      ("PUT", "eagain", 204, "No Content"),
      ("DELETE", "eagain", 404, "Not Found"),
      ("GET", "error", 404, "Not Found"),
      ("POST", "error", 404, "Not Found"),
      ("PUT", "error", 404, "Not Found"),
      ("DELETE", "error", 404, "Not Found"))
      .toDF("method", "end_code", "http_code", "status")
    val methods = array(Seq("GET", "POST", "PUT", "DELETE").map(lit): _*)
    val codes = array(Seq("success", "enotfound", "notmodified", "eagain",
      "error").map(lit): _*)
    events(s, d)
      .select(
        col("event_id"),
        element_at(methods,
          (pmod(col("event_id"), lit(4L)) + 1).cast("int")).as("method"),
        element_at(codes,
          (pmod(col("user_id"), lit(5L)) + 1).cast("int")).as("end_code"))
      .join(broadcast(dim), Seq("method", "end_code"))
      .select(
        col("event_id"), col("method"), col("end_code"), col("http_code"),
        format_string(envelopeFmt,
          col("http_code"), col("status"), col("end_code")).as("envelope"))
  }

  // ------------------------------------------------------------------ joins
  /** J1/J3: 3-way inner equi-join fact⋈fact-dim⋈dim with grouped rollup
    * (reference: PAT⋈PMT⋈SDT program summary, `mpeg2_sp.c:1120-1235`).
    * `customer` is broadcast; lineitem⋈orders co-shuffles on the order key.
    */
  def j1InnerJoin(s: SparkSession, d: String): DataFrame =
    lineitemSp(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      // no broadcast hint: customer scales with the data — AQE picks
      // broadcast at small SF and shuffle join at cluster scale
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "o_orderpriority")
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("l_extendedprice").cast(dec)).cast("double").as("revenue"))

  /** J3: left outer join with null-fill (reference: PAT left-join SDT with
    * missing service name → "", `mpeg2_sp.c:1181-1190`). */
  def j2LeftJoinNullFill(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("order_cnt"),
        coalesce(sum(col("o_totalprice").cast(dec)).cast("double"), lit(0.0))
          .as("total_spent"))

  /** J4: left semi join — existence flag (reference: processor_associated,
    * `mpeg2_sp.c:1192-1203`). */
  def j3SemiJoin(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(
        lineitem(s, d).filter(col("l_quantity") >= 45.0),
        col("o_orderkey") === col("l_orderkey"),
        "left_semi")
      .select("o_orderkey", "o_totalprice")

  /** Left anti join (reference: disassociated-processor detection — registry
    * keys absent from the current PAT, `mpeg2_sp.c:872-875`). */
  def j4AntiJoin(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .join(
        orders(s, d).filter(col("o_totalprice") > 300000.0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  /** J-class: snowflake dimension chain region⋈nation⋈supplier, all
    * broadcastable (reference: PSI dimension-table chain). */
  def j5DimChain(s: SparkSession, d: String): DataFrame =
    broadcast(region(s, d))
      .join(nation(s, d), col("n_regionkey") === col("r_regionkey"))
      .join(supplier(s, d), col("s_nationkey") === col("n_nationkey"), "left")
      .groupBy("r_name", "n_name")
      .agg(count(col("s_suppkey")).as("suppliers"))

  // ----------------------------------------------------------- aggregations
  /** A-class: TPC-H Q1-shaped grouped aggregation (sum/avg/count) —
    * map-side partial agg then single shuffle on the (tiny) group key. */
  def a1GroupedAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base"),
        sum(col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec)))
          .cast("double").as("sum_disc_price"),
        (sum(col("l_quantity").cast(dec)).cast("double") /
          count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))

  /** A-class: exact distinct cardinality per group. */
  def a2CountDistinct(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        countDistinct(col("o_custkey")).as("uniq_custs"),
        count(lit(1)).as("cnt"))

  /** A1/A3 analog: tumbling 1-hour event-time window per type
    * (reference: 1 s bitrate buckets, `mpeg2_sp.c:913-916`). Window start is
    * emitted as a formatted string so the oracle compare is
    * timezone/precision-proof. */
  def a3TumblingWindow(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(dec)).cast("double").as("total"))

  /** A3/A4 analog: sliding window (1 h width, 30 min slide) — each event
    * lands in 2 windows (reference: 60 s window / 1 s slide ring buffers,
    * `stats/src/stats.c:418-461`). */
  def a4SlidingWindow(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(dec)).cast("double").as("total"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n"), col("total"))

  /** A6 analog: log-trace dedup — collapse repeats to (key, count, last-seen)
    * (`mpeg2_sp.c:961-991`). */
  def a6LogDedup(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("cnt"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("last_seen"),
        countDistinct(col("user_id")).as("uniq_users"))

  /** The raw HLL estimates — the engine-specific layer of a7. Verify
    * dumps this relation to parquet ([[graft.OpLake]]); the oracle reads
    * the dump and bound-checks it against DuckDB's own exact
    * count(DISTINCT). Spark's HLL++ is deterministic, so the dump equals
    * what the a7 query recomputes. */
  private[graft] def a7Estimates(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        approx_count_distinct(col("l_suppkey")).as("approx_supps"))

  /** A-class extension: approximate distinct (HLL) — the scalable
    * cardinality path (SURVEY §2.7). Driver-checkable form: exact
    * distinct counts (independently re-derived by the oracle) plus
    * "estimate within 3·rsd of exact" flags, where the oracle takes the
    * estimates from the Verify dump and the exact side from its own
    * count(DISTINCT) — the estimator's accuracy contract is what gets
    * hash-matched, not the (engine-specific) estimate bits. rsd = 0.05
    * (Spark's default), bound = 3·rsd. */
  def a7ApproxDistinct(s: SparkSession, d: String): DataFrame = {
    def ok(est: org.apache.spark.sql.Column,
        exact: org.apache.spark.sql.Column) =
      abs(est.cast("double") - exact.cast("double")) <=
        lit(0.15) * exact.cast("double")
    val exact = lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_suppkey")).as("exact_supps"))
    a7Estimates(s, d).join(exact, Seq("l_returnflag"))
      .select(
        col("l_returnflag"), col("exact_parts"), col("exact_supps"),
        ok(col("approx_parts"), col("exact_parts")).as("parts_within_rsd"),
        ok(col("approx_supps"), col("exact_supps")).as("supps_within_rsd"))
  }

  /** a11 estimates — approx_percentile (KLL/GK-class sketch) per group:
    * the quantile companion of a7's HLL. Dumped by [[graft.OpLake]] so
    * the oracle can check the sketch's rank-error CONTRACT (ε ≤
    * 1/accuracy for any partition merge order) instead of the bits. */
  private[graft] def a11Estimates(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(expr("approx_percentile(l_extendedprice, " +
        "array(0.5D, 0.9D, 0.99D), 10000)").as("q"))
      .select(col("l_returnflag"),
        col("q").getItem(0).as("p50"),
        col("q").getItem(1).as("p90"),
        col("q").getItem(2).as("p99"))

  /** a11 — approximate quantiles with the error bound asserted in-query
    * (the a7 pattern): the exact rank of each estimate must sit within
    * 2ε·n + 1 of the target rank. Driver-checkable even though the
    * sketch itself is engine-specific. */
  def a11ApproxQuantiles(s: SparkSession, d: String): DataFrame = {
    val est = a11Estimates(s, d)
    val r = lineitem(s, d)
      .join(broadcast(est), Seq("l_returnflag"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") <= col("p50"), 1L).otherwise(0L))
          .as("r50"),
        sum(when(col("l_extendedprice") <= col("p90"), 1L).otherwise(0L))
          .as("r90"),
        sum(when(col("l_extendedprice") <= col("p99"), 1L).otherwise(0L))
          .as("r99"))
    def ok(rank: org.apache.spark.sql.Column, q: Double) =
      abs(rank.cast("double") - lit(q) * col("n").cast("double")) <=
        lit(0.0002) * col("n").cast("double") + lit(1.0)
    r.select(col("l_returnflag"), col("n"),
      ok(col("r50"), 0.5).as("p50_ok"),
      ok(col("r90"), 0.9).as("p90_ok"),
      ok(col("r99"), 0.99).as("p99_ok"))
  }

  /** A5: gauge registers — running peak + current (last-by-sequence) value
    * per series (reference: getPeakRSS/getCurrentRSS each second,
    * `stats/src/stats.c:398-416,527-536`). `max_by` keeps the read of the
    * "current" value associative, so the plan stays a single partial-agg +
    * one exchange on the (tiny) series key at any scale. */
  def a5Gauges(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("event_type")
      .agg(
        max(col("value")).as("peak_gauge"),
        expr("max_by(value, event_id)").as("current_gauge"))

  /** A7: profiling mean over count-based batches — the reference logs mean
    * ns/packet per 10 000-packet batch (`mpeg2_sp.c:1305-1308,1385-1418`);
    * batch id = floor(seq / N) so the grouping needs no ordering or state. */
  def a9BatchProfile(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(floor(col("event_id") / 1000L).as("batch"))
      .agg(
        count(lit(1)).as("n"),
        (sum(col("value").cast(dec)).cast("double") / count(lit(1)))
          .as("mean_value"))

  /** A3/A4 stats-series projection (`stats.c:232-340`): per key, the
    * newest-60 per-minute counts as an ordered series — the flot
    * `[[x,y]...]` shape, emitted as JSON for engine-neutral compare. */
  def a8StatsSeries(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(
        col("event_type"),
        date_format(date_trunc("minute", col("ts")), "yyyy-MM-dd HH:mm")
          .as("m"))
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(
        to_json(slice(
          sort_array(collect_list(struct(col("m"), col("n"))), asc = false),
          1, 60)).as("series"))

  /** Shared printf/format_string templates for the composed flot stats
    * document — the oracle SQL interpolates the SAME constants, so the
    * JSON text is definitionally identical on both sides. */
  private[graft] val statsXyFmt = "[%d,%d]"
  private[graft] val statsSeriesFragFmt = "{\"label\":\"%s\",\"data\":[%s]}"
  private[graft] val statsDocFmt =
    "{\"cpu_number\":%d,\"time_window\":60,\"cpu_stats\":[%s]}"

  /** §2.12 the composed flot stats document (`GET /stats/cpu_stats.json`
    * shape, `stats/src/stats.c:232-267`): one JSON doc with the series
    * count, the 60-slot window, and per-series `{label, data:[[x,y]…]}`
    * arrays — x runs newest=0, emitted descending exactly like the
    * reference's `for(j=WINDOW-1; j>=0; j--)` loop. Series = per-minute
    * event counts per type (the a8 newest-60 shape); all-integer
    * rendering so the cross-engine compare is exact. */
  def ts12StatsDoc(s: SparkSession, d: String): DataFrame = {
    val perMin = events(s, d)
      .groupBy(
        col("event_type"),
        date_format(date_trunc("minute", col("ts")), "yyyy-MM-dd HH:mm")
          .as("m"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy(col("m").desc)
    val ser = perMin
      .withColumn("x", row_number().over(w) - 1)
      .filter(col("x") < 60)
      .groupBy("event_type")
      .agg(array_join(
        transform(
          reverse(array_sort(collect_list(struct(col("x"),
            format_string(statsXyFmt, col("x"), col("n")).as("frag"))))),
          e => e.getField("frag")), ",").as("data_json"))
    ser
      .select(struct(col("event_type"),
        format_string(statsSeriesFragFmt, col("event_type"),
          col("data_json")).as("frag")).as("x"))
      .agg(
        count(lit(1)).as("n_types"),
        array_join(transform(array_sort(collect_list(col("x"))),
          e => e.getField("frag")), ",").as("stats_json"))
      .select(format_string(statsDocFmt, col("n_types"), col("stats_json"))
        .as("doc"))
  }

  // --------------------------------------------------- window functions (W)
  /** W2: latest/best-per-key via row_number (reference: latest-version table
    * state, `psi_proc.c:361-390`). */
  def w1RowNumber(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
  }

  /** W-class: rank with ties + top-3 per partition. */
  def w2Rank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("s_acctbal").desc, col("s_suppkey"))
    supplier(s, d)
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 3)
      .select("s_nationkey", "s_suppkey", "s_name", "rnk")
  }

  /** W1 analog: lag/lead over a per-key ordered stream (reference:
    * continuity-counter check vs previous packet, `ts_dec.c:98-172`). */
  def w3LagLead(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    events(s, d)
      .select(
        col("user_id"), col("event_id"),
        lag(col("event_id"), 1).over(w).as("prev_id"),
        lead(col("event_id"), 1).over(w).as("next_id"))
  }

  /** W-class: running sum over an explicit row frame. */
  def w4RunningSum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, d)
      .select(
        col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast(dec)).over(w).cast("double")
          .as("running_spent"))
  }

  /** A2 analog: running peak with per-key state (reference:
    * input_bitrate_peak register, `app_prog_proc.c:110-115`). */
  def w5RunningMax(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .select(
        col("user_id"), col("event_id"), col("value"),
        max(col("value")).over(w).as("peak"))
  }

  /** W-class: distribution analytics — quartile bucket + percentile rank
    * per partition (the stats-series percentile view of A3/A4). */
  def w7Ntile(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    customer(s, d)
      .select(
        col("c_custkey"), col("c_mktsegment"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"))
  }

  /** A-class: ROLLUP — hierarchical subtotals in one pass (region →
    * nation → total), the multi-grain stats projection shape. */
  def a10Rollup(s: SparkSession, d: String): DataFrame = {
    // the Dataset rollup API trips the ambiguous-self-join detector in
    // this Spark version (Expand duplicates the grouping attrs and the
    // plan-id tags make them look like a self-join); the SQL resolution
    // path has no plan-id tags and plans the identical Expand+Aggregate
    supplier(s, d).createOrReplaceTempView("a10_supplier")
    nation(s, d).createOrReplaceTempView("a10_nation")
    region(s, d).createOrReplaceTempView("a10_region")
    s.sql(
      """SELECT r_name, n_name, count(*) AS suppliers,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_bal
        |FROM a10_supplier
        |JOIN a10_nation ON s_nationkey = n_nationkey
        |JOIN a10_region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin)
  }

  /** W-class: dense_rank + cume_dist under TIES — ordered by the
    * non-unique acctbal alone, so tied rows share a dense rank and a
    * cumulative-distribution value (both well-defined and deterministic
    * under ties, unlike row_number without a tiebreaker). cume_dist is
    * one exact division, IEEE-identical cross-engine. */
  def w9DenseCume(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"))
    customer(s, d)
      .select(
        col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        dense_rank().over(w).as("drank"),
        cume_dist().over(w).as("cdist"))
  }

  /** A-class: EXACT median via a TWO-PASS order-statistic probe — no
    * full per-group sort anywhere (the naive `row_number() OVER
    * (PARTITION BY flag ORDER BY price)` sorts a third of the fact
    * table in one task per group at scale):
    *
    *  1. histogram pass: per (group, price-bucket) counts — a pure
    *     partial-aggregated groupBy; the cumulative walk runs on the
    *     bucket GRID (groups × ~10² rows, broadcastable), locating the
    *     ≤2 buckets that contain the middle positions k1/k2 and how
    *     many rows precede each;
    *  2. probe pass: only candidate-bucket rows (≈1/buckets of the
    *     data) rank locally per (group, bucket) and offset by the
    *     broadcast below-count — buckets partition the price space, so
    *     local-rank + below IS the exact global rank under the same
    *     (price, orderkey, linenumber) tie order.
    *
    * The two middle values average through DECIMAL, so there is NO
    * interpolation arithmetic to drift between engines. The oracle
    * keeps the single-sort SQL formulation — same relation, different
    * physical strategy; a11's sketch remains the rank-error-bounded
    * alternative. */
  def a15ExactMedian(s: SparkSession, d: String): DataFrame = {
    val width = 1000
    val li = graft.Tables.lineitem(s, d).select(col("l_returnflag"),
      col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val hist = li
      .groupBy(col("l_returnflag"),
        floor(col("l_extendedprice") / width).as("bkt"))
      .agg(count(lit(1)).as("c"))
    val totals = hist.groupBy("l_returnflag").agg(sum(col("c")).as("n"))
    val wcum = Window.partitionBy(col("l_returnflag")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cand = hist
      .withColumn("cum", sum(col("c")).over(wcum))
      .join(broadcast(totals), Seq("l_returnflag"))
      .withColumn("k1", floor((col("n") + 1) / 2))
      .withColumn("k2", floor(col("n") / 2) + 1)
      .withColumn("lo", col("cum") - col("c") + 1)
      .filter((col("k1") >= col("lo") && col("k1") <= col("cum")) ||
        (col("k2") >= col("lo") && col("k2") <= col("cum")))
      .select(col("l_returnflag"), col("bkt"),
        (col("lo") - 1).as("below"), col("n"), col("k1"), col("k2"))
    val wloc = Window.partitionBy(col("l_returnflag"), col("bkt"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"),
        col("l_linenumber"))
    li.withColumn("bkt", floor(col("l_extendedprice") / width))
      .join(broadcast(cand), Seq("l_returnflag", "bkt"))
      .withColumn("rn", row_number().over(wloc) + col("below"))
      .filter(col("rn") === col("k1") || col("rn") === col("k2"))
      .groupBy("l_returnflag")
      .agg(max(col("n")).as("n"),
        (sum(col("l_extendedprice").cast(dec)).cast("double") /
          count(lit(1)).cast("double")).as("median_price"))
  }

  /** W-class: RANGE frame — a value-based sliding window (sum/count of
    * each user's trailing hour, bounded by the ORDER-BY VALUE, not by a
    * row count): the complement of w4's ROWS frame. Equal timestamps
    * share one frame, so the result is deterministic without a
    * tie-breaker; sums route through DECIMAL per the file contract. */
  def w10RangeFrame(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"))
      .rangeBetween(-3600, Window.currentRow)
    events(s, d)
      .withColumn("ts_sec", unix_timestamp(col("ts")))
      .select(
        col("user_id"), col("event_id"), col("ts"),
        sum(col("value").cast(dec)).over(w).cast("double").as("hour_sum"),
        count(lit(1)).over(w).as("hour_n"))
  }

  /** J-class: BUCKETED RANGE JOIN — point-in-interval join (event →
    * containing session) via coarse time buckets: sessions explode into
    * the hour buckets they overlap, events key into their bucket, the
    * equi-join runs on (user, bucket) and an in-task containment filter
    * refines. This is the technique that keeps interval joins off the
    * BroadcastNestedLoopJoin path at scale — the join is hash-keyed, the
    * fan-out is bounded by interval length / bucket width. Intervals come
    * from [[w8SessionAgg]], so every event lands in exactly one session. */
  def j6RangeJoin(s: SparkSession, d: String): DataFrame = {
    val sess = w8SessionAgg(s, d)
      .withColumn("hb", explode(sequence(
        floor(unix_timestamp(col("session_start")) / 3600),
        floor(unix_timestamp(col("session_end")) / 3600))))
    events(s, d)
      .withColumn("hb", floor(unix_timestamp(col("ts")) / 3600))
      .join(sess, Seq("user_id", "hb"))
      .filter(col("ts") >= col("session_start") &&
        col("ts") <= col("session_end"))
      .select(col("event_id"), col("user_id"), col("session_id"))
  }

  /** A-class: CUBE — every grouping-grain combination (type × hour, type,
    * hour, total) in one Expand pass, with a grouping id so subtotal rows
    * are distinguishable from genuine NULL groups. Same multi-grain stats
    * projection family as a10's ROLLUP; one scan feeds all grains, so the
    * cost at 100 TB is one shuffle on the expanded grouping key, not four
    * separate aggregations. SQL path for the same resolver reason as a10. */
  def a12Cube(s: SparkSession, d: String): DataFrame = {
    events(s, d).createOrReplaceTempView("a12_events")
    s.sql(
      """SELECT event_type, CAST(hour(ts) AS INT) AS hr,
        |  CAST(grouping(event_type) * 2 + grouping(hour(ts)) AS INT)
        |    AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM a12_events
        |GROUP BY CUBE (event_type, hour(ts))""".stripMargin)
  }

  /** S-class: PIVOT — long→wide reshape with an EXPLICIT value list, so
    * the plan is a single partial-aggregated pass (no extra distinct-values
    * job, deterministic schema at any scale). One conditional-sum column
    * per event type; sums route through DECIMAL per the file contract. */
  def s5Pivot(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(sum(col("value").cast(dec)).cast("double"))

  /** S-class: UNPIVOT — wide→long reshape, the inverse of [[s5Pivot]]:
    * melt the per-type columns back into (event_type, total) rows. Pure
    * row-local Expand (no shuffle beyond the pivot's own aggregation);
    * nulls (user×type cells with no events) are dropped on both engines
    * explicitly, since SQL UNPIVOT excludes them by default. */
  def s6Unpivot(s: SparkSession, d: String): DataFrame =
    s5Pivot(s, d)
      .unpivot(
        Array(col("user_id")),
        Array(col("click"), col("error"), col("purchase"),
          col("signup"), col("view")),
        "event_type", "total")
      .filter(col("total").isNotNull)

  /** W-class: session windows (gaps-and-islands) — assign a session id per
    * user from 30-min inactivity gaps, then aggregate per session. Two
    * ordered windows + one groupBy, all partitioned by user_id: one shuffle
    * on the user key, bounded per-key state, no global ordering anywhere.
    * Batch analog of the streaming `StreamingOps.sessionize`
    * (reference: inter-packet-arrival session split, `ts_dec.c:98-172`). */
  def w8SessionAgg(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gap = unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w))
    events(s, d)
      .withColumn("new_sess", when(gap.isNull || gap > 1800, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        sum(col("value").cast(dec)).cast("double").as("session_value"))
  }

  /** A-class: correlation/covariance with EXACT moment accumulation —
    * the five raw moments (Σx, Σy, Σxy, Σx², Σy²) are DECIMAL sums, so
    * they are partitioning-independent, and the closed-form corr/covar
    * assembly is pure IEEE-exact double ops (·, −, ÷, sqrt) over the
    * decimal→double conversions — bit-identical across engines, unlike
    * built-in corr()'s streaming covariance updates whose result depends
    * on merge order. One partial-aggregated pass, no second scan. */
  /** a14 — CORRELATION + POP COVARIANCE, float-free (round-8 rework):
    * the double formulation was exact in its moments but cast each
    * >2^53 decimal to double before composing — and cross-engine
    * decimal→double conversion is not guaranteed correctly rounded
    * (the sf0.001 sweep caught DuckDB one ULP off Spark on two
    * groups). Now: corr·10⁹ as one positive-mod floor division of the
    * exact ×10⁴-scaled covariance numerator by
    * isqrt(va4)·isqrt(vb4), where each integer root snaps a double
    * sqrt seed to the true root with exact decimal comparisons —
    * bit-stable cross-engine at any sf — plus the covariance sign and
    * the exact ×100 fixed-point population covariance. Envelope ≤ sf1
    * (10⁹·cov4 grazes 38 digits past that; the documented fix is
    * pre-aggregating to daily grain like a59's). */
  def a14Corr(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity").cast(dec)
    val y = col("l_extendedprice").cast(dec)
    val big = DecimalType(38, 4)
    val agg = lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum((x * y).cast(big)).as("sxy"),
        sum((x * x).cast(big)).as("sxx"),
        sum((y * y).cast(big)).as("syy"))
    def isq(v: String): String = {
      val r = s"cast(floor(sqrt(cast(($v) as double))) as decimal(38,0))"
      s"(case when ($r + 1) * ($r + 1) <= ($v) then $r + 1 " +
        s"when $r * $r > ($v) then $r - 1 else $r end)"
    }
    agg
      .selectExpr("l_returnflag", "n",
        "cast(sx * 100 as decimal(38,0)) as sx2",
        "cast(sy * 100 as decimal(38,0)) as sy2",
        "cast(sxy * 10000 as decimal(38,0)) as sxy4",
        "cast(sxx * 10000 as decimal(38,0)) as sxx4",
        "cast(syy * 10000 as decimal(38,0)) as syy4")
      .selectExpr("l_returnflag", "n",
        "cast(n as decimal(38,0)) * sxy4 - sx2 * sy2 as cov4",
        "cast(n as decimal(38,0)) * sxx4 - sx2 * sx2 as va4",
        "cast(n as decimal(38,0)) * syy4 - sy2 * sy2 as vb4")
      // den = isqrt(va4)·isqrt(vb4): each root seeds from one double
      // sqrt and then snaps to the true integer root with EXACT
      // decimal comparisons (seed error ≪ 1), so both engines land on
      // the identical denominator; corr·10⁹ is then one positive-mod
      // floor division — NULL when a variance is degenerate (constant
      // column), the a47/a59 guard convention
      .selectExpr("l_returnflag", "n", "cov4",
        s"""case when va4 = 0 or vb4 = 0 then cast(null as decimal(38,0))
           |else ${isq("va4")} * ${isq("vb4")} end as den"""
          .stripMargin.replace('\n', ' '))
      .selectExpr("l_returnflag", "n",
        "cast(case when cov4 > 0 then 1 when cov4 < 0 then -1 " +
          "else 0 end as int) as cov_sign",
        """case when den is null then cast(null as bigint) else
          |cast(((cast(1000000000 as decimal(38,0)) * cov4)
          |  - ((((cast(1000000000 as decimal(38,0)) * cov4) % den)
          |    + den) % den)) div den as bigint) end
          |as corr_ppb""".stripMargin.replace('\n', ' '),
        // covar_pop ×100, exact signed floor (positive-mod form)
        """cast((cov4 - (((cov4 % (cast(n as decimal(38,0)) * n * 100))
          |    + (cast(n as decimal(38,0)) * n * 100))
          |  % (cast(n as decimal(38,0)) * n * 100)))
          |  div (cast(n as decimal(38,0)) * n * 100) as bigint)
          |as covar_pop_x100""".stripMargin.replace('\n', ' '))
  }

  /** A-class: exact MODE (most frequent value per group) with a
    * deterministic tie policy (smallest value wins) — two partial-
    * aggregated passes: count per (group, value), then max_by on
    * (count, -value). Never a sort, never a window: the per-group state
    * is one running champion, so the operator holds at any group
    * cardinality. (Built-in mode() leaves ties undefined — unusable
    * under an exact cross-engine oracle.) */
  def a16Mode(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderpriority", "o_orderstatus")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("o_orderpriority")
      .agg(
        // lexicographic struct ordering: (-cnt, value) minimized picks
        // the highest count, then the smallest value on ties
        min_by(col("o_orderstatus"),
          struct((-col("cnt")).as("nc"), col("o_orderstatus")))
          .as("mode_status"),
        max(col("cnt")).as("mode_n"))

  /** A-class: dispersion statistics (population/sample variance +
    * stddev) assembled from the same EXACT DECIMAL raw moments as a14 —
    * partitioning-independent where the built-in streaming-update
    * stddev is merge-order-dependent; the closed forms are ·,−,÷,sqrt
    * over decimal→double conversions, bit-identical cross-engine. */
  /** a20 — DISPERSION, float-free (round-8 rework, same motivation as
    * a14): variance and stddev as exact ×100 fixed-point integers.
    * var_x100 = floor(va4 / (n·n'·100)) on the exact ×10⁴ moment
    * numerator; stddev_x100 = isqrt(va4 div (n·n')) — exact because
    * ⌊√⌊x⌋⌋ = ⌊√x⌋ and the isqrt operand is variance-sized (≪ 2^52),
    * so the double-sqrt seed corrects to the true integer root with a
    * ±1 CASE on both engines. */
  def a20Dispersion(s: SparkSession, d: String): DataFrame = {
    val x = col("l_extendedprice").cast(dec)
    val big = DecimalType(38, 4)
    val agg = lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(x).as("sx"),
        sum((x * x).cast(big)).as("sxx"))
    def isq(v: String): String = {
      val r = s"cast(floor(sqrt(cast(($v) as double))) as decimal(38,0))"
      s"(case when ($r + 1) * ($r + 1) <= ($v) then $r + 1 " +
        s"when $r * $r > ($v) then $r - 1 else $r end)"
    }
    agg
      .selectExpr("l_returnflag", "n",
        "cast(n as decimal(38,0)) * cast(sxx * 10000 as decimal(38,0))" +
          " - cast(sx * 100 as decimal(38,0))" +
          " * cast(sx * 100 as decimal(38,0)) as va4")
      .selectExpr("l_returnflag", "n",
        "cast(va4 div (cast(n as decimal(38,0)) * n * 100) as bigint)" +
          " as var_pop_x100",
        s"cast(${isq("va4 div (cast(n as decimal(38,0)) * n)")}" +
          " as bigint) as stddev_pop_x100",
        "cast(case when n < 2 then null else va4 div " +
          "(cast(n as decimal(38,0)) * (n - 1) * 100) end as bigint)" +
          " as var_samp_x100",
        s"cast(case when n < 2 then null else " +
          s"${isq("va4 div (cast(n as decimal(38,0)) * (n - 1))")} " +
          "end as bigint) as stddev_samp_x100")
  }

  /** A-class: ordered string aggregation (LISTAGG semantics) — the
    * grouped concatenation a report/log register renders. Composed as
    * sort_array(collect_set) + array_join so the result is
    * deterministic under ANY partitioning (raw listagg concatenates in
    * arrival order — unusable under an exact oracle); per-group input
    * is the bounded distinct-status set. */
  def a21StringAgg(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_orderpriority")
      .agg(array_join(sort_array(collect_set(col("o_orderstatus"))), ",")
        .as("statuses"))

  // ------------------------------------------- sketch family part 3 (a13)
  // (HLL distinct a7, quantiles a11, heavy hitters a13 — the bounded-
  // error aggregates a stats daemon keeps where exact state won't fit.)

  private val CmDepth = 4
  private val CmWidth = 1024L

  private def cmCells(df: DataFrame): DataFrame =
    df.select(col("term"), explode(expr(
      s"""transform(sequence(0, ${CmDepth - 1}),
         |  i -> named_struct('depth', i,
         |    'cell', pmod(xxhash64(i, term), ${CmWidth}L)))""".stripMargin))
      .as("dc"))
      .select(col("term"), col("dc.depth").as("depth"),
        col("dc.cell").as("cell"))

  private def corpusTerms(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(explode(split(trim(col("text")), "\\s+")).as("term"))

  /** COUNT–MIN SKETCH estimates for every candidate token, built and
    * probed DECLARATIVELY: sketch(i,j) = #token instances whose row-i
    * hash lands in cell j — exactly a groupBy over (depth, cell), so the
    * build is one partial-aggregated shuffle collapsing to ≤ depth×width
    * = 4096 rows no matter the corpus size; the probe joins each
    * candidate's 4 cells back against the BROADCAST sketch and takes the
    * row-minimum. No driver-side sketch object, no UDAF — the sketch IS
    * a DataFrame, so it merges/unions/persists like any relation. */
  def a13Estimates(s: SparkSession, d: String): DataFrame = {
    val terms = corpusTerms(s, d)
    val sketch = cmCells(terms)
      .groupBy("depth", "cell").agg(count(lit(1)).as("cnt"))
    cmCells(terms.distinct())
      .join(broadcast(sketch), Seq("depth", "cell"))
      .groupBy("term").agg(min(col("cnt")).as("est"))
  }

  /** A-class: heavy hitters via count–min — estimates vs exact counts
    * with the CM error contract asserted per token: est ≥ exact (one-
    * sided by construction) and est − exact ≤ 3N/width (Markov over the
    * per-row expected collision mass N/width, integer math only so both
    * engines compute the identical booleans). The oracle re-derives
    * exact counts and the bounds from the dumped estimates. */
  def a13HeavyHitters(s: SparkSession, d: String): DataFrame = {
    val exact = corpusTerms(s, d)
      .groupBy("term").agg(count(lit(1)).as("exact"))
    val n = corpusTerms(s, d).agg(count(lit(1)).as("n_total"))
    a13Estimates(s, d)
      .join(exact, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col("term"), col("est"), col("exact"),
        (col("est") >= col("exact")).as("lower_ok"),
        ((col("est") - col("exact")) * lit(CmWidth) <=
          lit(3L) * col("n_total")).as("eps_ok"))
  }

  // ------------------------------------------- stateful-operator analogs (R)
  /** R1 analog: discontinuity/sessionization — count session starts per key
    * where the gap to the previous event exceeds 30 min (reference: CC
    * continuity audit, `ts_dec.c:98-172`). */
  def r1GapDetect(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .groupBy("user_id")
      .agg(
        sum(
          when(
            col("prev_ts").isNull ||
              col("ts").cast("double") - col("prev_ts").cast("double") > 1800d,
            1L).otherwise(0L)).as("sessions"),
        count(lit(1)).as("n_events"))
  }

  /** R4 analog: latest record per key (reference: latest-version table
    * register, `psi_proc.c:329-397`). */
  def r2LatestPerKey(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
    events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type", "value")
  }

  /** R3 analog: group-completeness — all section numbers 1..last present
    * (reference: table completeness check, `psi_table_dec.c:183-205`). */
  def r3GroupComplete(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(
        countDistinct(col("l_linenumber")).as("n_parts"),
        max(col("l_linenumber")).as("last_part"))
      .withColumn("complete", col("n_parts") === col("last_part").cast("long"))

  // ------------------------------------------- sorts / limits / set ops (S)
  /** §2.9: global top-k with total order (reference: newest-60 stats series,
    * `stats.c:255-262`). TakeOrderedAndProject — no full sort at scale. */
  def s1TopK(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  /** §2.9: EXCEPT (reference: table-change / anti-membership compare,
    * `psi_table.c:74-105`). */
  def s2Except(s: SparkSession, d: String): DataFrame =
    customer(s, d).filter(col("c_acctbal") > 9000.0)
      .select(col("c_nationkey").as("nationkey")).distinct()
      .except(supplier(s, d).filter(col("s_acctbal") > 9000.0)
        .select(col("s_nationkey").as("nationkey")).distinct())

  /** §2.9: INTERSECT. */
  def s3Intersect(s: SparkSession, d: String): DataFrame =
    customer(s, d).select(col("c_nationkey").as("nationkey")).distinct()
      .intersect(supplier(s, d).select(col("s_nationkey").as("nationkey"))
        .distinct())

  /** §2.9: UNION ALL with aligned schemas (reference: llist append). */
  def s4UnionAll(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .select(col("c_custkey").as("id"), lit("customer").as("kind"))
      .unionByName(
        supplier(s, d)
          .select(col("s_suppkey").as("id"), lit("supplier").as("kind")))

  // ------------------------------------------------------- scalar functions
  /** §2.10 strings: upper/length/concat/regexp_extract (reference: URL id
    * extraction `stream_procs_api_http.c:153-155`, tag strings). */
  def sc1StringFuncs(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .select(
        col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_upper"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("cust_num"),
        length(col("c_name")).as("name_len"),
        concat(col("c_mktsegment"), lit("-"), col("c_custkey").cast("string"))
          .as("tag"))

  /** §2.10 JSON: field extraction from a JSON document column (reference:
    * cJSON settings parse, `mpeg2_sp.c:905-1027`). */
  def sc2Json(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k_val"))

  /** §2.10 dates: truncation/extraction/formatting (reference: log-trace
    * date strings, `mpeg2_sp.c:983-985`). */
  def sc3Datetime(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast(IntegerType).as("o_year"),
        month(col("o_orderdate")).cast(IntegerType).as("o_month"),
        date_format(col("o_orderdate"), "yyyy-MM").as("o_ym"))

  /** §2.10 bit ops: mask/shift/xor — the reference's field-extraction
    * arithmetic (`ts.h:51-74`) over integer keys. */
  def sc4BitOps(s: SparkSession, d: String): DataFrame =
    lineitemSp(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_orderkey").bitwiseAND(lit(255L))).as("lo_byte"),
        (col("l_orderkey").bitwiseXOR(lit(12345L))).as("xored"),
        shiftright(col("l_orderkey"), 4).as("shifted"))
      .distinct()

  /** §2.10 base64 + hash (reference: base64 PMT octet stream,
    * `app_prog_proc.c:734-744`; CRC section integrity). */
  def sc5Base64Hash(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(
        col("p_partkey"),
        base64(col("p_name").cast("binary")).as("b64"),
        md5(col("p_name").cast("binary")).as("h"))

  /** J-class: FULL OUTER join — the one join type the matrix lacked:
    * customers with no orders AND order-keys with no customer row both
    * survive, null-filled. At scale a full outer cannot broadcast
    * either side (both preserve unmatched rows) — it is always the
    * shuffle plan, which is exactly what this query pins. */
  def j7FullOuter(s: SparkSession, d: String): DataFrame = {
    val ordAgg = orders(s, d)
      .filter(col("o_totalprice") > 150000.0)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_big_orders"))
    customer(s, d)
      .filter(col("c_mktsegment") === "MACHINERY")
      .select(col("c_custkey"), col("c_name"))
      .join(ordAgg, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        coalesce(col("c_name"), lit("")).as("c_name"),
        coalesce(col("n_big_orders"), lit(0L)).as("n_big_orders"))
  }

  /** W-class: first_value / nth_value over an ordered frame — the
    * remaining members of the window-function roster (earliest and
    * third-earliest order value per customer, running frame). */
  def w11FirstNth(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, d)
      .select(
        col("o_custkey"), col("o_orderkey"),
        first_value(col("o_totalprice")).over(w).as("first_price"),
        nth_value(col("o_totalprice"), 3).over(w).as("third_price"))
  }

  /** W-class: ordered-sequence (FUNNEL) matching — users whose event
    * stream contains view < click < purchase in strict time order (the
    * MATCH_RECOGNIZE / funnel-analysis staple). Stepwise-minimum
    * formulation: each stage is a filtered map-side-combinable min
    * aggregate joined to the previous stage's per-user anchor — three
    * hash-shuffles on user_id, NO window and NO per-user event sort
    * (the naive per-user ORDER BY sorts the whole fact table; this
    * scans it three times cheaply instead, and each later stage's
    * input is already cut to users that survived the previous one). */
  def w12Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("event_type"),
      col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") > col("t_view"))
      .groupBy("user_id")
      .agg(min(col("ts")).as("t_click"), min(col("t_view")).as("t_view"))
    ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") > col("t_click"))
      .groupBy("user_id")
      .agg(min(col("ts")).as("t_purchase"),
        min(col("t_click")).as("t_click"),
        min(col("t_view")).as("t_view"))
      .select("user_id", "t_view", "t_click", "t_purchase")
  }

  /** S-class: keyset-free PAGINATION — global ORDER BY + OFFSET + LIMIT
    * (page 3 of 50). A global sort is the honest cost of OFFSET
    * pagination at scale (every page pays the sort down to its offset);
    * the unique tie-breaker keeps pages stable under any partitioning. */
  def s7Pagination(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .offset(100)
      .limit(50)

  /** W-class: TIME-WEIGHTED average over irregular samples — each
    * event's value is held until the next event, so the mean weights
    * values by hold duration (the right average for sampled gauges:
    * the reference's bitrate/CPU windows resample exactly because
    * arithmetic means over-weight bursts — `stats.c`'s fixed-period
    * accumulators). Hold gaps are integer micros; the weighted mass
    * accumulates in DECIMAL (exact, partitioning-independent) with ONE
    * IEEE division at the end — the a14/a20 exact-moment discipline.
    * The lead() window partitions by user (bounded key), never global. */
  def w14TimeWeighted(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("tsus", "event_id")
    events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsus"),
        // exact integer CENTS: decimal quantization is integer-valued
        // before the long cast, so truncate-vs-round cannot differ.
        // Integer mass matters: a DECIMAL mass drifts cross-engine
        // (DuckDB casts decimal→double as int128→double then /10^scale
        // — two roundings vs Spark's one; measured last-ulp mismatches
        // on 3/150 users), while integer→double rounds identically.
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
          .as("cents"))
      .withColumn("dt", lead(col("tsus"), 1).over(w) - col("tsus"))
      .filter(col("dt").isNotNull)
      .groupBy("user_id")
      .agg(
        sum(col("dt")).as("held_us"),
        // per-row product ≤ 5.6e4 cents × 5e11 µs ≈ 2.8e16 (fits a
        // long); per-user sums take decimal(38,0) overflow headroom
        (sum((col("cents") * col("dt")).cast("decimal(38,0)"))
          .cast("double") /
          (sum(col("dt")) * 100).cast("double")).as("twa"))
  }

  /** J-class: SALTED skew join, driver-checked — the escape hatch for a
    * hot join key too big for one reducer when the dim side is too big
    * to broadcast: the fact side gets a deterministic row-hash salt,
    * the dim side replicates `salts` ways, and the join key becomes
    * (key, salt) so each hot key spreads over `salts` partitions.
    * Salting is semantics-neutral, so the oracle is the PLAIN join —
    * this row proves the rewrite preserves results, the same contract
    * SkewSpec pins on synthetic hot keys. At 100 TB you'd salt only
    * the AQE-detected hot-key subset; replicating the whole dim is the
    * oracle-sized form. */
  def j9SaltedJoin(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .select(col("l_suppkey").as("suppkey"), col("l_quantity"))
    val sup = supplier(s, d)
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    Skew.saltedJoin(li, sup, "suppkey", salts = 8)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
  }

  /** S-class: KEYSET (seek-method) pagination — the scale-correct
    * alternative to s7's OFFSET: the anchor row's (price, key) from the
    * previous page becomes a predicate, so the engine does a filtered
    * per-partition top-k (TakeOrderedAndProject: no global sort, no
    * Exchange, work independent of page depth) instead of sorting down
    * to OFFSET. The (o_totalprice, o_orderkey) pair is a total order,
    * so pages are stable under concurrent appends — why every cursor
    * API (and the reference's paged list endpoints) seeks, not skips. */
  def s8KeysetPage(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(col("o_totalprice") < 150000.0 ||
        (col("o_totalprice") === 150000.0 && col("o_orderkey") > 4000))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .limit(50)

  /** A-class: boolean/conditional aggregates — every/any/count_if per
    * group (the reference's per-instance health flags: "all sections
    * CRC-ok", "any discontinuity seen", counts of flagged packets). */
  def a17BoolAggs(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        every(col("l_quantity") > 0).as("all_positive"),
        some(col("l_discount") > 0.09).as("any_big_discount"),
        count_if(col("l_tax") > 0.05).as("n_high_tax"))

  /** §2.10 array/map higher-order functions as a DEDICATED oracle row
    * (previously only exercised inside composite queries): transform /
    * filter / aggregate / distinct-sort-slice over the token array —
    * the reference's llist walks (`psi.c` throughout) as declarative
    * array lambdas, all inside one projection. The transformed array is
    * emitted as a CSV scalar (`lens_csv`) — the driver harness sorts
    * result columns and cannot hash raw array cells, so every query
    * surfaces scalars only; the lambda stays in the plan. */
  def sc7HigherOrder(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .select(
        col("doc_id"),
        size(col("t")).as("n_tokens"),
        expr("array_join(transform(t, x -> length(x)), ',')").as("lens_csv"),
        expr("aggregate(transform(t, x -> length(x)), 0, (a, x) -> a + x)")
          .cast("long").as("total_len"),
        expr("size(filter(t, x -> length(x) >= 5))").as("n_long"),
        expr("array_join(slice(sort_array(array_distinct(t)), 1, 3), ',')")
          .as("first3"))

  /** sc9 — HUGEINT comparator CANARY, retired round 10. In round 9 the
    * engine emitted the same BIGINT sum twice while the ORACLE left one
    * copy as DuckDB's native `sum()` HUGEINT and cast the twin to
    * BIGINT; the resulting hash-red (rows/schema green, twin green)
    * PROVED the driver comparator's HUGEINT rendering caused the r7/r8
    * a45/a46/m12 reds (of 314 oracles, exactly those three plus k5
    * emitted an uncast HUGEINT column). The oracle now casts both
    * columns, so this row is a plain all-green regression guard. */
  def sc9HugeintCanary(s: SparkSession, d: String): DataFrame =
    nation(s, d)
      .groupBy("n_regionkey")
      .agg(sum("n_nationkey").as("canary_hugeint"))
      .select(col("n_regionkey"),
        col("canary_hugeint"),
        col("canary_hugeint").as("canary_bigint"))

  /** J-class: NULL-SAFE equality join (`<=>` / IS NOT DISTINCT FROM) —
    * null keys match null keys instead of vanishing, the semantics a
    * nullable-dimension lookup needs (a plain equi-join silently drops
    * every null-keyed row). Still a hash join: null-safe equality is a
    * valid hash key. */
  def j8NullSafeJoin(s: SparkSession, d: String): DataFrame = {
    val k = when(pmod(col("user_id"), lit(7L)) === 0L, lit(null))
      .otherwise(pmod(col("user_id"), lit(7L)))
    val left = events(s, d).select(col("event_id"), k.as("k"))
    val dim = events(s, d).filter(col("event_type") === "signup")
      .select(k.as("kd")).distinct()
    left.join(dim, col("k") <=> col("kd"))
      .groupBy("k").agg(count(lit(1)).as("n"))
  }

  /** A-class: explicit GROUPING SETS — arbitrary (non-hierarchical)
    * grain list, the member of the grouping family cube/rollup can't
    * express: exactly the two single-column grains, no grand total, no
    * finest grain. One Expand pass like a10/a12. */
  def a18GroupingSets(s: SparkSession, d: String): DataFrame = {
    events(s, d).createOrReplaceTempView("a18_events")
    s.sql(
      """SELECT event_type, CAST(hour(ts) AS INT) AS hr,
        |  CAST(grouping(event_type) * 2 + grouping(hour(ts)) AS INT)
        |    AS gid,
        |  count(*) AS n
        |FROM a18_events
        |GROUP BY GROUPING SETS ((event_type), (hour(ts)))""".stripMargin)
  }

  /** A-class: HISTOGRAM binning — width_bucket over a fixed range (10
    * price bins + underflow/overflow), counted per group: the
    * distribution-sketch projection a stats page renders. One partial-
    * aggregated pass; the bin math is floor of an IEEE division, so
    * DuckDB re-derives identical bins from the spelled-out formula
    * (it has no width_bucket). */
  def a19Histogram(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_returnflag"),
        width_bucket(col("l_extendedprice"),
          lit(0.0), lit(110000.0), lit(10)).as("bucket"))
      .groupBy("l_returnflag", "bucket")
      .agg(count(lit(1)).as("n"))

  /** t24: pairwise EDIT DISTANCE over the eval set — the
    * character-level near-dup verifier (levenshtein is the classic DP,
    * integer-identical across engines). Deliberately bounded to the
    * 10-doc eval set: all-pairs edit distance is quadratic in pairs AND
    * O(n·m) per pair, so at scale it only ever runs as the VERIFY step
    * behind a banded candidate generator (the same role the jaccard
    * verify plays behind t7's LSH). */
  def t24EditDistance(s: SparkSession, d: String): DataFrame = {
    val ev = documents(s, d).filter(col("doc_id") < 10)
      .select(col("doc_id"), col("text"))
    ev.as("a").join(ev.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.text"), col("b.text")).as("edit_dist"))
  }

  /** §2.10 URL parsing — the reference's `uri_parser` surface (input/
    * output_url settings, `mpeg2_sp.c:722-736`; query-string values via
    * `uri_parser_query_str_get_value`): synthesize the reference's own
    * URL shapes (`udp://host:port?key=v`) and decompose them with
    * parse_url — scheme, host, port, one query value — all inside one
    * codegen projection. */
  def sc6UrlParse(s: SparkSession, d: String): DataFrame = {
    val url = concat(
      lit("udp://224.0.0."), pmod(col("event_id"), lit(256L)).cast("string"),
      lit(":"), (lit(2000L) + pmod(col("event_id"), lit(1000L))).cast("string"),
      lit("?pkts=7&tag=t"), col("user_id").cast("string"))
    events(s, d).select(
      col("event_id"),
      url.as("url"),
      parse_url(url, lit("PROTOCOL")).as("scheme"),
      parse_url(url, lit("HOST")).as("host"),
      parse_url(url, lit("QUERY"), lit("tag")).as("tag"),
      regexp_extract(url, ":(\\d+)\\?", 1).cast("int").as("port"))
  }

  /** W-class: COHORT RETENTION — the user-lifecycle companion of
    * w12's funnel: users are grouped by first-active day (cohort) and
    * counted by distinct activity on each later day offset — the
    * retention-matrix every product-analytics engine ships. Shape is
    * three map-side-combinable aggregations, no window: (user, day)
    * dedup first (cuts the fact table to ≤ users×days before anything
    * shuffles on user), min-day cohort, then one count per
    * (cohort, offset) cell — a count DISTINCT users is free because
    * (user, day) is already unique. Days are integer epoch-day indices
    * (`unix_micros div 86400e6`): timezone-proof across engines, and
    * the subtraction stays in Long arithmetic. */
  def w15Retention(s: SparkSession, d: String): DataFrame = {
    val ud = events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val cohort = ud.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    ud.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** A-class: exact closed-form OLS TREND per group — the regression
    * companion of a14's corr / a20's dispersion, from the same exact-
    * moment discipline: integer hour offsets × integer cents, moment
    * sums in DECIMAL(38,0) (partitioning-independent), slope/intercept
    * assembled with the textbook closed form in double at the very
    * end. Hour granularity keeps n·Σxy and n·Σx² under 2^53 at gate
    * scale so the final int→double casts are exact in both engines;
    * at sf ≫ 1 the t21 quantize-and-dump pattern is the fallback.
    * The global min-hour anchor is a one-row broadcast, not a second
    * pass over the data per row. */
  def a22Ols(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      expr("unix_micros(ts) div 3600000000").as("xh"),
      (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
        .as("cents"))
    val base = ev
      .crossJoin(broadcast(ev.agg(min(col("xh")).as("x0"))))
      .select(col("event_type"), (col("xh") - col("x0")).as("x"),
        col("cents").as("y"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val m = base.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"),
      sum(dec(col("y"))).as("sy"),
      sum(dec(col("x") * col("y"))).as("sxy"),
      sum(dec(col("x") * col("x"))).as("sxx"))
    val num = dec(col("n")) * col("sxy") - col("sx") * col("sy")
    val den = dec(col("n")) * col("sxx") - col("sx") * col("sx")
    m.select(col("event_type"), col("n"),
        (num.cast("double") / den.cast("double")).as("slope"))
      .join(m.select(col("event_type"), col("sx"), col("sy")),
        Seq("event_type"))
      .select(col("event_type"), col("n"), col("slope"),
        ((col("sy").cast("double") - col("slope") *
          col("sx").cast("double")) / col("n").cast("double"))
          .as("intercept"))
  }

  /** W-class: ROLLING 7-DAY DISTINCT ACTIVES (trailing-window DAU) —
    * exact distinct-count over a sliding range, which no single
    * window function expresses at scale without a per-day re-scan.
    * The coverage-explode formulation: each distinct (user, day)
    * contributes the 7 report days it covers, dedup (user, report
    * day), count — three shuffles of user-day-sized relations, no
    * global window, no 7× data re-read. Report days are clipped to
    * days observed in the data (the trailing ghost days a pure
    * explode would invent carry no meaning). */
  def w17RollingDau(s: SparkSession, d: String): DataFrame = {
    val ud = events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val cover = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("rday"))
      .distinct()
    val days = ud.select(col("day").as("rday")).distinct()
    cover.join(broadcast(days), Seq("rday"))
      .groupBy("rday").agg(count(lit(1)).as("dau7"))
  }

  /** a23 — MERGEABLE HLL sketches (Apache DataSketches, Spark-native
    * `hll_sketch_agg`/`hll_union_agg`): per-DAY user sketches are
    * built once, then weekly cardinality comes from UNIONING the day
    * sketches — no second pass over events. This is the sketch family's
    * distributed design point (a7 only estimated in one shot): at
    * 100 TB the day sketches are tiny persisted artifacts (≤ 2^12
    * buckets each) and any rollup window (week, month, trailing 28d)
    * is a re-union of them, cost O(days), not O(events). Gate form:
    * the dumped estimates must sit within 10% of the exact weekly
    * distinct — the merge accuracy CONTRACT is what's hash-matched,
    * not the sketch bits (the a7/a11/a13 pattern). */
  private[graft] def a23Estimates(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("day")
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      .groupBy((col("day") / 7).cast("long").as("week"))
      .agg(expr("cast(hll_sketch_estimate(hll_union_agg(sk)) as bigint)")
        .as("est_users"))

  def a23HllMerge(s: SparkSession, d: String): DataFrame = {
    val exact = events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .select(col("user_id"), (col("day") / 7).cast("long").as("week"))
      .groupBy("week")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    a23Estimates(s, d).join(exact, Seq("week"))
      .select(col("week"), col("exact_users"),
        (abs(col("est_users").cast("double") -
          col("exact_users").cast("double")) <=
          lit(0.1) * col("exact_users").cast("double"))
          .as("est_within_bound"))
  }

  /** The engine-side layer of a26: per-behavior HLL sketches and their
    * union estimate, one bounded row — Verify dumps it (`a26_est`) so
    * the oracle shares the sketch numerology. */
  private[graft] def a26Estimates(s: SparkSession, d: String): DataFrame = {
    val sk = events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy("event_type")
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val perType = sk.select(col("event_type"),
      expr("cast(hll_sketch_estimate(sk) as bigint)").as("est"))
    perType.filter(col("event_type") === "click")
      .select(col("est").as("est_click"))
      .crossJoin(perType.filter(col("event_type") === "purchase")
        .select(col("est").as("est_purchase")))
      .crossJoin(sk.agg(
        expr("cast(hll_sketch_estimate(hll_union_agg(sk)) as bigint)")
          .as("est_union")))
  }

  /** a26 — SKETCH SET ALGEBRA: estimate the overlap of two behavioral
    * audiences (clickers ∩ purchasers) WITHOUT ever co-shuffling them,
    * via inclusion–exclusion over mergeable HLL sketches — the
    * composable-profile trick a7/a23 use for cardinality, extended to
    * intersections. At 100 TB each audience sketch is a few KB
    * regardless of user count and the estimate is sketch arithmetic;
    * the exact intersection (a key-partitioned semi-join here) is
    * computed alongside as the audit column, with the estimate
    * asserted inside a 10% bound in integer math. */
  def a26SketchIntersection(s: SparkSession, d: String): DataFrame = {
    val est = a26Estimates(s, d)
    def audience(t: String) = eventsSp(s, d)
      .filter(col("event_type") === t).select("user_id").distinct()
    val exact = audience("click").join(audience("purchase"), "user_id")
      .agg(count(lit(1)).as("exact_inter"))
    est.crossJoin(exact)
      .select(col("est_click"), col("est_purchase"), col("est_union"),
        (col("est_click") + col("est_purchase") - col("est_union"))
          .as("est_inter"),
        col("exact_inter"),
        (abs(col("est_click") + col("est_purchase") - col("est_union")
          - col("exact_inter")) * 10 <= col("exact_inter"))
          .as("within_bound"))
  }

  /** w18 — per-day TRENDING top-3 event types: the daily-leaderboard
    * query every analytics surface serves. Aggregate FIRST (map-side-
    * combined count per (day, type) — the only corpus-scaled shuffle),
    * then rank inside the day partition; WindowGroupLimit prunes to 3
    * rows per partition before the final exchange (the t28/e13
    * shape). (count desc, type) is a total order → deterministic cut. */
  def w18Trending(s: SparkSession, d: String): DataFrame = {
    val counts = events(s, d)
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("day"))
      .orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
  }

  /** a24 — integer-exact ANOMALY FLAGS (|z| > 3 against a trailing
    * 7-day window) per event type: the alerting rule of an ops
    * dashboard, in the reference's stats-doc family (§2.12) but over
    * the event firehose. The z² > 9 test is cross-multiplied into pure
    * integers — (n·x − S)² > 9·(n·Q − S²) with S/Q the trailing
    * sum/sum-of-squares — so both engines agree bit-for-bit with no
    * sqrt and no division. Scale shape: aggregate FIRST (the only
    * corpus-scaled shuffle is the (type, day) count), then the window
    * runs over the tiny (types × days) aggregate, partitioned by
    * type — never global, never over raw events. */
  def a24Anomaly(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-7, -1)
    daily
      .withColumn("win_n", count(lit(1)).over(w))
      .withColumn("s", coalesce(sum(col("n_events")).over(w), lit(0L)))
      .withColumn("q",
        coalesce(sum(col("n_events") * col("n_events")).over(w), lit(0L)))
      .select(col("event_type"), col("day"), col("n_events"),
        col("win_n"),
        (col("win_n") === 7 &&
          (col("win_n") * col("n_events") - col("s")) *
            (col("win_n") * col("n_events") - col("s")) >
            lit(9L) * (col("win_n") * col("q") - col("s") * col("s")))
          .as("anomaly"))
  }

  /** w19 — LONGEST CONSECUTIVE-DAY STREAK per user (gaps-and-islands):
    * the engagement metric behind every "N-day streak" badge. The
    * classic formulation: distinct (user, day), then `day −
    * row_number()` is constant exactly within a run of consecutive
    * days, so grouping on that difference yields the islands. Scale
    * shape: the only corpus-scaled shuffle is the distinct on
    * (user, day); the window partitions by user_id (bounded per key,
    * never global) and everything after runs on the user-day relation.
    * Pure integer arithmetic — bit-identical across engines. */
  def w19Streaks(s: SparkSession, d: String): DataFrame = {
    val ud = events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    ud.withColumn("grp", col("day") - row_number().over(w))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(max(col("len")).as("longest_streak"),
        sum(col("len")).as("n_active_days"))
  }

  /** w20 — EVENT-TRANSITION MATRIX (the Markov/path-analysis query
    * behind funnels-as-discovered, Sankey flows, next-action
    * prediction): for each ordered (prev → curr) event-type pair,
    * the transition count and row-normalized probability. The lag
    * window partitions by user (per-user session history, never
    * global); after it, the relation collapses to event-type² rows
    * (≤ 25 here), so the per-source total rides the SAME window trick
    * as a25 — no totals join, one exchange on a dimension-bounded
    * relation. Probabilities are one int/int division. */
  def w20Transitions(s: SparkSession, d: String): DataFrame = {
    val wu = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tr = events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts"))
      .withColumn("prev", lag(col("event_type"), 1).over(wu))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("curr"))
      .agg(count(lit(1)).as("n"))
    val wp = Window.partitionBy(col("prev"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tr.withColumn("n_from", sum(col("n")).over(wp))
      .select(col("prev"), col("curr"), col("n"), col("n_from"),
        (col("n").cast("double") / col("n_from").cast("double")).as("p"))
  }

  /** a25 — EXACT WEIGHTED MEDIAN (price weighted by quantity) per
    * return flag: the weighted companion of a15's exact median, same
    * two-level discipline so no window ever sees a corpus-scaled
    * input. Pass 1 collapses rows to distinct (flag, cents) with
    * aggregated integer weight — the only corpus-scaled shuffle, fully
    * map-side combined. Pass 2 runs the cumulative-weight window over
    * that distinct-value relation (bounded by price cardinality, not
    * row count) and picks the smallest value whose cumulative weight
    * reaches half the total — the textbook lower weighted median, in
    * pure integer arithmetic (cents × integer quantities), so both
    * engines agree bit-for-bit. */
  def a25WeightedMedian(s: SparkSession, d: String): DataFrame = {
    val vw = lineitemSp(s, d)
      .select(col("l_returnflag"),
        (col("l_extendedprice").cast(dec) * 100).cast("long").as("cents"),
        col("l_quantity").cast("long").as("wt"))
      .groupBy("l_returnflag", "cents")
      .agg(sum(col("wt")).as("w"))
    // cum and wtot share ONE window exchange: the running sum and the
    // per-flag total are both windows over the same (flag, cents)
    // partitioning+sort, so Spark evaluates them in a single Window
    // operator — no second scan/agg of vw, no totals join
    val wc = Window.partitionBy(col("l_returnflag")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wt = Window.partitionBy(col("l_returnflag"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    vw.withColumn("cum", sum(col("w")).over(wc))
      .withColumn("wtot", sum(col("w")).over(wt))
      .filter(col("cum") * 2 >= col("wtot") &&
        (col("cum") - col("w")) * 2 < col("wtot"))
      .select(col("l_returnflag"), col("wtot"),
        (col("cents").cast("double") / 100).as("weighted_median_price"))
  }

  /** w21 — CALENDAR GAP FILL: per-user daily activity with every
    * missing day inside the user's [first, last] span materialized as
    * an explicit zero row — the dense series every downstream
    * time-series op (forward fill, rolling windows, trend fits)
    * assumes. The spine is `sequence()` per user (generator-shaped:
    * the explode fans a user's span across tasks, nobody builds a
    * global calendar), joined back to the observed counts on
    * (user, day) — one key-partitioned shuffle each side, no global
    * window. Day spans here are ≤ the observation window; a 100 TB
    * run is bounded by users × span-days exactly like this one. */
  def w21CalendarFill(s: SparkSession, d: String): DataFrame = {
    val byDay = events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("user_id", "day").agg(count(lit(1)).as("n"))
    val spine = byDay.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1)")).as("day"))
    spine.join(byDay, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        col("n").isNull.as("is_filled"))
  }

  /** s9 — KEY-SKEW REPORT: the diagnostic that decides when j9's
    * salted join (or AQE skew handling) is needed. One pass over the
    * keyed relation: per-key counts (partial-aggregated), top-10
    * heavy hitters via TakeOrdered (no global window), each with its
    * integer ppm share and the ceil(n/avg) salt factor a rebalance
    * would use. All arithmetic integer, so the report is bit-exact
    * cross-engine. */
  def s9SkewReport(s: SparkSession, d: String): DataFrame = {
    val perKey = events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val tot = perKey.agg(sum(col("n")).as("total"),
      count(lit(1)).as("n_keys"))
    perKey.orderBy(col("n").desc, col("user_id")).limit(10)
      .crossJoin(broadcast(tot))
      .select(col("user_id"), col("n"), col("total"), col("n_keys"),
        expr("n * 1000000 div total").as("share_ppm"),
        // ceil(n / (total/n_keys)) in pure integer math
        expr("(n * n_keys + total - 1) div total").as("salt_factor"))
  }

  /** w22 — LAST-TOUCH ATTRIBUTION: every conversion (`purchase`) is
    * credited to the LATEST preceding touch (`click`/`view`) by the
    * same user within a 7-day lookback, then the credit is rolled up
    * per channel. The attribution itself is one range-frame window
    * `max` over a touch struct ordered (ts, event_id) — no
    * conversion×touch pair relation ever materializes, which is the
    * 100 TB shape (the naive lookback join is |conv|×|touches/window|).
    * Unattributed conversions are first-class (`channel =
    * 'unattributed'`). Revenue is summed in integer cents; the lag sum
    * is exact micros — bit-stable cross-engine. The oracle re-derives
    * attribution INDEPENDENTLY via the pair join + row_number, so the
    * hash match proves window-max ≡ join-then-pick-latest. */
  def w22Attribution(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("event_type"),
      expr("unix_micros(ts)").as("tsus"), col("event_id"),
      expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
    val lookback = Window.partitionBy("user_id").orderBy("tsus")
      .rangeBetween(-7L * 86400000000L, -1L)
    // max over (tsus, event_id, event_type) = latest touch, ties by id;
    // non-touch rows contribute NULL which max ignores
    val touch = when(col("event_type").isin("click", "view"),
      struct(col("tsus"), col("event_id"), col("event_type")))
    ev.withColumn("t", max(touch).over(lookback))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("t.event_type"), lit("unattributed"))
        .as("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("cents")).as("attributed_cents"),
        sum(when(col("t").isNotNull, col("tsus") - col("t.tsus")))
          .as("sum_lag_us"))
  }

  /** j14 — INTERVAL-OVERLAP CENSUS by sweep-line: per supplier, the
    * maximum number of concurrently open shipment intervals
    * [l_shipdate, +7 days) and when that peak is first reached.
    * Each interval becomes a +1/-1 delta point; deltas collapse per
    * (key, t) map-side; one running sum per key orders the sweep.
    * O(n log n) with NO pair materialization — the overlap-pair join
    * this replaces is quadratic in the concurrency, which is exactly
    * what explodes at 100 TB. Window partitions by supplier (bounded
    * key), all arithmetic integer. */
  def j14Concurrency(s: SparkSession, d: String): DataFrame = {
    // l_shipdate ships as TIMESTAMP_NTZ in some testdata generations;
    // with the session TZ pinned UTC the cast is wall-clock-identical
    // to DuckDB's epoch_us on the same file (Tables.events discipline)
    val iv = lineitemSp(s, d).select(col("l_suppkey").as("supp"),
      expr("unix_micros(cast(l_shipdate as timestamp))").as("t0"))
    val pts = iv.select(col("supp"), col("t0").as("t"), lit(1L).as("delta"))
      .unionByName(iv.select(col("supp"),
        (col("t0") + lit(7L * 86400000000L)).as("t"),
        lit(-1L).as("delta")))
      .groupBy("supp", "t").agg(sum(col("delta")).as("delta"))
    val sweepW = Window.partitionBy("supp").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sweep = pts.withColumn("conc", sum(col("delta")).over(sweepW))
    val peaks = sweep.groupBy("supp")
      .agg(max(col("conc")).as("max_concurrent"))
    // first time the peak is reached: exact two-pass (max, then min t at
    // max) — max_by would tie-break arbitrarily
    sweep.join(peaks, Seq("supp"))
      .filter(col("conc") === col("max_concurrent"))
      .groupBy("supp", "max_concurrent")
      .agg(min(col("t")).as("first_peak_us"))
      .join(iv.groupBy("supp").agg(count(lit(1)).as("n_shipments")),
        Seq("supp"))
      .select(col("supp"), col("n_shipments"), col("max_concurrent"),
        col("first_peak_us"))
  }

  /** w23 batch side — w22's attribution BEFORE rollup: one row per
    * conversion with its channel/lag. This is what the streaming
    * last-touch state machine (TwsOps.attributionStreamTws) emits
    * online; the oracle reads the replay dump, so the w23 hash match
    * IS stream≡batch attribution parity. lag_us = -1 encodes
    * unattributed (the stream emits concrete longs, not nulls). */
  def w23AttributionDetail(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("event_type"),
      expr("unix_micros(ts)").as("tsus"), col("event_id"),
      expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
    val lookback = Window.partitionBy("user_id").orderBy("tsus")
      .rangeBetween(-7L * 86400000000L, -1L)
    val touch = when(col("event_type").isin("click", "view"),
      struct(col("tsus"), col("event_id"), col("event_type")))
    ev.withColumn("t", max(touch).over(lookback))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id"),
        coalesce(col("t.event_type"), lit("unattributed")).as("channel"),
        col("cents"),
        coalesce(col("tsus") - col("t.tsus"), lit(-1L)).as("lag_us"))
  }

  /** a27's decay table: weight 0.5^(age_days/halflife) for every
    * day-age present in the data, POW computed once and quantized to
    * DECIMAL(18,9) — the t21/t50 transcendental-determinism trick
    * applied to exponential decay. Table size = distinct ages
    * (bounded by the observation span in days), broadcast-scale
    * forever. */
  def a27DecayWeights(s: SparkSession, d: String): DataFrame = {
    val days = eventsSp(s, d)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
    val anchor = days.agg(max(col("day")).as("anchor"))
    days.distinct().crossJoin(broadcast(anchor))
      .select((col("anchor") - col("day")).as("age"))
      .distinct()
      .select(col("age"),
        pow(lit(0.5), col("age").cast("double") / lit(7.0))
          .cast("decimal(18,9)").as("w"))
  }

  /** a27 — EXPONENTIALLY-DECAYED ENGAGEMENT: per user, events and
    * revenue weighted by 0.5^(age/7d) against the corpus max-day
    * anchor — the freshness-weighted counter behind trending/decay
    * scoring. The decay table joins broadcast; every sum is exact
    * decimal arithmetic over the pre-quantized weights, so results
    * are partitioning-independent and bit-stable cross-engine. The
    * OUTPUT contract is DOUBLE (one final cast of the exact decimal
    * sum): the only rounding step is the last one, identical in both
    * engines, and — unlike a nano-unit BIGINT — it cannot overflow
    * at 100-TB per-user magnitudes. */
  def a27DecayedEngagement(s: SparkSession, d: String): DataFrame = {
    val ev = eventsSp(s, d).select(col("user_id"),
      expr("unix_micros(ts) div 86400000000").as("day"),
      expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
    val anchor = ev.agg(max(col("day")).as("anchor"))
    ev.crossJoin(broadcast(anchor))
      .select(col("user_id"), (col("anchor") - col("day")).as("age"),
        col("cents"))
      .join(broadcast(a27DecayWeights(s, d)), Seq("age"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("w")).cast("double").as("decayed_count"),
        // cents fits DECIMAL(12,0); keeping the product's precision at
        // 18+12+1 = 31 ≤ 38 stops Spark's precision-loss rule from
        // shaving the scale to 8 (which broke the bit-exact oracle);
        // the double cast happens AFTER the exact sum, never per-row
        sum(col("w") * col("cents").cast(DecimalType(12, 0)))
          .cast("double").as("decayed_cents"))
  }

  /** s10 — EQUI-DEPTH HISTOGRAM (the CBO statistics companion of
    * a19's equi-width bins): decile boundaries over the cents domain
    * WITHOUT a global row window — per-value counts aggregate
    * map-side, the cumulative rank runs over the DISTINCT-VALUE
    * relation only (the a25 discipline: value-cardinality-bounded,
    * never row-scaled), and each tie group lands in the decile of its
    * first rank — deterministic under ties, unlike ntile whose tie
    * placement is row-order-dependent. */
  def s10Equidepth(s: SparkSession, d: String): DataFrame = {
    val vc = events(s, d)
      .select(expr("cast(floor(value * 100 + 0.5) as bigint)")
        .as("cents"))
      .groupBy("cents").agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = vc.agg(sum(col("cnt")).as("n"))
    vc.withColumn("cum_prev", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("bin", expr("cum_prev * 10 div n"))
      .groupBy("bin")
      .agg(sum(col("cnt")).as("n_rows"), min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"))
  }

  /** sc8 — URL CANONICALIZATION + dedup census (the crawl-frontier
    * dedup step: tracking-param strip, case-folded host, fragment and
    * trailing-slash removal — cf. Common Crawl's URL normalization).
    * URLs are synthesized deterministically from events (mixed-case
    * hosts, utm_* params, fragments); canonicalization is pure
    * column work — split/filter/rejoin on the param list instead of
    * regex lookarounds (RE2 has none, so the oracle could not follow)
    * — then an exact groupBy census per canonical form. */
  def sc8UrlCanonical(s: SparkSession, d: String): DataFrame = {
    val host = concat(
      when(pmod(col("event_id"), lit(2L)) === 0, lit("CDN"))
        .otherwise(lit("cdn")),
      pmod(col("user_id"), lit(20L)).cast("string"),
      lit(".Example.COM"))
    val url = concat(lit("https://"), host, lit("/item/"),
      pmod(col("event_id"), lit(50L)).cast("string"),
      when(pmod(col("event_id"), lit(3L)) === 0, lit("/"))
        .otherwise(lit("")),
      lit("?utm_source=news&sku="),
      pmod(col("event_id"), lit(7L)).cast("string"),
      lit("&utm_medium="), pmod(col("event_id"), lit(3L)).cast("string"),
      lit("&ref="), pmod(col("user_id"), lit(5L)).cast("string"),
      when(pmod(col("event_id"), lit(5L)) === 0,
        concat(lit("#sec"), pmod(col("event_id"), lit(4L)).cast("string")))
        .otherwise(lit("")))
    // anchored regexp, not rtrim: Spark's two-arg rtrim is
    // (trimStr, str) while DuckDB's is (str, chars) — a silent
    // argument-order trap; '/+$' is unambiguous in both dialects
    val base = expr("regexp_replace(lower(element_at(" +
      "split(nofrag, '[?]'), 1)), '/+$', '')")
    val params = expr("array_join(filter(split(" +
      "element_at(split(nofrag, '[?]'), 2), '&'), " +
      "p -> NOT startswith(p, 'utm_')), '&')")
    eventsSp(s, d)
      .select(url.as("url"))
      .withColumn("nofrag", element_at(split(col("url"), "#"), 1))
      .withColumn("canonical_url",
        concat(base, when(params === "", lit(""))
          .otherwise(concat(lit("?"), params))))
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("url")).as("n_variants"),
        min(col("url")).as("example_url"))
  }

  /** a28 — EXACT TRIMMED MEAN (5% two-sided): the robust-statistics
    * companion of a15's exact median, same scale shape — per-value
    * counts aggregate map-side, ONE cumulative window over the
    * DISTINCT-value relation per group, and each value contributes
    * the overlap of its rank range with the kept band (k, n−k].
    * No per-group row sort, no row-scaled window; all integer. The
    * oracle re-derives the trim with a direct row_number ranking
    * (tie order inside a value group is irrelevant to the kept
    * multiset), so the hash match proves range-math ≡ rank-filter. */
  def a28TrimmedMean(s: SparkSession, d: String): DataFrame = {
    val li = lineitemSp(s, d).select(col("l_returnflag"),
      expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)")
        .as("cents"))
    val vc = li.groupBy("l_returnflag", "cents")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("l_returnflag").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    vc.withColumn("cum_prev", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .join(broadcast(tot), Seq("l_returnflag"))
      .withColumn("k", expr("n * 5 div 100"))
      .withColumn("kept_n", expr(
        "greatest(0, least(cum_prev + cnt, n - k) - greatest(cum_prev, k))"))
      .filter(col("kept_n") > 0)
      .groupBy("l_returnflag")
      .agg(max(col("n")).as("n"), max(col("k")).as("k"),
        sum(col("kept_n")).as("n_kept"),
        sum(expr("kept_n * cents")).as("sum_kept_cents"),
        min(col("cents")).as("lo_kept"), max(col("cents")).as("hi_kept"))
      .withColumn("mean_kept_micros",
        expr("sum_kept_cents * 1000000 div n_kept"))
  }

  /** Quintile by strictly-below count: q(v) = |rows < v| · 5 / n —
    * the tie-stable form of ntile (a whole tie group shares one
    * quintile, decided by its FIRST rank; s10's decile formula at
    * k = 5). Computed on the distinct-value relation only. */
  private def quintile(perUser: DataFrame, vcol: String): DataFrame = {
    val vc = perUser.groupBy(vcol).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(vcol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = vc.agg(sum(col("cnt")).as("n"))
    vc.withColumn("below", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col(vcol), expr("below * 5 div n").as("q"))
  }

  /** w24 — RFM SEGMENTATION: the classic customer-value grid over
    * purchase events — recency (days since last purchase vs the
    * corpus anchor), frequency (purchase count) and monetary (cents
    * sum), each scored 1–5 by tie-stable quintiles (recency
    * inverted: smaller = better). Three distinct-value windows, one
    * row per purchasing user, all integer — bit-exact oracle. */
  def w24Rfm(s: SparkSession, d: String): DataFrame = {
    val p = events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
    val anchor = p.agg(max(col("day")).as("anchor"))
    // 4 longs per user, consumed 4× (three quintile passes + join);
    // checkpointed, not cached: the in-memory COLUMNAR cache cost
    // ~0.6-2.3 cpu-s per warm re-scan of even this tiny relation
    // (DiagStages, round 10), the checkpointed RDD re-read is flat
    val base = graft.SessionMemo.checkpointed(s, "Relational.w24_base", d)(
      p.groupBy("user_id")
        .agg(max(col("day")).as("last_day"),
          count(lit(1)).as("frequency"), sum(col("cents")).as("monetary"))
        .crossJoin(broadcast(anchor))
        .select(col("user_id"),
          (col("anchor") - col("last_day")).as("recency_days"),
          col("frequency"), col("monetary")))
    base
      .join(broadcast(quintile(base, "recency_days")
        .select(col("recency_days"), (lit(5) - col("q")).as("r_score"))),
        Seq("recency_days"))
      .join(broadcast(quintile(base, "frequency")
        .select(col("frequency"), (col("q") + 1).as("f_score"))),
        Seq("frequency"))
      .join(broadcast(quintile(base, "monetary")
        .select(col("monetary"), (col("q") + 1).as("m_score"))),
        Seq("monetary"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"),
        expr("r_score * 100 + f_score * 10 + m_score").as("rfm"))
  }

  /** Lower median (rank ⌈n/2⌉) by the a15 bucket-probe discipline, for
    * NON-NEGATIVE bigint observations: histogram on a coarse value
    * grid (≈ value-range/width buckets — bounded by price granularity,
    * not rows), cumulate over BUCKETS only, then probe the single
    * candidate bucket per group with a local row_number. Replaces a
    * distinct-value cumulative window whose input was ~row-scale at
    * sf0.1 (measured 4.1 s warm → sub-second). Rank-k VALUE selection
    * is tie-stable: equal values are interchangeable at rank k. */
  private def lowerMedianBucketed(rows: DataFrame, g: String, v: String,
      width: Long): DataFrame = {
    val hist = rows
      .groupBy(col(g), expr(s"$v div $width").as("bkt"))
      .agg(count(lit(1)).as("c"))
    val tot = hist.groupBy(g).agg(sum(col("c")).as("n"))
    val wcum = Window.partitionBy(g).orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cand = hist
      .withColumn("cum", sum(col("c")).over(wcum))
      .join(broadcast(tot), Seq(g))
      .withColumn("k", expr("(n + 1) div 2"))
      .withColumn("below", col("cum") - col("c"))
      .filter(col("k") > col("below") && col("k") <= col("cum"))
      .select(col(g), col("bkt"), col("below"), col("n"), col("k"))
    val wloc = Window.partitionBy(col(g), col("bkt")).orderBy(v)
    rows.withColumn("bkt", expr(s"$v div $width"))
      .join(broadcast(cand), Seq(g, "bkt"))
      .withColumn("rn", row_number().over(wloc) + col("below"))
      .filter(col("rn") === col("k"))
      .select(col(g), col(v).as("med"), col("n"))
  }

  /** a29 — MEDIAN ABSOLUTE DEVIATION, exact: the robust dispersion
    * companion of a15/a28 (a20 is variance-based). Lower-median
    * convention so BOTH medians stay integer cents; each pass is an
    * a15-style bucket probe (histogram on the cents grid → one
    * candidate bucket per group → local rank), so neither pass windows
    * over more than the bucket grid — nothing row-scaled in a window,
    * nothing interpolated, bit-exact. */
  def a29Mad(s: SparkSession, d: String): DataFrame = {
    val li = graft.Tables.lineitem(s, d).select(col("l_returnflag"),
      expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)")
        .as("cents"))
    val med = lowerMedianBucketed(li, "l_returnflag", "cents", 100000L)
    val dev = li
      .join(broadcast(med.select(col("l_returnflag"), col("med"))),
        Seq("l_returnflag"))
      .select(col("l_returnflag"),
        abs(col("cents") - col("med")).as("dev"))
    med.select(col("l_returnflag"), col("n"),
        col("med").as("median_cents"))
      .join(lowerMedianBucketed(dev, "l_returnflag", "dev", 100000L)
        .select(col("l_returnflag"), col("med").as("mad_cents")),
        Seq("l_returnflag"))
  }

  /** j16 — INTERVAL COVERAGE (merge-overlaps): each event opens a
    * fixed 30-minute activity interval; per user, overlapping/touching
    * intervals merge into maximal islands and the report is islands,
    * total covered time and longest island — the classic
    * gaps-and-islands-over-intervals operator (uptime/SLA coverage,
    * session coverage), distinct from w19's day-grain streaks.
    *
    * With fixed-length intervals the running-max-end test collapses to
    * a LAG gap test (max end over prefix = prev start + L), so one
    * sorted pass per user suffices: lag → head flag → running head sum
    * = island id → two-level aggregate. All micros-integer arithmetic.
    * The oracle re-derives islands INDEPENDENTLY (an island head has no
    * predecessor within L — NOT EXISTS anti-join — and membership is
    * head-count-below), so window mechanics are cross-checked, not
    * echoed. Scale: both windows partition by user — no global sort;
    * duplicate timestamps are collapsed first so tie order can't flip
    * head flags on either engine. */
  def j16IntervalCoverage(s: SparkSession, d: String): DataFrame = {
    val L = 1800L * 1000000L // 30 min in micros
    val ev = events(s, d)
      .select(col("user_id"), expr("unix_micros(ts)").as("t"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("t")
    val islands = ev
      .withColumn("head",
        when(col("t") - coalesce(lag(col("t"), 1).over(w),
          lit(Long.MinValue / 2)) > L, 1L).otherwise(0L))
      .withColumn("island", sum(col("head"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "island")
      .agg(min(col("t")).as("t0"), max(col("t")).as("t1"))
    islands.groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("t1") - col("t0") + lit(L)).as("covered_us"),
        max(col("t1") - col("t0") + lit(L)).as("max_island_us"))
  }

  /** a30 — K-ANONYMITY ROLLUP: the (event_type, day) report with every
    * group smaller than k = 20 relabeled into one `suppressed` bucket
    * before re-aggregation — the small-cell suppression every
    * privacy-reviewed reporting pipeline applies before numbers leave
    * the platform (k-anonymity on the grouping key; totals are
    * conserved, identities of thin slices are not). Two partial-
    * aggregated passes, no window, integer cents throughout. */
  def a30KanonRollup(s: SparkSession, d: String): DataFrame = {
    val k = 20
    val g = events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .groupBy("event_type", "day")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    g.withColumn("event_type",
        when(col("n") >= k, col("event_type")).otherwise(lit("suppressed")))
      .groupBy("event_type", "day")
      .agg(sum(col("n")).as("n_events"), sum(col("cents")).as("cents"))
  }

  /** w25 — SLIDING EXACT MEDIAN: per user, the median of the last 5
    * purchase amounts at every purchase — the robust rolling statistic
    * feeding spend-anomaly detection (a spike moves the mean, not the
    * median). The window is BOUNDED (5 rows), so the per-row sort is
    * O(5 log 5) inside codegen — the a8 newest-60 discipline, NOT a
    * per-group full sort; lower-median convention keeps everything in
    * integer cents (DuckDB's quantile_disc(0.5) window is the same
    * element, verified convention). (t, event_id) ordering is total,
    * so tie order can't flip window contents on either engine. */
  def w25SlidingMedian(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("t"), col("event_id")).rowsBetween(-4, 0)
    events(s, d).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(ts)").as("t"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .select(col("event_id"), col("user_id"),
        sort_array(collect_list(col("cents")).over(w)).as("arr"))
      .select(col("event_id"), col("user_id"),
        size(col("arr")).as("n_win"),
        // Column `/` coerces to double; `div` keeps the index integral
        expr("element_at(arr, cast((size(arr) + 1) div 2 as int))")
          .as("med_cents"))
  }

  /** a31 — GINI CONCENTRATION: how concentrated is order revenue
    * across the customers of each market segment — the inequality
    * statistic behind "top 1% of users drive X% of revenue" dashboards
    * and data-mix audits. Exact rational form on the distinct-value
    * relation: with per-customer spend sorted ascending and ranks
    * 1..n, G = (2·Σᵢ i·xᵢ − (n+1)·S) / (n·S); a distinct value v with
    * count c after p predecessors occupies ranks p+1..p+c whose sum is
    * c·p + c(c+1)/2, so the rank-weighted sum never needs a row-scale
    * sort (ties contribute identically — tie order cannot matter).
    * Products run in DECIMAL(38,0) (DuckDB: HUGEINT) because
    * 2·S1·10⁶ overflows BIGINT already at sf0.1 segment sizes; result
    * reported in integer ppm. Scale: windows partition by segment over
    * DISTINCT spend values only. */
  def a31Gini(s: SparkSession, d: String): DataFrame = {
    val spend = orders(s, d)
      .select(col("o_custkey"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
          .as("cents"))
      .groupBy("o_custkey").agg(sum(col("cents")).as("cents"))
      .join(customer(s, d).select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment")), Seq("o_custkey"))
    val vc = spend.groupBy("c_mktsegment", "cents")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("c_mktsegment").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = vc.groupBy("c_mktsegment")
      .agg(sum(col("cnt")).as("n"), sum(expr("cnt * cents")).as("s"))
    vc.withColumn("cum_prev", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .join(broadcast(tot), Seq("c_mktsegment"))
      .groupBy("c_mktsegment")
      .agg(max(col("n")).as("n_customers"), max(col("s")).as("total_cents"),
        // the rank term runs ENTIRELY in decimal(38,0) — the BIGINT
        // subterm 2·cum_prev·cnt alone would overflow on very large /
        // heavily tied segments, while the oracle's HUGEINT never
        // does; widening before the first multiply keeps both engines
        // exact at any segment size
        sum(expr("cast(cents as decimal(38,0)) * " +
          "(2 * cast(cum_prev as decimal(38,0)) * " +
          "cast(cnt as decimal(38,0)) + " +
          "cast(cnt as decimal(38,0)) * " +
          "(cast(cnt as decimal(38,0)) + 1))")).as("s1x2"))
      .select(col("c_mktsegment"), col("n_customers"), col("total_cents"),
        expr("cast((s1x2 - cast(n_customers + 1 as decimal(38,0)) * " +
          "total_cents) * 1000000 div " +
          "(cast(n_customers as decimal(38,0)) * total_cents) as bigint)")
          .as("gini_ppm"))
  }

  /** a32 — TWO-SAMPLE KOLMOGOROV–SMIRNOV DRIFT: the distribution-
    * distance gate every feature/data-mix monitor runs — here between
    * `purchase` and `click` value distributions. Exact integer form:
    * D = maxᵥ |F₁(v) − F₂(v)| = maxᵥ |cum₁(v)·n₂ − cum₂(v)·n₁| /
    * (n₁·n₂), so the max runs over cross-multiplied BIGINT cumsums
    * (DECIMAL(38,0)/HUGEINT products — n₁·n₂·10⁶ overflows BIGINT at
    * warehouse row counts) and only the final report divides to ppm.
    * Also reports the value where the max is first attained (the
    * drift location). Scale: one window over the DISTINCT cents grid
    * (bounded by the price granularity, not row count). */
  def a32KsDrift(s: SparkSession, d: String): DataFrame = {
    val vc = eventsSp(s, d)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_type"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .groupBy("cents")
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("c1"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("c2"))
    val w = Window.orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = vc.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    // the max rides a second window over the SAME bounded grid (a
    // separate aggregate-then-join consumed the grid derivation
    // twice — plan-audit fix, one derivation end to end)
    val wall = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    vc.withColumn("cum1", sum(col("c1")).over(w))
      .withColumn("cum2", sum(col("c2")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("cents"),
        expr("abs(cast(cum1 as decimal(38,0)) * n2 - " +
          "cast(cum2 as decimal(38,0)) * n1)").as("diff"),
        col("n1"), col("n2"))
      .withColumn("mx", max(col("diff")).over(wall))
      .filter(col("diff") === col("mx"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        expr("cast(max(diff) * 1000000 div " +
          "(cast(max(n1) as decimal(38,0)) * max(n2)) as bigint)")
          .as("d_ppm"),
        min(col("cents")).as("at_cents"))
  }

  /** a33 — CUSUM CHANGEPOINT: per event type, the day where the
    * cumulative deviation of daily revenue from its mean peaks — the
    * classic single-changepoint locator (Page's CUSUM at the argmax).
    * Division-free: deviations are scaled by the day count
    * (dev_d = x_d·D − S, so Σdev = 0 exactly) and accumulated in
    * DECIMAL(38,0); ties resolve to the EARLIEST day via a struct
    * argmax. Scale: the series is per-type-per-day — time-bounded, not
    * data-bounded — and the window partitions by type. */
  def a33Cusum(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("x"))
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).as("nd"), sum(col("x")).as("s"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(broadcast(tot), Seq("event_type"))
      .withColumn("cusum",
        sum(expr("cast(x as decimal(38,0)) * nd - s")).over(w))
      .select(col("event_type"), col("day"),
        abs(col("cusum")).as("a"), col("nd"))
      .groupBy("event_type")
      .agg(max(col("nd")).as("n_days"),
        max(struct(col("a"), (-col("day")).as("negday"))).as("m"))
      .select(col("event_type"), col("n_days"),
        expr("cast(m.a as bigint)").as("max_abs_cusum"),
        expr("cast(-m.negday as bigint)").as("change_day"))
  }

  /** w26 — WEEK-OVER-WEEK CHANGE: the period-over-period growth
    * report (revenue + volume per event type per week, change vs the
    * previous week in integer ppm). First week of each type is
    * dropped (no prior period). LAG over the per-type weekly rollup —
    * the window input is pre-aggregated, so the sort is over weeks,
    * not events; `div` truncation toward zero matches DuckDB `//`
    * (verified, incl. negatives). */
  def w26WowChange(s: SparkSession, d: String): DataFrame = {
    val wk = events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) div 604800000000").as("week"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .groupBy("event_type", "week")
      .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n_events"))
    val w = Window.partitionBy("event_type").orderBy("week")
    wk.withColumn("prev", lag(col("cents"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), col("week"), col("n_events"),
        col("cents"),
        expr("cast((cast(cents as decimal(38,0)) - prev) * 1000000 " +
          "div prev as bigint)").as("wow_ppm"))
  }

  /** a34 — EWMA SMOOTHING (rational α = 1/4): the exponentially
    * weighted daily-revenue baseline behind burn-rate/anomaly monitors,
    * as an EXACT integer recurrence s₁ = x₁, sₜ = (xₜ + 3·sₜ₋₁) div 4 —
    * truncating division is identical in Spark `div`, Java `/` and
    * DuckDB `//`, so batch, streaming (a35) and the oracle's recursive
    * CTE all produce bit-identical series. A linear recurrence cannot
    * be a window function; here the fold runs INSIDE codegen as a
    * higher-order `aggregate` over the per-type day series — bounded
    * by calendar days (the a8 newest-60 discipline), never by rows:
    * the row-scale work is the partial-aggregated daily rollup. */
  def a34Ewma(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("x"))
    daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("x"))))
        .as("ser"))
      .select(col("event_type"), explode(expr(
        """aggregate(ser,
          |  cast(array() as array<struct<day:bigint,x:bigint,ewma:bigint>>),
          |  (acc, e) -> array_append(acc, named_struct(
          |    'day', e.day, 'x', e.x,
          |    'ewma', if(size(acc) = 0, e.x,
          |      (e.x + 3 * element_at(acc, -1).ewma) div 4))))"""
          .stripMargin)).as("r"))
      .select(col("event_type"), col("r.day").as("day"),
        col("r.x").as("cents"), col("r.ewma").as("ewma_cents"))
  }

  /** s11 — SKYLINE (Pareto frontier): parts no other part beats on
    * BOTH axes — cheaper-or-equal price AND larger-or-equal size, with
    * at least one strict — the classic preference-query operator
    * (Börzsönyi et al.'s SKYLINE OF). A naive formulation is an
    * all-pairs NOT EXISTS (the oracle runs exactly that, as the
    * independent check); the engine instead reduces dominance to the
    * SIZE GRID: with m(s) = min price at size s and best_gt(s) =
    * min price at any size > s, a part (p, s) is on the skyline iff
    * p = m(s) and p < best_gt(s) — equal-price/equal-size peers are
    * mutually non-dominating and all survive. One partial-aggregated
    * rollup to the grid (bounded by the size domain, ~50 values), a
    * window over the GRID only, and one broadcast join back; nothing
    * row-scaled ever sorts. Integer cents. */
  def s11Skyline(s: SparkSession, d: String): DataFrame = {
    val p = part(s, d).select(col("p_partkey"), col("p_size"),
      expr("cast(floor(p_retailprice * 100 + 0.5) as bigint)")
        .as("price_cents"))
    val grid = p.groupBy("p_size").agg(min(col("price_cents")).as("m"))
    val wgt = Window.orderBy(col("p_size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = grid
      .withColumn("best_gt", min(col("m")).over(wgt))
      .filter(col("best_gt").isNull || col("m") < col("best_gt"))
      .select(col("p_size").as("f_size"), col("m"))
    p.join(broadcast(frontier),
        col("p_size") === col("f_size") &&
          col("price_cents") === col("m"))
      .select(col("p_partkey"), col("p_size"), col("price_cents"))
  }

  /** The (t, delta, d, hb) sweep-delta grid a36 and w35 share: each
    * w8 session EXPLODES into its two sweep deltas (a union would
    * re-derive the w8 session subtree per side), grouped to one row per
    * (instant, sign) and tagged with its hour bucket. Each query reads
    * it twice (the sweep chain and an hour-level relation), so it is a
    * checkpointed session entry: measured, the two 0.24 s window stages
    * of w8 ran twice per query without it. O(session boundaries). */
  private def sweepDeltas(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.checkpointed(s, "Relational.sweepDeltas", d)(
      w8SessionAgg(s, d)
        .select(explode(array(
          struct(expr("unix_micros(session_start)").as("t"),
            lit(1L).as("delta")),
          struct(expr("unix_micros(session_end)").as("t"),
            lit(-1L).as("delta")))).as("e"))
        .select(col("e.t").as("t"), col("e.delta").as("delta"))
        .groupBy("t", "delta")
        .agg((sum(col("delta"))).as("d"))
        .withColumn("hb", expr("t div 3600000000")))

  /** a36 — PEAK CONCURRENCY (sweep line): the maximum number of
    * simultaneously-open sessions and the first instant it is reached
    * — the capacity-planning number behind "how many concurrent users
    * must we serve". Classic interval sweep: +1 at session start, −1
    * at session end, running sum, max. Ends sort BEFORE starts at the
    * same microsecond (delta ascending), so back-to-back sessions
    * never double-count — the tie rule is encoded in the sort key and
    * mirrored verbatim in the oracle.
    *
    * Scale: deltas collapse to the distinct (t, delta) grid first
    * (multiplicity-weighted), then the running sum is TWO-LEVEL — a
    * per-hour-chunk local window plus an hour-offset relation
    * (time-bounded, broadcast) — the k5/l2 partitioned prefix-sum
    * discipline, so no window ever holds the row-scale sweep in one
    * task; the final peak is a struct-argmax aggregate. */
  def a36PeakConcurrency(s: SparkSession, d: String): DataFrame = {
    val deltas = sweepDeltas(s, d)
    val wloc = Window.partitionBy("hb").orderBy("t", "delta")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val woff = Window.orderBy("hb")
      .rowsBetween(Window.unboundedPreceding, -1)
    val hoff = deltas.groupBy("hb").agg(sum(col("d")).as("hsum"))
      .withColumn("hoff", coalesce(sum(col("hsum")).over(woff), lit(0L)))
      .select("hb", "hoff")
    deltas
      .withColumn("lsum", sum(col("d")).over(wloc))
      .join(broadcast(hoff), Seq("hb"))
      .select((col("hoff") + col("lsum")).as("running"), col("t"),
        col("delta"), col("d"))
      .agg(max(struct(col("running"), (-col("t")).as("negt"))).as("m"),
        sum(when(col("delta") === 1L, col("d"))).as("n_sessions"))
      .select(expr("m.running").as("peak_concurrency"),
        expr("cast(-m.negt as bigint)").as("at_us"), col("n_sessions"))
  }

  /** w35 — TIME-WEIGHTED CONCURRENCY PERCENTILES: a36 reports the
    * peak; capacity planning wants the DISTRIBUTION — "what
    * concurrency level covers 50% / 95% of wall time". Between
    * consecutive sweep boundaries the concurrency is constant, so the
    * exact time-weighted percentile is a duration-weighted rank over
    * the (concurrency value → total duration) relation. Everything is
    * integer microseconds; the percentile picks are exact threshold
    * comparisons (cum·100 ≥ q·total), no interpolation — bit-stable.
    *
    * Scale: the sweep chain is a36's two-level partitioned prefix sum
    * (never a global row window). The boundary→next-boundary gap uses
    * the same trick: LEAD inside each hour bucket, and the cross-
    * bucket seam closes via the hour-grid relation (calendar-bounded,
    * broadcast) carrying each bucket's first boundary. The final
    * cumulative runs over the DISTINCT concurrency grid (≤ peak —
    * value-bounded, the a8/a25 documented-boundedness rule). */
  /** w36 — LATE-DATA AUDIT of a planned ingest order (the watermark
    * planner): before replaying a USER-PARTITIONED export through a
    * streaming job (arrival order = user after user, each user's
    * events in time order — the standard bulk-backfill layout),
    * measure how far behind the event-time frontier every event would
    * arrive. Per event-day: events more than 1/10/60 minutes late.
    * Reading this table IS choosing `withWatermark` for the backfill:
    * the 10-minute column says exactly how many rows a 10-minute
    * watermark would drop (the live event_id order is fully sorted in
    * this corpus — lateness there is zero; the per-key replay is where
    * the planner earns its keep). The running frontier uses the
    * two-level pattern: per-user local window + a broadcast user-grid
    * carry — no global row window over a 100-TB arrival log; all
    * lateness arithmetic is integer microseconds. */
  def w36LateAudit(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_id"),
        expr("unix_micros(ts)").as("tsu"),
        col("user_id").as("chunk"))
    val wloc = Window.partitionBy("chunk").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wgrid = Window.orderBy("chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = ev.groupBy("chunk").agg(max(col("tsu")).as("cmax"))
      .withColumn("carry_prev", max(col("cmax")).over(wgrid))
      .select("chunk", "carry_prev")
    ev.withColumn("loc_prev", max(col("tsu")).over(wloc))
      .join(broadcast(carry), Seq("chunk"))
      .withColumn("frontier",
        greatest(coalesce(col("loc_prev"), lit(Long.MinValue)),
          coalesce(col("carry_prev"), lit(Long.MinValue))))
      .withColumn("late_us",
        when(col("frontier") > col("tsu"),
          col("frontier") - col("tsu")).otherwise(0L))
      .groupBy(expr("tsu div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 60000000L, 1L).otherwise(0L))
          .as("n_late_1m"),
        sum(when(col("late_us") > 600000000L, 1L).otherwise(0L))
          .as("n_late_10m"),
        sum(when(col("late_us") > 3600000000L, 1L).otherwise(0L))
          .as("n_late_60m"))
  }

  def w35ConcurrencyPctile(s: SparkSession, d: String): DataFrame = {
    val deltas = sweepDeltas(s, d)
    val wloc = Window.partitionBy("hb").orderBy("t", "delta")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val woff = Window.orderBy("hb")
      .rowsBetween(Window.unboundedPreceding, -1)
    val hourGrid = deltas.groupBy("hb")
      .agg(sum(col("d")).as("hsum"), min(col("t")).as("first_t"))
      .withColumn("hoff", coalesce(sum(col("hsum")).over(woff), lit(0L)))
      .withColumn("next_first",
        lead(col("first_t"), 1).over(Window.orderBy("hb")))
      .select("hb", "hoff", "next_first")
    // collapse the (t, delta) pair rows to one row per instant first:
    // a start and an end at the same t must contribute ONE boundary
    // with the net running value after both
    val run = deltas
      .withColumn("lsum", sum(col("d")).over(wloc))
      .join(broadcast(hourGrid), Seq("hb"))
      .groupBy("t", "hb", "next_first")
      .agg(max(col("hoff") + col("lsum")).as("running0"))
    val wseam = Window.partitionBy("hb").orderBy("t")
    // span = boundary → next boundary (in-bucket LEAD, or the next
    // non-empty bucket's first boundary at the seam); idle spans
    // (running 0) drop — the report is the BUSY-time distribution
    val spans = run
      .withColumn("next_t",
        coalesce(lead(col("t"), 1).over(wseam), col("next_first")))
      .filter(col("next_t").isNotNull && col("running0") > 0)
      .select(col("running0").as("running"),
        (col("next_t") - col("t")).as("dur_us"))
    val grid = spans.groupBy("running")
      .agg(sum(col("dur_us")).as("dur_us"))
    val wg = Window.orderBy("running")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("cum", sum(col("dur_us")).over(wg))
      .withColumn("total", sum(col("dur_us")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .agg(max(col("total")).as("busy_us"),
        min(when(col("cum") * 100 >= col("total") * 50,
          col("running"))).as("p50_concurrency"),
        min(when(col("cum") * 100 >= col("total") * 95,
          col("running"))).as("p95_concurrency"),
        max(col("running")).as("max_concurrency"))
  }

  /** w28 — GROWTH ACCOUNTING: the weekly new / retained /
    * resurrected / churned user ledger (the standard MAU-accounting
    * identity: actives(w) = new + retained + resurrected;
    * churned(w) = actives(w−1) − retained(w)). Classification is a
    * LAG over each user's DISTINCT active weeks — the window input is
    * per-user weeks, already deduplicated and partial-aggregated, so
    * the row-scale event table is touched exactly once; the weekly
    * rollup is map-side combining. Churn is the previous week's
    * active count minus this week's retained — derived by a 1-week
    * self-shift join on the (calendar-bounded) weekly report, not a
    * second event pass. */
  def w28GrowthAccounting(s: SparkSession, d: String): DataFrame = {
    val uw = events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("week"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("week")
    val classed = uw
      .withColumn("prev", lag(col("week"), 1).over(w))
      .select(col("week"),
        when(col("prev").isNull, lit("new"))
          .when(col("prev") === col("week") - 1, lit("retained"))
          .otherwise(lit("resurrected")).as("cls"))
    val weekly = classed.groupBy("week")
      .agg(sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("cls") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"),
        count(lit(1)).as("n_active"))
    weekly.join(
        weekly.select((col("week") + 1).as("week"),
          col("n_active").as("prev_active")),
        Seq("week"), "left")
      .select(col("week"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"),
        (coalesce(col("prev_active"), lit(0L)) - col("n_retained"))
          .as("n_churned"))
  }

  /** a37 — BENFORD FIRST-DIGIT AUDIT: the fraud-screening classic —
    * the distribution of leading digits of order totals vs Benford's
    * law, deviation in ppm. The first digit is the leading character
    * of the integer-cents decimal string (cents > 0, so no sign or
    * leading-zero cases); the Benford reference shares are the
    * nine literal constants floor(log₁₀(1+1/d)·10⁶) — identical
    * literals on both engines, so nothing floating ever computes.
    * One scan, one 9-row aggregate. */
  def a37Benford(s: SparkSession, d: String): DataFrame = {
    val benford = typedLit(Map(
      1 -> 301029L, 2 -> 176091L, 3 -> 124938L, 4 -> 96910L,
      5 -> 79181L, 6 -> 66946L, 7 -> 57991L, 8 -> 51152L, 9 -> 45757L))
    val digits = orders(s, d)
      .select(expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
        .as("cents"))
      .select(expr(
        "cast(substring(cast(cents as string), 1, 1) as int)")
        .as("digit"))
    val tot = digits.agg(count(lit(1)).as("n"))
    digits.groupBy("digit").agg(count(lit(1)).as("n_orders"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n_orders"),
        expr("n_orders * 1000000 div n").as("share_ppm"),
        benford(col("digit")).as("benford_ppm"))
      .withColumn("dev_ppm",
        abs(col("share_ppm") - col("benford_ppm")))
  }

  /** w29 — TOP SESSION PATHS: the product-analytics path report —
    * the 10 most common ordered event-type sequences over the first 5
    * events of each w8 session (w20's transition matrix is the
    * 1st-order projection of this; the path census is the full
    * k-gram). The per-session sequence is BOUNDED (5 events) before
    * anything aggregates: row_number within session → filter rn ≤ 5 →
    * collect the ≤5 (rn, type) structs → sort_array (tie-free: rn is
    * unique in-session) → join to a path string. Ranking is a count
    * rollup + top-k with a deterministic path tie-break. At 100 TB
    * nothing holds more than 5 rows per session, and the path-count
    * relation is vocabulary-bounded (|event_types|⁵ worst case, far
    * smaller in practice). */
  def w29TopPaths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id", "session_id")
      .orderBy("ts", "event_id")
    val wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gap = unix_timestamp(col("ts")) -
      unix_timestamp(lag(col("ts"), 1).over(wu))
    val sess = events(s, d)
      .withColumn("new_sess",
        when(gap.isNull || gap > 1800, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val paths = sess
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy("user_id", "session_id")
      .agg(expr(
        """array_join(transform(
          |  sort_array(collect_list(struct(rn, event_type))),
          |  x -> x.event_type), '>')""".stripMargin).as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("n_sessions").desc, col("path"))))
      .filter(col("rnk") <= 10)
  }

  /** w30 — LTV COHORT TRIANGLE: the customer-lifetime-value staple —
    * users cohorted by FIRST purchase week, revenue laid out by cohort
    * age (weeks since first purchase), cumulative per cohort. The
    * cohort assignment is one min-aggregate joined back on user (the
    * fact table is scanned once); the triangle is a (cohort × age)
    * rollup — calendar² rows at any corpus size — and the cumulative
    * runs over AGE within a cohort, a bounded window. Integer cents;
    * per-cohort sizing broadcast from the same min-aggregate. */
  def w30LtvTriangle(s: SparkSession, d: String): DataFrame = {
    // ONE fact scan: the cohort week is a whole-partition min window
    // (no separate cohort aggregate + join re-scanning the facts),
    // and the cohort SIZE is the triangle's own age-0 buyer count —
    // every cohort member's first purchase is at age 0 by definition.
    // The calendar²-bounded triangle is a cached session entry for its
    // two consumers.
    val tri = graft.SessionMemo.cached(s, "Relational.w30triangle", d)(
      events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("unix_micros(ts) div 604800000000").as("week"),
          expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
        .withColumn("cw",
          min(col("week")).over(Window.partitionBy("user_id")))
        .groupBy(col("cw"), (col("week") - col("cw")).as("age"))
        .agg(countDistinct(col("user_id")).as("n_buyers"),
          sum(col("cents")).as("cents")))
    val sized = tri.filter(col("age") === 0)
      .select(col("cw"), col("n_buyers").as("n_users"))
    val w = Window.partitionBy("cw").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tri.join(broadcast(sized), Seq("cw"))
      .select(col("cw").as("cohort_week"), col("age"), col("n_users"),
        col("n_buyers"), col("cents"),
        sum(col("cents")).over(w).as("cum_cents"))
  }

  /** a38 — CHI-SQUARE INDEPENDENCE CELLS: the event_type × day-of-week
    * contingency audit ("is activity mix independent of weekday?") in
    * declared fixed-point form: per cell, the floored expectation
    * E⌊ = R·C div N and the contribution (O − E⌊)²·10⁶ div max(E⌊,1).
    * The floor-then-square order is part of the operator contract, so
    * both engines compute identical integers at ANY scale; products
    * run DECIMAL(38,0) ↔ HUGEINT (R·C is 10²⁴ at warehouse counts).
    * The FULL grid materializes (row-marginal × column-marginal cross
    * of two tiny broadcast relations) so zero cells contribute their
    * E⌊ — the classic mistake of dropping empty cells is structurally
    * impossible. */
  def a38Chi2(s: SparkSession, d: String): DataFrame = {
    // broadcast pinned so statistics can't flip the outer-join
    // strategy (the t13 lesson)
    val cells = contingencyCells(s, d)
    val rt = cells.groupBy("event_type").agg(sum(col("o")).as("r"))
    val ct = cells.groupBy("dow").agg(sum(col("o")).as("c"))
    val n = cells.agg(sum(col("o")).as("n"))
    broadcast(rt).crossJoin(broadcast(ct))
      .join(broadcast(cells), Seq("event_type", "dow"), "left")
      .crossJoin(broadcast(n))
      .select(col("event_type"), col("dow"),
        coalesce(col("o"), lit(0L)).as("o"),
        expr("cast(r as decimal(38,0)) * c div n").as("e_floor"))
      .withColumn("contrib_ppm",
        expr("cast(o - e_floor as decimal(38,0)) * (o - e_floor) " +
          "* 1000000 div greatest(e_floor, 1)"))
  }

  /** The event_type × day-of-week contingency cells (|types|·7 rows)
    * a38 and a44 share. Each reads it four times (row/column marginals,
    * the total, the grid join), so both read ONE event scan per
    * session. Checkpointed, not cached: cheaper to re-read than the
    * columnar cache (a38, measured round 10). */
  private def contingencyCells(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.checkpointed(s, "Relational.contingencyCells", d)(
      events(s, d)
        .select(col("event_type"),
          expr("(unix_micros(ts) div 86400000000) % 7").as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("o")))

  /** a44 — CRAMÉR'S V effect size over a38's contingency grid (the
    * association STRENGTH a chi-square p-value alone doesn't give —
    * the standard report line of every feature-vs-feature dependence
    * audit). The statistic sums per-cell exact-integer contributions:
    * χ²·10⁶ = Σ floor((o·n − r·c)² · 10⁶ div (r·c·n)) — wide-decimal
    * (HUGEINT on the oracle) products, truncating integer division on
    * BOTH engines, so the sum is bit-stable; the only float op is the
    * single final sqrt for V (one IEEE op over identical inputs —
    * deterministic). Grid is |types|×7 — bounded at any corpus size;
    * n·(o·n−r·c)² stays inside DECIMAL(38) through warehouse row
    * counts (the 100 TB bound is ~10¹² rows → 10³⁰·10⁶ at the edge;
    * beyond that, drop the ppm scale before the square). */
  def a44CramersV(s: SparkSession, d: String): DataFrame = {
    val cells = contingencyCells(s, d)
    val rt = cells.groupBy("event_type").agg(sum(col("o")).as("r"))
    val ct = cells.groupBy("dow").agg(sum(col("o")).as("c"))
    val n = cells.agg(sum(col("o")).as("n"))
    broadcast(rt).crossJoin(broadcast(ct))
      .join(broadcast(cells), Seq("event_type", "dow"), "left")
      .crossJoin(broadcast(n))
      .select(col("event_type"), col("dow"), col("r"), col("c"),
        col("n"), coalesce(col("o"), lit(0L)).as("o"))
      .agg(
        max(col("n")).as("n"),
        countDistinct(col("event_type")).as("r_levels"),
        countDistinct(col("dow")).as("c_levels"),
        sum(expr("(cast(o as decimal(38,0)) * n - " +
          "cast(r as decimal(38,0)) * c) * " +
          "(cast(o as decimal(38,0)) * n - " +
          "cast(r as decimal(38,0)) * c) " +
          "* 1000000 div (cast(r as decimal(38,0)) * c * n)"))
          .cast("long").as("chi2_ppm"))
      .select(col("n"), col("r_levels"), col("c_levels"),
        ((col("r_levels") - 1) * (col("c_levels") - 1)).as("dof"),
        col("chi2_ppm"),
        sqrt(col("chi2_ppm").cast("double") / lit(1e6) /
          (col("n") * least(col("r_levels") - 1, col("c_levels") - 1))
            .cast("double")).as("cramers_v"))
  }

  /** w31 — STICKINESS (DAU/MAU): the engagement ratio per active day —
    * daily actives over trailing-28-day actives, integer ppm. The
    * sliding COUNT DISTINCT is exact without any window: each row of
    * the deduplicated (user, day) relation fans out to the ≤28 MAU
    * days it supports (a bounded explode — user-days are already far
    * smaller than events), re-deduplicated and rolled up per day.
    * Reported only for days with activity (inner join with DAU). */
  /** a45 — THEIL–SEN ROBUST TREND: per event type, the (lower) median
    * of all pairwise slopes between daily revenue points — the
    * outlier-resistant companion of a22's OLS line (one corrupted day
    * shifts OLS arbitrarily; Theil–Sen tolerates up to ~29% bad
    * points). The pair space is CALENDAR²-bounded, never row-scaled:
    * points aggregate to one row per (type, day) first, so a 100-TB
    * event table still yields at most days² slopes per type. Slopes
    * are exact micro-cents-per-day integers via a shared-semantics
    * floor division (see inline note), and the median is the exact
    * lower-median rank selection — no float anywhere, bit-stable
    * cross-engine. */
  def a45TheilSen(s: SparkSession, d: String): DataFrame =
    theilSenOf(events(s, d).select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
          .as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("c")))

  /** The Theil–Sen pair/slope/median derivation over a prepared
    * (event_type, day, c) daily grid — shared by a45 and the z34
    * 10-year-calendar probe. */
  private[graft] def theilSenOf(pts: DataFrame): DataFrame = {
    val slopes = pts.as("a").join(pts.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .select(col("a.event_type").as("event_type"),
        ((col("b.c") - col("a.c")) * lit(1000000L)).as("num"),
        (col("b.day") - col("a.day")).as("den"))
      // exact floor division in shared-semantics integer ops: BOTH
      // Spark's `div` and DuckDB's `//` truncate toward zero (NOT
      // floor), so a raw num div den computes the wrong thing on
      // negative slopes in both engines; subtracting the positive mod
      // first makes the operand exactly divisible, where truncation
      // equals true floor — the repo convention for signed ratios
      .select(col("event_type"), expr(
        "(num - (((num % den) + den) % den)) div den").as("slope_micro"))
    val w = Window.partitionBy("event_type").orderBy("slope_micro")
    val nPairs = slopes.groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"))
    val nDays = pts.groupBy("event_type").agg(count(lit(1)).as("n_days"))
    slopes.withColumn("rk", row_number().over(w))
      .join(broadcast(nPairs), Seq("event_type"))
      .filter(expr("rk = (n_pairs + 1) div 2"))
      .join(broadcast(nDays), Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        col("slope_micro").as("ts_slope_micro"))
  }

  /** a46 — HODGES–LEHMANN PSEUDO-MEDIAN of daily revenue per event
    * type: the lower median of all Walsh averages (pairwise means over
    * i ≤ j, self-pairs included) — the location estimator dual to
    * a45's Theil–Sen slope: robust to outlier days yet far more
    * efficient than the plain median under symmetric noise. Same
    * calendar²-bounded pair space as a45 (daily aggregates first).
    * Averages are kept as ×2 sums so every value is an exact integer;
    * the ×2 scale is part of the output contract. */
  def a46HodgesLehmann(s: SparkSession, d: String): DataFrame = {
    val pts = events(s, d).select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
          .as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("c"))
    val walsh = pts.as("a").join(pts.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") <= col("b.day"))
      .select(col("a.event_type").as("event_type"),
        (col("a.c") + col("b.c")).as("w2"))
    val w = Window.partitionBy("event_type").orderBy("w2")
    val n = walsh.groupBy("event_type").agg(count(lit(1)).as("n_pairs"))
    walsh.withColumn("rk", row_number().over(w))
      .join(broadcast(n), Seq("event_type"))
      .filter(expr("rk = (n_pairs + 1) div 2"))
      .select(col("event_type"), col("n_pairs"),
        col("w2").as("pseudo_median_x2_cents"))
  }

  /** a47 — MANN–WHITNEY U (Wilcoxon rank-sum) per event type:
    * weekend vs weekday value distributions compared by exact combined
    * midranks. The nonparametric two-sample location test that
    * complements the drift family's KS (a33) — rank-sum is the test a
    * pipeline runs when "did the weekend traffic shift the spend
    * distribution" must not be answered by a mean over heavy tails.
    * All integers: midranks are kept ×2 (min-rank window + tie count,
    * so ties get exact half-ranks without decimals), U statistics
    * follow as ×2 values, and the rank-biserial effect size is a
    * floor-division ppm via the positive-mod subtraction applied in
    * BOTH engines (each engine's native integer division truncates
    * toward zero; subtracting the positive mod first makes the
    * operand exactly divisible, so both compute the true floor).
    * Weekend is derived from the epoch
    * day index ((day + 3) % 7 ≥ 5 — day 0 = Thursday), identical
    * integer arithmetic in both engines, immune to the engines'
    * dayofweek() numbering mismatch. One shuffle on event_type for the
    * rank window, then a bounded per-type rollup. */
  def a47MannWhitney(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
        .as("cents"),
      (expr("((unix_micros(ts) div 86400000000) + 3) % 7") >= 5)
        .as("weekend"))
    val wRank = Window.partitionBy("event_type").orderBy("cents")
    val ranked = ev
      .withColumn("rk", rank().over(wRank))
      .withColumn("ctie", count(lit(1))
        .over(Window.partitionBy("event_type", "cents")))
      .withColumn("midrank2", expr("2 * rk + ctie - 1"))
    ranked.groupBy("event_type")
      .agg(
        sum(when(col("weekend"), 1L).otherwise(0L)).as("n_we"),
        sum(when(!col("weekend"), 1L).otherwise(0L)).as("n_wd"),
        sum(when(col("weekend"), col("midrank2")).otherwise(0L))
          .as("r2_we"))
      .select(col("event_type"), col("n_we"), col("n_wd"),
        expr("r2_we - n_we * (n_we + 1)").as("u2_we"),
        expr("2 * n_we * n_wd - (r2_we - n_we * (n_we + 1))")
          .as("u2_wd"))
      // NULL, not an error, when one group is empty: Spark returns
      // NULL on x % 0 while DuckDB raises — the contract must be
      // engine-neutral on degenerate data (all-weekend / all-weekday
      // event types), so both sides guard explicitly
      .withColumn("rb_ppm", expr(
        """if(n_we = 0 or n_wd = 0, cast(null as bigint),
          |cast((((u2_we - u2_wd) * 1000000)
          |  - ((((((u2_we - u2_wd) * 1000000) % (2 * n_we * n_wd))
          |    + (2 * n_we * n_wd)) % (2 * n_we * n_wd)))
          |) div (2 * n_we * n_wd) as bigint))""".stripMargin))
  }

  /** a48 — KENDALL RANK CORRELATION (tau-a) of daily revenue against
    * the calendar per event type: exact concordant/discordant pair
    * census over the same calendar²-bounded daily-aggregate pair space
    * as a45's Theil–Sen (the slope estimator and its rank-correlation
    * significance input share one derivation shape). Days are distinct
    * within a type so x-ties are impossible; y-ties (equal daily cents)
    * are counted and excluded from both nc and nd, and tau is the
    * floor-division ppm of (nc − nd)/n0 via the positive-mod
    * subtraction in both engines since tau is signed. */
  def a48KendallTau(s: SparkSession, d: String): DataFrame = {
    val pts = eventsSp(s, d).select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
          .as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("c"))
    pts.as("a").join(pts.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .select(col("a.event_type").as("event_type"),
        when(col("b.c") > col("a.c"), 1L).otherwise(0L).as("nc"),
        when(col("b.c") < col("a.c"), 1L).otherwise(0L).as("nd"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"), sum(col("nc")).as("nc"),
        sum(col("nd")).as("nd"))
      .select(col("event_type"), col("n_pairs"), col("nc"), col("nd"),
        (col("n_pairs") - col("nc") - col("nd")).as("n_ties"),
        expr("""cast((((nc - nd) * 1000000)
          |  - (((((nc - nd) * 1000000) % n_pairs) + n_pairs)
          |    % n_pairs)) div n_pairs as bigint)""".stripMargin)
          .as("tau_ppm"))
  }

  /** w37 — SURVIVAL LEDGER (Kaplan–Meier input table) over user
    * lifetimes: per lifetime-week, the at-risk population, observed
    * churn events, right-censored exits, and the discrete hazard in
    * ppm — the survival-analysis feed a retention model consumes.
    * Lifetime = weeks between a user's first and last event day;
    * users whose last activity falls within 14 days of the
    * observation-window end are censored (still alive), not churned —
    * the right-censoring distinction that makes naive "days since
    * last seen" churn rates biased. At-risk counts come from a
    * reverse cumulative sum over the week grid (calendar-bounded, the
    * a8 documented-boundedness rule for the unpartitioned window);
    * everything else is one user-level aggregate. Hazard is exact
    * integer ppm (churn and risk are counts, so plain div is safe). */
  def w37Survival(s: SparkSession, d: String): DataFrame = {
    val days = events(s, d).select(col("user_id"),
      expr("unix_micros(ts) div 86400000000").as("day"))
    val life = days.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .crossJoin(broadcast(days.agg(max(col("day")).as("dend"))))
      .select(expr("(d1 - d0) div 7").as("week"),
        (col("dend") - col("d1") < 14).as("censored"))
    val grid = life.groupBy("week")
      .agg(sum(when(!col("censored"), 1L).otherwise(0L)).as("n_churn"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("n_censored"))
    grid
      .withColumn("n_risk", sum(col("n_churn") + col("n_censored"))
        .over(Window.orderBy(col("week").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("week"), col("n_risk"), col("n_churn"),
        col("n_censored"),
        expr("n_churn * 1000000 div n_risk").as("hazard_ppm"))
  }

  /** w38 — SEASONAL-NAIVE FORECAST BACKTEST: the baseline every
    * capacity/forecast model must beat — predict each day's revenue
    * per event type as the revenue seven days earlier, scored over
    * every day that HAS a t−7 ancestor. Emits the standard backtest
    * scorecard in exact integers: MAE in cents (plain div — absolute
    * errors are non-negative), sMAPE in ppm (per-day term
    * 2·|a−f|/(|a|+|f|) scaled ×1e6 then floor-averaged; the |a|+|f|
    * denominator makes the term well-defined and non-negative so no
    * signed-division reconciliation is needed), and the signed total
    * bias as a SUM (no division — keeps it exact without the
    * positive-mod dance). One self-join on (event_type, day−7): at
    * scale both sides hash-partition on the same key and the join is
    * exchange-aligned with the daily rollup that feeds it. */
  def w38SeasonalBacktest(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d).select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
          .as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("c"))
    daily.as("a").join(daily.as("f"),
        col("a.event_type") === col("f.event_type") &&
          col("a.day") === col("f.day") + 7)
      .select(col("a.event_type").as("event_type"),
        abs(col("a.c") - col("f.c")).as("ae"),
        (abs(col("a.c")) + abs(col("f.c"))).as("den"),
        (col("a.c") - col("f.c")).as("err"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_scored"),
        sum(col("ae")).as("sum_ae"),
        sum(col("err")).as("bias_cents"),
        sum(when(col("den") > 0,
          expr("ae * 2000000 div den")).otherwise(0L)).as("sum_sm"))
      .select(col("event_type"), col("n_scored"),
        expr("sum_ae div n_scored").as("mae_cents"),
        expr("sum_sm div n_scored").as("smape_ppm"),
        col("bias_cents"))
  }

  /** a49 — DAY-OF-WEEK SEASONALITY PROFILE per event type: the
    * multiplicative weekly index a capacity planner or a forecast
    * model (w38's successor) consumes — for each (type, weekday), how
    * many observed days, the floor-mean daily revenue, and the
    * seasonal index in ppm: dow-mean / overall-mean, computed as ONE
    * cross-multiplied integer ratio (sum·total_days·1e6 over
    * n_days·total_sum) in decimal(38,0)/HUGEINT so no intermediate
    * floor bias enters — the two-division form would lose up to a
    * cent of precision per division. Weekday comes from the epoch-day
    * index ((day+3)%7, Monday=0), the a47 engine-neutral derivation.
    * All operands non-negative → native truncating division agrees
    * cross-engine without the positive-mod form. */
  def a49DowSeasonality(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d).select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
          .as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("c"))
      .withColumn("dow", expr("(day + 3) % 7"))
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).as("tot_days"), sum(col("c")).as("tot_cents"))
    daily.groupBy("event_type", "dow")
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("sum_cents"))
      .join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("dow"), col("n_days"),
        expr("sum_cents div n_days").as("mean_cents"),
        expr("cast(cast(sum_cents as decimal(38,0)) * tot_days " +
          "* 1000000 div (cast(n_days as decimal(38,0)) * tot_cents) " +
          "as bigint)").as("index_ppm"))
  }

  /** a50 — PERMUTATION TEST for the weekend-vs-weekday mean spend gap
    * per event type: the exact-resampling significance test that
    * complements a47's rank-sum — "is the observed mean difference
    * larger than chance relabelings of the same rows?". 100
    * deterministic permutations: each rep orders rows by
    * md5(event_id ':' rep) within (event_type, rep) and takes the
    * first n_we rows as the pseudo weekend group, so group SIZES are
    * preserved exactly (a true permutation, not a Bernoulli
    * relabeling) and both engines replay the identical shuffle from
    * the identical hash bytes (the t12 md5 parity contract). The test
    * statistic |s1·n_wd − s0·n_we| (the mean gap cross-multiplied to
    * clear both denominators) runs in DECIMAL(38,0) here and HUGEINT
    * in the oracle, so every comparison is exact;
    * p = (#{stat_r ≥ stat_obs} + 1)/(R + 1) as a floor ppm.
    * Scale: the rep fanout is a map-side explode (R·N narrow rows);
    * the per-rep rank is PARTITIONED on (event_type, rep) — R
    * independent sorts per type, never a single-partition window. At
    * 100 TB that sort is the honest cost of exact size-preserving
    * permutation; the Bernoulli-relabeling variant (hash threshold,
    * no sort) is the documented cheap alternative. */
  // NOT memo-pinned: both pinning paths (.cache() and eager
  // localCheckpoint) compile the 10M-row fan WITHOUT adaptive
  // execution and ran 3-4x slower than the bare AQE plan (measured
  // 15-20 s pinned vs 5.3 s bare at sf0.1); a55 re-running the bare
  // sweep is cheaper than any pinned single run.
  def a50PermutationTest(s: SparkSession, d: String): DataFrame =
    a50Of(s, d, 100)

  /** The a50 machinery with a caller-chosen permutation count — the
    * z29 probe runs it at 10× reps to measure that the (type, rep)-
    * partitioned rank scales linearly in R (R independent sorts, no
    * single-partition window anywhere). */
  private[graft] def a50Of(s: SparkSession, d: String, reps: Int)
      : DataFrame = {
    val ev = events(s, d).select(col("event_type"), col("event_id"),
      (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
        .as("cents"),
      (expr("((unix_micros(ts) div 86400000000) + 3) % 7") >= 5)
        .as("weekend"))
    val obs = ev.groupBy("event_type").agg(
      sum(when(col("weekend"), 1L).otherwise(0L)).as("n_we"),
      sum(when(!col("weekend"), 1L).otherwise(0L)).as("n_wd"),
      sum(when(col("weekend"), col("cents")).otherwise(0L)).as("s_we"),
      sum(col("cents")).as("s_tot"))
    val fan = ev.select(col("event_type"), col("event_id"), col("cents"),
        explode(expr(s"sequence(0, ${reps - 1})")).as("r"))
      // 48-bit numeric sort key off the md5 (12 hex chars, exact in
      // both engines — the t12 parity contract; 16^11 < 2^53 so even
      // the oracle's digit-wise double rebuild is exact): sorting
      // longs instead of 32-char strings is what keeps the R
      // independent per-(type, rep) sorts cheap, and the event_id
      // tie-break keeps the total order deterministic regardless
      .withColumn("h", expr(
        "cast(conv(substring(md5(cast(concat(cast(event_id as string)" +
          ", ':', cast(r as string)) as binary)), 1, 12), 16, 10) " +
          "as bigint)"))
    val wr = Window.partitionBy("event_type", "r")
      .orderBy(col("h"), col("event_id"))
    val s1 = fan.withColumn("rk", row_number().over(wr))
      .join(broadcast(obs.select(col("event_type"), col("n_we"))),
        Seq("event_type"))
      .groupBy("event_type", "r")
      .agg(sum(when(col("rk") <= col("n_we"), col("cents"))
        .otherwise(0L)).as("s1"))
    val stat = "abs(cast(%s as decimal(38,0)) * n_wd " +
      "- cast(s_tot - %s as decimal(38,0)) * n_we)"
    s1.join(broadcast(obs), Seq("event_type"))
      .withColumn("ge", expr(stat.format("s1", "s1")) >=
        expr(stat.format("s_we", "s_we")))
      .groupBy("event_type", "n_we", "n_wd", "s_we", "s_tot")
      .agg(count(lit(1)).as("n_reps"),
        sum(when(col("ge"), 1L).otherwise(0L)).as("n_ge"))
      .select(col("event_type"), col("n_we"), col("n_wd"),
        expr("cast(" + stat.format("s_we", "s_we") +
          " * 1000000 div (cast(n_we as decimal(38,0)) * n_wd) " +
          "as bigint)").as("obs_absdiff_micro"),
        expr("cast(case when cast(s_we as decimal(38,0)) * n_wd > " +
          "cast(s_tot - s_we as decimal(38,0)) * n_we then 1 " +
          "when cast(s_we as decimal(38,0)) * n_wd < " +
          "cast(s_tot - s_we as decimal(38,0)) * n_we then -1 " +
          "else 0 end as int)").as("obs_sign"),
        col("n_reps"), col("n_ge"),
        expr("(n_ge + 1) * 1000000 div (n_reps + 1)").as("p_ppm"))
  }

  /** a51 — MANN–KENDALL trend test over daily revenue per event type:
    * the nonparametric "is there a monotone trend" screen whose slope
    * estimate is a45's Theil–Sen. S = Σ_{i<j} sign(c_j − c_i) over
    * the same calendar²-bounded daily pair space as a45; the
    * tie-corrected variance is kept ×18 so it is an exact integer
    * (var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)), and the 5%
    * significance call is the cross-multiplied integer inequality
    * 180000·(|S|−1)² ≥ 38416·var18 (both sides of z² ≥ 1.96² scaled
    * by 18·10⁴) — no sqrt, no float, bit-identical in both engines. */
  def a51MannKendall(s: SparkSession, d: String): DataFrame = {
    val pts = events(s, d).select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
          .as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("c"))
    val sStat = pts.as("a").join(pts.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(signum(col("b.c") - col("a.c")).cast("long"))
        .as("s_stat"))
    val nD = pts.groupBy("event_type").agg(count(lit(1)).as("n_days"))
    val ties = pts.groupBy("event_type", "c")
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie18"))
    nD.join(sStat, Seq("event_type")).join(ties, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("s_stat"),
        expr("n_days * (n_days - 1) * (2 * n_days + 5) - tie18")
          .as("var18"))
      .withColumn("trend", expr(
        "case when s_stat <> 0 and 180000 * (abs(s_stat) - 1) " +
          "* (abs(s_stat) - 1) >= 38416 * var18 then " +
          "case when s_stat > 0 then 'increasing' " +
          "else 'decreasing' end else 'none' end"))
  }

  /** a52 — PAGE–HINKLEY drift report per event type: the sequential
    * change detector that complements a33's fixed-mean CUSUM — each
    * day's deviation is taken against the RUNNING mean (so the
    * statistic adapts to slow drift and fires on abrupt shifts), minus
    * a data-derived allowance δ (5% of the overall daily mean), with
    * the alarm when m_t − min_{i≤t} m_i ≥ λ (50% of the overall daily
    * mean). All integer micro-cents: running means are floored
    * identically in both engines (positive sums, `div` = `//`), the
    * per-type overall mean runs DECIMAL(38,0)/HUGEINT. Windows are
    * PARTITIONED per type over the calendar-bounded daily rollup. */
  def a52PageHinkley(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("x"))
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).as("nd"), sum(col("x")).as("stot"))
      .select(col("event_type"),
        expr("(cast(stot as decimal(38,0)) * 1000000 div nd) div 20")
          .cast("long").as("delta_micro"),
        expr("(cast(stot as decimal(38,0)) * 1000000 div nd) div 2")
          .cast("long").as("lambda_micro"))
    val wSeq = Window.partitionBy("event_type").orderBy("day")
    val wCum = wSeq.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    daily
      .withColumn("t", row_number().over(wSeq))
      .withColumn("st", sum(col("x")).over(wCum))
      .join(broadcast(tot), Seq("event_type"))
      .withColumn("term", expr(
        "x * 1000000 - (st * 1000000 div t) - delta_micro"))
      .withColumn("m", sum(col("term")).over(wCum))
      .withColumn("ph", col("m") - min(col("m")).over(wCum))
      .groupBy("event_type")
      .agg(max(col("t")).cast("long").as("n_days"),
        max(col("delta_micro")).as("delta_micro"),
        max(col("lambda_micro")).as("lambda_micro"),
        max(col("ph")).as("max_ph_micro"),
        min(when(col("ph") >= col("lambda_micro"), col("day")))
          .as("alarm0"))
      .select(col("event_type"), col("n_days"), col("delta_micro"),
        col("lambda_micro"), col("max_ph_micro"),
        coalesce(col("alarm0"), lit(-1L)).as("alarm_day"))
  }

  /** a53 — the ONLINE Page–Hinkley series (δ = 0, the bare running-
    * mean deviation detector): batch recompute of the exact per-day
    * (m, ph) emissions the streaming replay dumps to OpLake —
    * the a53 oracle reads that dump verbatim, so the hash gate IS the
    * 13th stream ≡ batch parity row (24 bytes of per-key state across
    * micro-batch seams vs two partitioned prefix windows here). */
  def a53PhSeries(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("x"))
    val wSeq = Window.partitionBy("event_type").orderBy("day")
    val wCum = wSeq.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    daily
      .withColumn("t", row_number().over(wSeq))
      .withColumn("st", sum(col("x")).over(wCum))
      .withColumn("term", expr("x * 1000000 - (st * 1000000 div t)"))
      .withColumn("m_micro", sum(col("term")).over(wCum))
      .withColumn("ph_micro",
        col("m_micro") - min(col("m_micro")).over(wCum))
      .select(col("event_type"), col("day"), col("x").as("cents"),
        col("m_micro"), col("ph_micro"))
  }

  /** a54 — SEASONAL MANN–KENDALL per event type: a51's trend test
    * computed within each day-of-week season (pairs never cross
    * seasons, so weekly cycles can't masquerade as trend), S and the
    * ×18 tie-corrected variance summed over the 7 seasons, and the
    * same cross-multiplied 5% integer inequality on the totals. The
    * pair space shrinks to Σ_s n_s² — strictly cheaper than a51. */
  def a54SeasonalMk(s: SparkSession, d: String): DataFrame = {
    val pts = events(s, d).select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
          .as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("c"))
      .withColumn("dow", expr("(day + 3) % 7"))
    val sStat = pts.as("a").join(pts.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.dow") === col("b.dow") && col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(signum(col("b.c") - col("a.c")).cast("long"))
        .as("s_raw"))
    val nD = pts.groupBy("event_type", "dow")
      .agg(count(lit(1)).as("ns"))
    val ties = pts.groupBy("event_type", "dow", "c")
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type", "dow")
      .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie18"))
    nD.join(ties, Seq("event_type", "dow"))
      .groupBy("event_type")
      .agg(sum(col("ns")).as("n_days"),
        count(lit(1)).as("n_seasons"),
        sum(expr("ns * (ns - 1) * (2 * ns + 5) - tie18"))
          .as("var18_total"))
      .join(sStat, Seq("event_type"), "left")
      .withColumn("s_total", coalesce(col("s_raw"), lit(0L)))
      .withColumn("trend", expr(
        "case when s_total <> 0 and 180000 * (abs(s_total) - 1) " +
          "* (abs(s_total) - 1) >= 38416 * var18_total then " +
          "case when s_total > 0 then 'increasing' " +
          "else 'decreasing' end else 'none' end"))
      .select(col("event_type"), col("n_days"), col("n_seasons"),
        col("s_total"), col("var18_total"), col("trend"))
  }

  /** w40 — HOLT LINEAR-TREND BACKTEST per event type: double
    * exponential smoothing with α = β = 1/2 (exact halving, so the
    * whole recurrence stays in integers) over the daily revenue
    * series, scored by one-step-ahead absolute errors from day 2 on —
    * the forecasting leg the seasonal backtest (w38) doesn't cover
    * (w38 predicts from season means; Holt tracks level + trend).
    * The recurrence l' = ⌊(x + l + b)/2⌋, b' = ⌊(b + l' − l)/2⌋ runs
    * as a single codegen'd `aggregate` fold over the per-type
    * calendar-bounded day array (the a34 pattern); halving uses the
    * positive-mod floor form because b can go negative (BOTH Spark's
    * `div` and DuckDB's `//` truncate toward zero, which differs from
    * floor exactly there — the shared-semantics rule). */
  def w40HoltBacktest(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("x"))
    // fd2(v) = floor(v / 2) for either sign
    def fd2(v: String) = s"((($v) - (((($v) % 2) + 2) % 2)) div 2)"
    val newL = fd2("e.x + acc.l + acc.b")
    daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("x"))))
        .as("ser"))
      .select(col("event_type"), explode(expr(
        s"""aggregate(ser,
           |  named_struct('init', false, 'l', cast(0 as bigint),
           |    'b', cast(0 as bigint),
           |    'out', cast(array() as array<struct<
           |      day:bigint,x:bigint,f:bigint>>)),
           |  (acc, e) -> if(not acc.init,
           |    named_struct('init', true, 'l', e.x,
           |      'b', cast(0 as bigint), 'out', acc.out),
           |    named_struct('init', true,
           |      'l', $newL,
           |      'b', ${fd2(s"acc.b + $newL - acc.l")},
           |      'out', array_append(acc.out, named_struct(
           |        'day', e.day, 'x', e.x,
           |        'f', acc.l + acc.b)))),
           |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("event_type"), col("r.day").as("day"),
        col("r.x").as("cents"), col("r.f").as("forecast_cents"),
        abs(col("r.x") - col("r.f")).as("abs_err_cents"))
  }

  /** a60 — BATCH CUSUM CHANGEPOINT DETECTOR (Page 1954, the tabular
    * two-sided form): the batch companion of a53's streaming
    * Page–Hinkley — s⁺ ← max(0, s⁺ + x − μ − κ), s⁻ ← max(0,
    * s⁻ + μ − x − κ) over the per-type daily series, alarm when
    * either side exceeds h. Baseline μ = floor-mean of the first 14
    * days (positive-mod floor division, the shared-semantics rule),
    * κ = μ/20 (5% slack), h = μ/2 — all exact integer cents, so the
    * alarm census is bit-stable cross-engine. The recurrence runs as
    * one codegen'd `aggregate` fold over the calendar-bounded day
    * array (the w40 pattern); the oracle replays it with a recursive
    * CTE. Per type: max excursion both sides, alarm-day count, first
    * alarm day (−1 = in control). */
  /** a61 — PERCENTILE-BOOTSTRAP CONFIDENCE INTERVAL for each event
    * type's total daily spend: B = 200 resamples of the daily-sum
    * series, drawn with replacement through the repo's deterministic
    * md5-bucket lottery (the t12/t20 recipe — no RNG state, both
    * engines re-derive every draw), 2.5 %/97.5 % order statistics as
    * the interval. The canonical distribution-free error bar when the
    * daily series is too short/skewed for a normal approximation.
    *
    * Scale shape: the only corpus-scale pass is the daily sufficient-
    * stat aggregation; the resample space is groups × B × n_days rows
    * of (key, idx) INTEGERS fanned out by generators, joined back to
    * the tiny daily relation — sums are exact integer cents, so the
    * interval is bit-identical cross-engine with no float anywhere. */
  def a61BootstrapCi(s: SparkSession, d: String, nBoot: Int = 200)
      : DataFrame = {
    val daily = events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
          .as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val idxd = daily
      .withColumn("idx", (row_number().over(w) - 1).cast("long"))
    val stats = idxd.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("total"))
    val draws = stats
      .select(col("event_type"), col("n"),
        explode(expr(s"sequence(0, ${nBoot - 1})")).as("b"))
      .select(col("event_type"), col("n"), col("b"),
        explode(expr("sequence(cast(0 as bigint), n - 1)")).as("i"))
      .select(col("event_type"), col("b"),
        (conv(substring(md5(concat_ws(":", lit("boot"),
          col("event_type"), col("b"), col("i")).cast("binary")),
          1, 6), 16, 10).cast("long") % col("n")).as("idx"))
    val boots = draws.join(idxd, Seq("event_type", "idx"))
      .groupBy("event_type", "b").agg(sum(col("x")).as("boot_sum"))
    val lo = (nBoot * 25 + 999) / 1000
    val hi = (nBoot * 975 + 999) / 1000
    val wb = Window.partitionBy("event_type")
      .orderBy(col("boot_sum"), col("b"))
    boots.withColumn("rn", row_number().over(wb))
      .groupBy("event_type")
      .agg(
        max(when(col("rn") === lo, col("boot_sum")))
          .as("lo_sum_cents"),
        max(when(col("rn") === hi, col("boot_sum")))
          .as("hi_sum_cents"))
      .join(stats, Seq("event_type"))
      .select(col("event_type"), col("total").as("total_cents"),
        col("lo_sum_cents"), col("hi_sum_cents"),
        col("n").as("n_days"))
  }

  /** a63 — MANN–WHITNEY U (Wilcoxon rank-sum), exact with ties: for
    * each event type, are even-day event values distributed like
    * odd-day ones? The nonparametric two-sample location test — the
    * rank-based sibling of a52's permutation test and a32's KS, and
    * the right tool when values are heavy-tailed cents. Everything is
    * INTEGER: tie-averaged ranks are carried DOUBLED (2·avgrank =
    * 2·|{v' < v}| + |{v' = v}| + 1, an integer even under ties), so
    * U statistics come out exactly as 2U = Σ2r − n(n+1) with no float
    * anywhere — bit-identical cross-engine by construction.
    *
    * Scale shape: one groupBy to value-level counts (the sufficient
    * stat — ranks depend only on the per-value tallies), one
    * cumulative window over the DISTINCT VALUES per type (thousands,
    * not rows), then a broadcast-size join back. The identity
    * 2Ux + 2Uy = 2·nx·ny is spec-pinned. */
  def a63MannWhitney(s: SparkSession, d: String): DataFrame = {
    val vals = events(s, d)
      .select(col("event_type"),
        (expr("unix_micros(ts) div 86400000000") % 2 === 0).as("is_x"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
          .as("v"))
    val tallies = vals.groupBy("event_type", "v")
      .agg(sum(when(col("is_x"), 1L).otherwise(0L)).as("tx"),
        count(lit(1)).as("t"))
    val w = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = tallies
      .withColumn("c_le", sum(col("t")).over(w))
      .select(col("event_type"), col("tx"), col("t"),
        // 2·avgrank for every row holding this value
        (lit(2) * (col("c_le") - col("t")) + col("t") + 1).as("r2"))
    ranked.groupBy("event_type")
      .agg(sum(col("tx")).as("nx"),
        sum(col("t") - col("tx")).as("ny"),
        sum(col("tx") * col("r2")).as("sum2r_x"))
      .select(col("event_type"), col("nx"), col("ny"),
        (col("sum2r_x") - col("nx") * (col("nx") + 1)).as("u2_x"),
        (lit(2) * col("nx") * col("ny") -
          (col("sum2r_x") - col("nx") * (col("nx") + 1))).as("u2_y"))
  }

  /** a62 — SPLIT-CONFORMAL PREDICTION INTERVAL: calibration days
    * (even) fit a point predictor (integer-mean daily spend per
    * type); the conformal quantile is the ⌈0.9·(n+1)⌉-th smallest
    * absolute calibration residual — the distribution-free radius
    * that guarantees ≥ 90 % coverage on exchangeable test days; the
    * query then MEASURES that coverage on the held-out odd days. The
    * modern calibration wrapper every deployed predictor needs, as
    * one relational pass: two tiny broadcast dims (predictor,
    * quantile) against the daily aggregate, everything integer cents
    * (sums are positive, so truncating `div` IS floor here). */
  def a62Conformal(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
          .as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("x"))
    val cal = daily.filter(col("day") % 2 === 0)
    val fit = cal.groupBy("event_type")
      .agg(sum(col("x")).as("sc"), count(lit(1)).as("nc"))
      .select(col("event_type"), col("nc"),
        expr("sc div nc").as("pred"))
    val wq = Window.partitionBy("event_type")
      .orderBy(col("r"), col("day"))
    val q = cal.join(broadcast(fit), Seq("event_type"))
      .select(col("event_type"), col("day"), col("nc"),
        abs(col("x") - col("pred")).as("r"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") === expr("(9 * (nc + 1) + 9) div 10"))
      .select(col("event_type"), col("r").as("q_cents"))
    daily.filter(col("day") % 2 === 1)
      .join(broadcast(fit), Seq("event_type"))
      .join(broadcast(q), Seq("event_type"))
      .groupBy("event_type")
      .agg(first(col("pred")).as("pred_cents"),
        first(col("q_cents")).as("q_cents"),
        first(col("nc")).as("n_cal"),
        count(lit(1)).as("n_test"),
        sum(when(abs(col("x") - col("pred")) <= col("q_cents"), 1L)
          .otherwise(0L)).as("n_covered"))
  }

  def a60Cusum(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
          .as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("x"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val rn = daily.withColumn("rn", row_number().over(w))
    def fdiv(num: String, den: String) =
      s"((($num) - (((($num) % ($den)) + ($den)) % ($den))) div ($den))"
    val base = rn.filter(col("rn") <= 14)
      .groupBy("event_type")
      .agg(sum(col("x")).as("sumf"), count(lit(1)).as("cnt"))
      .select(col("event_type"), expr(fdiv("sumf", "cnt")).as("mu"))
      .select(col("event_type"), col("mu"),
        expr(fdiv("mu", "20")).as("k"), expr(fdiv("mu", "2")).as("h"))
    val packed = rn.join(broadcast(base), Seq("event_type"))
      .groupBy("event_type", "mu", "k", "h")
      .agg(count(lit(1)).as("n_days"),
        sort_array(collect_list(struct(col("day"), col("x"))))
          .as("ser"))
    val sp2 = "greatest(cast(0 as bigint), acc.sp + e.x - mu - k)"
    val sn2 = "greatest(cast(0 as bigint), acc.sn + mu - e.x - k)"
    packed.select(col("event_type"), col("n_days"),
        col("mu").as("target_cents"),
        expr(
          s"""aggregate(ser,
             |  named_struct('sp', cast(0 as bigint),
             |    'sn', cast(0 as bigint), 'mxp', cast(0 as bigint),
             |    'mxn', cast(0 as bigint), 'nal', cast(0 as bigint),
             |    'first', cast(-1 as bigint)),
             |  (acc, e) -> named_struct(
             |    'sp', $sp2, 'sn', $sn2,
             |    'mxp', greatest(acc.mxp, $sp2),
             |    'mxn', greatest(acc.mxn, $sn2),
             |    'nal', acc.nal + if($sp2 > h or $sn2 > h,
             |      cast(1 as bigint), cast(0 as bigint)),
             |    'first', if(acc.first >= 0, acc.first,
             |      if($sp2 > h or $sn2 > h, e.day,
             |        cast(-1 as bigint)))),
             |  acc -> acc)""".stripMargin).as("c"))
      .select(col("event_type"), col("n_days"), col("target_cents"),
        col("c.mxp").as("max_cusum_pos"),
        col("c.mxn").as("max_cusum_neg"),
        col("c.nal").as("n_alarm_days"),
        col("c.first").as("first_alarm_day"))
  }

  /** a59 — COHEN'S d EFFECT SIZE (weekend vs weekday spend per event
    * type): the magnitude report that belongs next to a47's rank-sum
    * and a50's permutation p — "significant" without "how big" is how
    * monitoring pipelines cry wolf. Kept sqrt-free and exact: d² in
    * ppm via the fully cross-multiplied integer ratio
    * d²·10⁶ = 10⁶·(S₁n₀−S₀n₁)²·(n₁+n₀−2) div
    * [n₁n₀·(n₀(n₁Q₁−S₁²) + n₁(n₀Q₀−S₀²))] (pooled SAMPLE variance),
    * plus the gap sign. DECIMAL(38,0)/HUGEINT keeps the numerator
    * exact through the declared sf envelope (≤ sf0.3 — past that the
    * ×10⁶ square exceeds 38 digits; the documented fix is pre-
    * aggregating cents to daily grain first, which divides S by ~10³). */
  def a59EffectSize(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("event_type"),
      (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
        .as("cents"),
      (expr("((unix_micros(ts) div 86400000000) + 3) % 7") >= 5)
        .as("weekend"))
    ev.groupBy("event_type").agg(
        sum(when(col("weekend"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("weekend"), 1L).otherwise(0L)).as("n0"),
        sum(when(col("weekend"), col("cents")).otherwise(0L))
          .cast("decimal(38,0)").as("s1"),
        sum(when(!col("weekend"), col("cents")).otherwise(0L))
          .cast("decimal(38,0)").as("s0"),
        sum(when(col("weekend"),
          col("cents").cast("decimal(38,0)") * col("cents"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("q1"),
        sum(when(!col("weekend"),
          col("cents").cast("decimal(38,0)") * col("cents"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("q0"))
      .select(col("event_type"), col("n1"), col("n0"),
        expr("cast(case when s1 * n0 > s0 * n1 then 1 " +
          "when s1 * n0 < s0 * n1 then -1 else 0 end as int)")
          .as("gap_sign"),
        // NULL when the pooled variance (or a group) is degenerate —
        // Spark NULLs on div-by-zero where DuckDB errors, so the
        // engine-neutral contract guards explicitly on both sides
        expr("if(n1 = 0 or n0 = 0 or " +
          "(n0 * (n1 * q1 - s1 * s1) + n1 * (n0 * q0 - s0 * s0)) = 0, " +
          "cast(null as bigint), " +
          "cast((s1 * n0 - s0 * n1) * (s1 * n0 - s0 * n1) " +
          "* (n1 + n0 - 2) * 1000000 div " +
          "(cast(n1 as decimal(38,0)) * n0 " +
          "* (n0 * (n1 * q1 - s1 * s1) + n1 * (n0 * q0 - s0 * s0))) " +
          "as bigint))").as("d2_ppm"))
  }

  /** w41 — PINBALL-LOSS FORECAST EVAL: w40's Holt one-step-ahead
    * forecasts scored under quantile (pinball) loss at q = 0.5 and
    * q = 0.9, against the NAIVE random-walk baseline (f = yesterday)
    * — the MASE-style "does the model beat persistence" gate a
    * forecasting pipeline runs before trusting a model. Losses are
    * held ×10 so both quantiles are exact integers:
    * 10·L_q(y,f) = max(10q·(y−f), (10q−10)·(y−f)). One lag window
    * over the calendar-bounded daily rollup for the baseline; the
    * Holt leg reuses the w40 fold. */
  def w41PinballEval(s: SparkSession, d: String): DataFrame = {
    def pin(qx10: Int, err: String) =
      s"greatest($qx10 * ($err), ($qx10 - 10) * ($err))"
    val holt = w40HoltBacktest(s, d)
      .select(col("event_type"), col("day"),
        expr(pin(5, "cents - forecast_cents")).as("h50"),
        expr(pin(9, "cents - forecast_cents")).as("h90"))
    val daily = events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("x"))
    val wSeq = Window.partitionBy("event_type").orderBy("day")
    val naive = daily
      .withColumn("prev", lag(col("x"), 1).over(wSeq))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), col("day"),
        expr(pin(5, "x - prev")).as("n50"),
        expr(pin(9, "x - prev")).as("n90"))
    holt.join(naive, Seq("event_type", "day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days_scored"),
        sum(col("h50")).as("holt_p50_x10"),
        sum(col("h90")).as("holt_p90_x10"),
        sum(col("n50")).as("naive_p50_x10"),
        sum(col("n90")).as("naive_p90_x10"))
      .withColumn("holt_beats_naive",
        col("holt_p50_x10") < col("naive_p50_x10"))
  }

  /** a55 — BENJAMINI–HOCHBERG step-up over the a50 permutation
    * p-values: the multiple-testing correction a monitoring pipeline
    * applies before alerting on per-segment tests (5 hypotheses here,
    * one per event type). Pure integer step-up at FDR 5%: a p is
    * BH-significant iff its ascending rank k (ties broken by type for
    * determinism) satisfies p_ppm·m ≤ 50000·k for SOME k' ≥ k passing
    * — i.e. rank ≤ k_max. Windows run over the hypothesis grid (m
    * rows), never over data. */
  def a55BhFdr(s: SparkSession, d: String): DataFrame = {
    val p = a50PermutationTest(s, d)
      .select(col("event_type"), col("p_ppm"))
    val wRank = Window.orderBy(col("p_ppm"), col("event_type"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    p.withColumn("k", row_number().over(wRank).cast("long"))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("kmax", max(when(
        col("p_ppm") * col("m") <= lit(50000L) * col("k"), col("k")))
        .over(wAll))
      .select(col("event_type"), col("p_ppm"), col("k"), col("m"),
        expr("50000 * k div m").as("bh_threshold_ppm"),
        (col("k") <= coalesce(col("kmax"), lit(0L))).as("rejected"))
  }

  /** a56 — SHEWHART CONTROL CHART (individuals, 3σ) per event type:
    * the limit-based SPC screen that complements the SEQUENTIAL
    * detectors (a33 CUSUM, a34/a35 EWMA, a52/a53 Page–Hinkley) — a
    * day signals when it leaves the ±3σ band around the per-type
    * mean. Entirely integer: the test is the cross-multiplied square
    * (x·n − S)² > 9·(n·Q − S²) (both sides of (x−μ)² > 9σ² scaled by
    * n², population σ), run in DECIMAL(38,0) here and HUGEINT in the
    * oracle — no sqrt, no float, no tie ambiguity. One bounded rollup
    * plus one broadcast-joined scan. */
  def a56SpcChart(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("x"))
    val tot = daily.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum((col("x").cast("decimal(38,0)") * col("x")))
        .as("qx"))
    daily.join(broadcast(tot), Seq("event_type"))
      .withColumn("sig", expr(
        "(cast(x as decimal(38,0)) * n - sx) " +
          "* (cast(x as decimal(38,0)) * n - sx) " +
          "> 9 * (n * qx - sx * sx)"))
      .groupBy("event_type")
      .agg(max(col("n")).as("n_days"),
        expr("cast(max(sx div n) as bigint)").as("mean_cents"),
        sum(when(col("sig"), 1L).otherwise(0L)).as("n_signals"),
        coalesce(min(when(col("sig"), col("day"))), lit(-1L))
          .as("first_signal_day"))
  }

  /** a57 — LEAD–LAG CROSS-COVARIANCE table: for every ordered pair of
    * distinct event types and lag 0..7 days, the covariance numerator
    * n·Σ(x_a·y_b) − Σx_a·Σy_b over the lag-aligned daily revenue
    * overlap (y is read `lag` days AFTER x) — the "which metric leads
    * which" diagnostic behind funnel causality hunches. Kept as the
    * exact ×n² integer numerator (DECIMAL(38,0)/HUGEINT), so no
    * division and no float; the lag fanout is a map-side explode and
    * the aligned join BROADCASTS the calendar-bounded daily grid. */
  def a57LeadLag(s: SparkSession, d: String): DataFrame =
    a57Of(events(s, d))

  private[operators] def a57Of(ev: DataFrame): DataFrame = {
    val daily = ev
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("x"))
    val fan = daily
      .select(col("event_type").as("et_a"), col("day"),
        col("x").as("xa"),
        explode(expr("sequence(0L, 7L)")).as("lag_days"))
      .withColumn("day_b", col("day") + col("lag_days"))
    val b = daily.select(col("event_type").as("et_b"),
      col("day").as("day_b"), col("x").as("yb"))
    fan.join(broadcast(b),
        fan("day_b") === b("day_b") && col("et_a") =!= col("et_b"))
      .groupBy("et_a", "et_b", "lag_days")
      .agg(count(lit(1)).as("n_days"),
        sum(col("xa").cast("decimal(38,0)")).as("sx"),
        sum(col("yb").cast("decimal(38,0)")).as("sy"),
        sum(col("xa").cast("decimal(38,0)") * col("yb")).as("sxy"))
      .select(col("et_a"), col("et_b"), col("lag_days"),
        col("n_days"),
        expr("cast(n_days * sxy - sx * sy as decimal(38,0))")
          .cast("string").as("cov_n2"))
  }

  /** a58 — ASSOCIATION RULES over order baskets: brand→brand
    * support/confidence/lift from co-purchases (the 1-item→1-item
    * apriori rules of market-basket analysis). Baskets are orders,
    * items are part BRANDS (bounded domain, so the rule grid is
    * ~brand² regardless of corpus size); the pair join is per-order
    * (items-per-order is a small constant at any scale, so the
    * self-join never goes quadratic in the fact table). Exact ppm:
    * confidence = n_ab·10⁶ div n_a, lift = n_ab·N·10⁶ div (n_a·n_b)
    * in DECIMAL(38,0)/HUGEINT. Rules below 5 co-orders are cut (same
    * loud-constant convention as a13's heavy-hitter floor). */
  def a58AssocRules(s: SparkSession, d: String): DataFrame = {
    // ONE fact pass: per-order brand sets, then a bounded per-order
    // pair explode that keeps the DIAGONAL — the (a, a) rows count
    // per-brand order support and Σ n_aa distinct baskets, so the
    // single grid relation carries pair counts, brand counts AND the
    // basket total (the naive ob-self-join shape re-scans the fact
    // table for each of the three; Explain showed it derived `ob`
    // twice)
    val baskets = lineitemSp(s, d)
      .join(broadcast(part(s, d)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
      .groupBy("ok").agg(collect_set(col("brand")).as("bs"))
    val grid = baskets
      .select(explode(col("bs")).as("brand_a"), col("bs"))
      .select(col("brand_a"), explode(col("bs")).as("brand_b"))
      .groupBy("brand_a", "brand_b")
      .agg(count(lit(1)).as("n_ab"))
    // the diagonal rows (a, a) ARE the per-brand order supports
    val diag = grid.filter(col("brand_a") === col("brand_b"))
      .select(col("brand_a").as("brand"), col("n_ab").as("n"))
    // basket count is NOT recoverable from the grid (Σ n_aa counts
    // basket-brand memberships) — one extra bounded aggregate over
    // the basket relation
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val pairs = grid.filter(col("brand_a") =!= col("brand_b"))
      .filter(col("n_ab") >= 5)
    pairs
      .join(broadcast(diag.select(col("brand").as("brand_a"),
        col("n").as("n_a"))), Seq("brand_a"))
      .join(broadcast(diag.select(col("brand").as("brand_b"),
        col("n").as("n_b"))), Seq("brand_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("brand_a"), col("brand_b"), col("n_a"), col("n_b"),
        col("n_ab"), col("n_orders"),
        expr("n_ab * 1000000 div n_a").as("conf_ppm"),
        expr("cast(cast(n_ab as decimal(38,0)) * n_orders * 1000000 " +
          "div (cast(n_a as decimal(38,0)) * n_b) as bigint)")
          .as("lift_ppm"))
  }

  /** w39 — DIFFERENCE-IN-DIFFERENCES over purchase spend: treated
    * cohort = odd user ids, post period = the data-derived midpoint
    * day (min + span/2, deterministic from the table itself). Four
    * (treated × post) cells in ONE pass — n, cents sum, and a floored
    * micro-cents mean (sums are positive, so the truncation BOTH
    * engines' integer division performs — Spark `div`, DuckDB `//`,
    * each toward zero — equals true floor; products run DECIMAL(38,0) /
    * HUGEINT) — then the DiD estimate as pure integer subtraction of
    * the four floored means. The causal-analytics rollup an events
    * pipeline runs for any cohort launch; at 100 TB it is one
    * map-side-combined aggregate over a 4-row grid plus a 1-row
    * broadcast for the cutoff. */
  def w39DiffInDiff(s: SparkSession, d: String): DataFrame = {
    val pe = events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        (col("value").cast("decimal(18,2)") * lit(100)).cast("long")
          .as("cents"))
    val cut = pe.agg(
      expr("min(day) + (max(day) - min(day) + 1) div 2").as("cutoff"))
    val cells = pe.crossJoin(broadcast(cut))
      .select((col("user_id") % 2 === 1).as("treated"),
        (col("day") >= col("cutoff")).as("post"), col("cents"))
      .groupBy("treated", "post")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .withColumn("m", expr(
        "cast(cast(s as decimal(38,0)) * 1000000 div n as bigint)"))
    def cell(t: Boolean, p: Boolean, c: String) =
      sum(when(col("treated") === t && col("post") === p, col(c)))
    cells.agg(
        cell(true, false, "n").as("n_t_pre"),
        cell(true, true, "n").as("n_t_post"),
        cell(false, false, "n").as("n_c_pre"),
        cell(false, true, "n").as("n_c_post"),
        cell(true, false, "m").as("m_t_pre_micro"),
        cell(true, true, "m").as("m_t_post_micro"),
        cell(false, false, "m").as("m_c_pre_micro"),
        cell(false, true, "m").as("m_c_post_micro"))
      .withColumn("did_micro", expr(
        "(m_t_post_micro - m_t_pre_micro) " +
          "- (m_c_post_micro - m_c_pre_micro)"))
  }

  def w31Stickiness(s: SparkSession, d: String): DataFrame = {
    // one user-day derivation for BOTH counters: the explode keeps the
    // origin day, the (user, report-day) rollup remembers whether any
    // contribution was the i = 0 one (the user was active THAT day),
    // and the final rollup reads dau and mau off the same relation —
    // a dau/mau branch pair would re-derive the event-table distinct
    // twice (plan-audit fix, same class as a36's union)
    events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
      .select(col("user_id"), col("day").as("d0"),
        explode(expr("sequence(day, day + 27)")).as("day"))
      .groupBy("user_id", "day")
      .agg(max(when(col("d0") === col("day"), 1L).otherwise(0L))
        .as("act"))
      .groupBy("day")
      .agg(count(lit(1)).as("mau"), sum(col("act")).as("dau"))
      .filter(col("dau") > 0)
      .select(col("day"), col("dau"), col("mau"),
        expr("dau * 1000000 div mau").as("stickiness_ppm"))
  }

  /** a39 — WINSORIZED MEAN (5%): a28's trimmed mean DROPS the tails;
    * winsorizing CLAMPS them to the 5%/95% order statistics instead —
    * the robust-mean variant that keeps n constant. Both boundary
    * values come from ONE a15-style bucket probe (the two candidate
    * ranks k+1 = n div 20 + 1 and n − n div 20 ride the same
    * histogram + single-bucket row_number pass), then one clamp-sum
    * scan with the 3-row bounds broadcast. Sum runs DECIMAL(38,0)
    * before the ·10⁶ scaling — BIGINT overflows past sf1. */
  def a39WinsorizedMean(s: SparkSession, d: String): DataFrame = {
    val width = 100000L
    val li = lineitem(s, d).select(col("l_returnflag"),
      expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)")
        .as("cents"))
    val hist = li
      .groupBy(col("l_returnflag"), expr(s"cents div $width").as("bkt"))
      .agg(count(lit(1)).as("c"))
    val tot = hist.groupBy("l_returnflag").agg(sum(col("c")).as("n"))
    val wcum = Window.partitionBy("l_returnflag").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cand = hist
      .withColumn("cum", sum(col("c")).over(wcum))
      .join(broadcast(tot), Seq("l_returnflag"))
      .withColumn("k1", expr("n div 20 + 1"))
      .withColumn("k2", expr("n - n div 20"))
      .withColumn("below", col("cum") - col("c"))
      .filter((col("k1") > col("below") && col("k1") <= col("cum")) ||
        (col("k2") > col("below") && col("k2") <= col("cum")))
      .select(col("l_returnflag"), col("bkt"), col("below"), col("n"),
        col("k1"), col("k2"))
    val wloc = Window.partitionBy("l_returnflag", "bkt").orderBy("cents")
    val bounds = li.withColumn("bkt", expr(s"cents div $width"))
      .join(broadcast(cand), Seq("l_returnflag", "bkt"))
      .withColumn("rn", row_number().over(wloc) + col("below"))
      .filter(col("rn") === col("k1") || col("rn") === col("k2"))
      .groupBy("l_returnflag")
      .agg(max(col("n")).as("n"),
        min(when(col("rn") === col("k1"), col("cents"))).as("lo_cents"),
        min(when(col("rn") === col("k2"), col("cents"))).as("hi_cents"))
    li.join(broadcast(bounds), Seq("l_returnflag"))
      .groupBy("l_returnflag")
      .agg(max(col("n")).as("n"), max(col("lo_cents")).as("lo_cents"),
        max(col("hi_cents")).as("hi_cents"),
        sum(expr("cast(greatest(least(cents, hi_cents), lo_cents) " +
          "as decimal(38,0))")).as("wsum"))
      .select(col("l_returnflag"), col("n"), col("lo_cents"),
        col("hi_cents"),
        expr("cast(wsum * 1000000 div n as bigint)")
          .as("winsor_mean_micros"))
  }

  /** a40 — LAG-1 AUTOCORRELATION of daily revenue per event type, the
    * persistence statistic that separates trending series from noise
    * (pairs with a33's changepoint and a34's smoother). Exact rational
    * form on SCALED deviations d_t = x_t·D − S (so the mean never
    * divides): r₁ = Σ d_t·d_{t+1} · 10⁶ div Σ d_t² over consecutive
    * OBSERVED days (index-based, declared). Products in DECIMAL(38,0);
    * one LEAD over the calendar-bounded daily series. */
  def a40Autocorr(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .groupBy("event_type", "day").agg(sum(col("cents")).as("x"))
    val tot = daily.groupBy("event_type")
      .agg(count(lit(1)).as("nd"), sum(col("x")).as("ssum"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily.join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("day"), col("nd"),
        expr("cast(x as decimal(38,0)) * nd - ssum").as("dv"))
      .withColumn("dv1", lead(col("dv"), 1).over(w))
      .groupBy("event_type")
      .agg(max(col("nd")).as("n_days"),
        sum(expr("dv * dv")).as("den"),
        sum(expr("dv * dv1")).as("num"))
      .select(col("event_type"), col("n_days"),
        expr("cast(num * 1000000 div den as bigint)").as("r1_ppm"))
  }

  /** w32 — MEDIAN PURCHASE GAP: the exact global median of the time
    * between a user's consecutive purchases — the inter-purchase
    * cadence anchor behind churn-risk thresholds. Per-user gaps come
    * from one LAG; the global median reuses the a29 bucket-probe
    * helper on HOUR buckets (the window sees the bounded hour grid,
    * never the row-scale gap relation). */
  def w32PurchaseGap(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
    val gaps = events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("unix_micros(ts)").as("t"),
        col("event_id"))
      .withColumn("gap_us", col("t") - lag(col("t"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .select(lit("all").as("g"), col("gap_us"))
    lowerMedianBucketed(gaps, "g", "gap_us", 3600L * 1000000L)
      .select(col("n").as("n_gaps"), col("med").as("median_gap_us"))
  }

  /** a41 — EXACT PERCENTILE VECTOR: p25/p50/p75/p95/p99 per group in
    * ONE bucket-probe pass — the generalization proving the a15/a29/
    * a39 order-statistic engine scales in the NUMBER of ranks, not
    * just rows: all five candidate ranks ride the same histogram +
    * single-bucket row_number probe, and the report pivots by rank
    * match. Convention: percentile_disc lower bound — rank
    * kₚ = ⌈p·n/100⌉, declared identically in the oracle. */
  def a41ExactPercentiles(s: SparkSession, d: String): DataFrame = {
    val width = 100000L
    val ps = Seq(25, 50, 75, 95, 99)
    val li = lineitem(s, d).select(col("l_returnflag"),
      expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)")
        .as("cents"))
    val hist = li
      .groupBy(col("l_returnflag"), expr(s"cents div $width").as("bkt"))
      .agg(count(lit(1)).as("c"))
    val tot = hist.groupBy("l_returnflag").agg(sum(col("c")).as("n"))
    val wcum = Window.partitionBy("l_returnflag").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withK = hist
      .withColumn("cum", sum(col("c")).over(wcum))
      .join(broadcast(tot), Seq("l_returnflag"))
      .withColumn("below", col("cum") - col("c"))
    val kCols = ps.map(p =>
      expr(s"(n * $p + 99) div 100").as(s"k$p"))
    val cand = withK.select(
        Seq(col("l_returnflag"), col("bkt"), col("below"), col("n"),
          col("cum")) ++ kCols: _*)
      .filter(ps.map(p =>
        col(s"k$p") > col("below") && col(s"k$p") <= col("cum"))
        .reduce(_ || _))
      .drop("cum")
    val wloc = Window.partitionBy("l_returnflag", "bkt").orderBy("cents")
    li.withColumn("bkt", expr(s"cents div $width"))
      .join(broadcast(cand), Seq("l_returnflag", "bkt"))
      .withColumn("rn", row_number().over(wloc) + col("below"))
      .filter(ps.map(p => col("rn") === col(s"k$p")).reduce(_ || _))
      .groupBy("l_returnflag")
      .agg(max(col("n")).as("n"),
        ps.map(p => min(when(col("rn") === col(s"k$p"), col("cents")))
          .as(s"p${p}_cents")): _*)
  }

  /** w34 — CONVERSION LAG HISTOGRAM: time from a user's FIRST view to
    * their FIRST purchase, bucketed by hour — the funnel-latency
    * distribution behind "how long does conversion take". ONE event
    * scan: both firsts are conditional mins in the same per-user
    * aggregate; users lacking either event, or whose first purchase
    * precedes their first view, drop out (declared); the histogram is
    * a map-side-combining rollup on the bounded hour-bucket grid. */
  def w34ConversionLag(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t"))
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("t")))
          .as("first_view"),
        min(when(col("event_type") === "purchase", col("t")))
          .as("first_purchase"))
      .filter(col("first_view").isNotNull &&
        col("first_purchase").isNotNull &&
        col("first_purchase") >= col("first_view"))
      .select(expr("(first_purchase - first_view) div 3600000000")
        .as("lag_hours"))
      .groupBy("lag_hours")
      .agg(count(lit(1)).as("n_users"))

  /** s13 — SNAPSHOT DIFF: the table-regression report every pipeline
    * promotion gate runs — keyed symmetric diff of two table versions
    * into added / removed / changed / unchanged counts plus the money
    * delta. Snapshot B is a DETERMINISTIC transform of orders (keys
    * ≡ 0 mod 101 deleted; values of keys ≡ 0 mod 97 bumped 1%; both
    * engines derive the identical B — the t15 planted-data
    * discipline). One full-outer join on the key, one aggregate; at
    * scale this is the two-sided hash join a real diff runs, counts
    * partial-aggregated. */
  def s13SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val a = orders(s, d).select(col("o_orderkey"),
      expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
        .as("cents_a"))
    val b = orders(s, d)
      .filter(col("o_orderkey") % 101 =!= 0)
      .select(col("o_orderkey"),
        expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
          .as("cents"))
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 97 === 0,
          expr("cents + cents div 100")).otherwise(col("cents"))
          .as("cents_b"))
    a.join(b, Seq("o_orderkey"), "full_outer")
      .agg(
        sum(when(col("cents_a").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("cents_b").isNull, 1L).otherwise(0L))
          .as("n_removed"),
        sum(when(col("cents_a").isNotNull && col("cents_b").isNotNull &&
          col("cents_a") =!= col("cents_b"), 1L).otherwise(0L))
          .as("n_changed"),
        sum(when(col("cents_a") === col("cents_b"), 1L).otherwise(0L))
          .as("n_unchanged"),
        sum(coalesce(col("cents_b"), lit(0L)) -
          coalesce(col("cents_a"), lit(0L))).as("delta_cents"))
  }

  /** a42 — WEEKLY ABANDONMENT: per week, viewers who did not purchase
    * that week — w34's complement closing the funnel family (reach →
    * convert → lag → abandon). One event scan: per (user, week) the
    * two booleans fold in a single aggregate, the weekly rollup
    * counts them, all ratios integer ppm. */
  def a42Abandonment(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("user_id"),
        expr("unix_micros(ts) div 604800000000").as("week"),
        col("event_type"))
      .groupBy("user_id", "week")
      .agg(max(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("viewed"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchased"))
      .filter(col("viewed") === 1L)
      .groupBy("week")
      .agg(count(lit(1)).as("n_viewers"),
        sum(col("purchased")).as("n_converters"))
      .select(col("week"), col("n_viewers"), col("n_converters"),
        expr("(n_viewers - n_converters) * 1000000 div n_viewers")
          .as("abandonment_ppm"))

  /** s14 — GROUPED SKYLINE: s11's Pareto frontier PER BRAND — the
    * "best offer per vendor" preference query. Identical grid
    * reduction with the brand folded into every key: the window
    * partitions by brand over its ~50-row size grid, the frontier
    * broadcast carries (brand, size, price). Oracle: all-pairs NOT
    * EXISTS within the brand. */
  def s14GroupedSkyline(s: SparkSession, d: String): DataFrame = {
    val p = part(s, d).select(col("p_brand"), col("p_partkey"),
      col("p_size"),
      expr("cast(floor(p_retailprice * 100 + 0.5) as bigint)")
        .as("price_cents"))
    val grid = p.groupBy("p_brand", "p_size")
      .agg(min(col("price_cents")).as("m"))
    val wgt = Window.partitionBy("p_brand").orderBy(col("p_size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = grid
      .withColumn("best_gt", min(col("m")).over(wgt))
      .filter(col("best_gt").isNull || col("m") < col("best_gt"))
      .select(col("p_brand").as("f_brand"),
        col("p_size").as("f_size"), col("m"))
    p.join(broadcast(frontier),
        col("p_brand") === col("f_brand") &&
          col("p_size") === col("f_size") &&
          col("price_cents") === col("m"))
      .select(col("p_brand"), col("p_partkey"), col("p_size"),
        col("price_cents"))
  }

  /** Scale-stress probes (diag-only, the z-family convention). */
  def diag: Map[String, (SparkSession, String) => DataFrame] = Map(
    // a50's permutation fan at 10× the rep count: R independent
    // (type, rep)-partitioned sorts — wall time must scale ~linearly
    // in R (the "no single-partition window" claim measured), while
    // n_we/n_wd stay the observed group sizes and n_reps = 1000
    "z29_a50_10x" -> ((s: SparkSession, d: String) => a50Of(s, d, 1000)),
    // a57 at 20× event replication (ids unused by the derivation, so
    // plain row copies): daily sums scale ×20, hence every cov_n2
    // must be EXACTLY 400× the base run — a closed-form check that
    // the lag-aligned broadcast join shape survives fact-table growth
    // while the daily grid (the broadcast side) stays calendar-bounded
    "z31_a57_20x" -> ((s: SparkSession, d: String) => {
      val reps = (0 until TextOps.stressReps)
        .map(_ => events(s, d)
          .select(col("event_type"), col("ts"), col("value")))
        .reduce(_ unionByName _)
      a57Of(reps)
    }),
    // a45's pair space on a 10-YEAR synthetic calendar: 5 types ×
    // 3650 days → exactly 3650·3649/2 = 6 659 425 slope pairs per
    // type — the calendar²-bound exercised where days² is no longer
    // small (the sf grids top out near a year). Deterministic linear
    // trend (1000 cents/day) + bounded LCG noise, so the median slope
    // is pinned near 10⁹ micro-cents/day and the pair count is exact
    // closed form. The derivation is byte-identical to a45's
    // (theilSenOf) — only the input grid is synthetic.
    "z34_a45_3650d" -> ((s: SparkSession, _: String) =>
      theilSenOf(s.range(0, 3650).select(
          explode(array(Seq("click", "view", "purchase", "signup",
            "error").map(lit): _*)).as("event_type"),
          col("id").as("day"))
        .withColumn("c",
          expr("1000 * day + (day * 2654435761) % 997")))),
    // 20 disjoint user-space replicas with IDENTICAL timestamps: every
    // replica's sessions align in time, so the stress peak must be
    // exactly stressReps × the base peak at the SAME instant — a
    // closed-form check that the two-level prefix sum scales in data
    // while the hour-offset relation stays time-bounded
    "z25_a36_20x" -> ((s: SparkSession, d: String) => {
      val reps = (0 until TextOps.stressReps)
        .map(i => events(s, d).select(
          (col("user_id") + lit(i * 10000000L)).as("user_id"),
          col("ts"), col("event_id")))
        .reduce(_ unionByName _)
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gap = unix_timestamp(col("ts")) -
        unix_timestamp(lag(col("ts"), 1).over(w))
      val sess = reps
        .withColumn("new_sess",
          when(gap.isNull || gap > 1800, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
      val deltas = sess
        .select(explode(array(
          struct(expr("unix_micros(session_start)").as("t"),
            lit(1L).as("delta")),
          struct(expr("unix_micros(session_end)").as("t"),
            lit(-1L).as("delta")))).as("e"))
        .select(col("e.t").as("t"), col("e.delta").as("delta"))
        .groupBy("t", "delta").agg(sum(col("delta")).as("d"))
        .withColumn("hb", expr("t div 3600000000"))
      val wloc = Window.partitionBy("hb").orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val woff = Window.orderBy("hb")
        .rowsBetween(Window.unboundedPreceding, -1)
      val hoff = deltas.groupBy("hb").agg(sum(col("d")).as("hsum"))
        .withColumn("hoff",
          coalesce(sum(col("hsum")).over(woff), lit(0L)))
        .select("hb", "hoff")
      deltas.withColumn("lsum", sum(col("d")).over(wloc))
        .join(broadcast(hoff), Seq("hb"))
        .select((col("hoff") + col("lsum")).as("running"), col("t"))
        .agg(max(struct(col("running"), (-col("t")).as("negt"))).as("m"))
        .select(expr("m.running").as("peak_concurrency"),
          expr("cast(-m.negt as bigint)").as("at_us"))
    }))

  /** a43 — WALD–WOLFOWITZ RUNS TEST: is daily total revenue a random
    * sequence around its median, or does it trend/cycle — the
    * distribution-free randomness screen. Days equal to the (lower)
    * median are dropped (the standard tie rule, declared); the
    * statistic is the observed run count vs the expected
    * 1 + 2·na·nb/(na+nb), reported in milli-units so everything
    * stays integer. The whole computation runs on the DAILY relation
    * — calendar-bounded, so its global windows are ~hundreds of rows
    * at ANY corpus size (documented boundedness, the a8 rule). */
  def a43RunsTest(s: SparkSession, d: String): DataFrame = {
    val daily = eventsSp(s, d)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .groupBy("day").agg(sum(col("cents")).as("x"))
    val wv = Window.orderBy("x", "day")
    val tot = daily.agg(count(lit(1)).as("n"))
    val med = daily
      .withColumn("rn", row_number().over(wv))
      .crossJoin(broadcast(tot))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("x").as("med"))
    val wd = Window.orderBy("day")
    daily.crossJoin(broadcast(med))
      .filter(col("x") =!= col("med"))
      .withColumn("above", col("x") > col("med"))
      .withColumn("run_start",
        when(lag(col("above"), 1).over(wd).isNull ||
          lag(col("above"), 1).over(wd) =!= col("above"), 1L)
          .otherwise(0L))
      .agg(sum(when(col("above"), 1L).otherwise(0L)).as("n_above"),
        sum(when(!col("above"), 1L).otherwise(0L)).as("n_below"),
        sum(col("run_start")).as("n_runs"))
      .select(col("n_above"), col("n_below"), col("n_runs"),
        expr("1000 + 2000 * n_above * n_below div (n_above + n_below)")
          .as("expected_runs_milli"))
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a43_runs_test" -> a43RunsTest _,
    "s14_grouped_skyline" -> s14GroupedSkyline _,
    "a42_abandonment" -> a42Abandonment _,
    "w34_conversion_lag" -> w34ConversionLag _,
    "s13_snapshot_diff" -> s13SnapshotDiff _,
    "a41_exact_percentiles" -> a41ExactPercentiles _,
    // w33: the SPARK side is batch w25; the oracle reads the
    // streaming replay's emissions — hash match = the
    // bounded-frame rolling median survives micro-batch seams
    "w33_stream_median" -> w25SlidingMedian _,
    "a40_autocorr" -> a40Autocorr _,
    "w32_purchase_gap" -> w32PurchaseGap _,
    "a39_winsorized_mean" -> a39WinsorizedMean _,
    "a38_chi2_cells" -> a38Chi2 _,
    "a44_cramers_v" -> a44CramersV _,
    "a45_theil_sen" -> a45TheilSen _,
    "a46_hodges_lehmann" -> a46HodgesLehmann _,
    "a47_mann_whitney" -> a47MannWhitney _,
    "a48_kendall_tau" -> a48KendallTau _,
    "w37_survival" -> w37Survival _,
    "w38_seasonal_backtest" -> w38SeasonalBacktest _,
    "a49_dow_seasonality" -> a49DowSeasonality _,
    "a50_permutation_test" -> a50PermutationTest _,
    "a51_mann_kendall" -> a51MannKendall _,
    "w39_diff_in_diff" -> w39DiffInDiff _,
    "a52_page_hinkley" -> a52PageHinkley _,
    "w40_holt_backtest" -> w40HoltBacktest _,
    "a55_bh_fdr" -> a55BhFdr _,
    "a56_spc_chart" -> a56SpcChart _,
    "a57_lead_lag" -> a57LeadLag _,
    "a58_assoc_rules" -> a58AssocRules _,
    "w41_pinball_eval" -> w41PinballEval _,
    "a59_effect_size" -> a59EffectSize _,
    "a60_cusum" -> ((s: SparkSession, d: String) => a60Cusum(s, d)),
    "a61_bootstrap_ci" ->
      ((s: SparkSession, d: String) => a61BootstrapCi(s, d)),
    "a62_conformal" -> a62Conformal _,
    "a63_mann_whitney" -> a63MannWhitney _,
    "z38_j20_20x" ->
      ((s: SparkSession, d: String) => Linkage.z38J20_20x(s, d)),
    // a53: the SPARK side is the batch δ=0 PH series; the oracle reads
    // the streaming replay's OpLake dump verbatim — hash
    // match = stream ≡ batch Page–Hinkley across micro-batch seams
    "a53_stream_ph" -> a53PhSeries _,
    "a54_seasonal_mk" -> a54SeasonalMk _,
    "w35_concurrency_pctile" -> w35ConcurrencyPctile _,
    "w36_late_audit" -> w36LateAudit _,
    "w31_stickiness" -> w31Stickiness _,
    "w30_ltv_triangle" -> w30LtvTriangle _,
    "w29_top_paths" -> w29TopPaths _,
    "w28_growth_accounting" -> w28GrowthAccounting _,
    "a37_benford" -> a37Benford _,
    "a36_peak_concurrency" -> a36PeakConcurrency _,
    "s11_skyline" -> s11Skyline _,
    "a34_ewma" -> a34Ewma _,
    // a35: the SPARK side is batch a34; the oracle replays the same
    // recurrence online as a streaming keyed fold (OpLake dump) —
    // hash match = stream ≡ batch EWMA, including across batch seams
    "a35_stream_ewma" -> a34Ewma _,
    "a31_gini" -> a31Gini _,
    "a32_ks_drift" -> a32KsDrift _,
    "a33_cusum" -> a33Cusum _,
    "w26_wow_change" -> w26WowChange _,
    "a30_kanon_rollup" -> a30KanonRollup _,
    "w25_sliding_median" -> w25SlidingMedian _,
    "j16_interval_coverage" -> j16IntervalCoverage _,
    // j17: the SPARK side is batch j16; the oracle aggregates the
    // streaming replay's island assignments — hash match = parity
    "j17_stream_intervals" -> j16IntervalCoverage _,
    "w24_rfm" -> w24Rfm _,
    "a29_mad" -> a29Mad _,
    "a28_trimmed_mean" -> a28TrimmedMean _,
    "j15_asof_nearest" -> AsOf.j15AsofNearest _,
    "j20_record_linkage" -> Linkage.j20RecordLinkage _,
    "w42_interpolate" -> AsOf.w42Interpolate _,
    // w43: the SPARK side is batch w42; the oracle reads the
    // streaming interpolation replay dump — hash match = parity
    "w43_stream_interpolate" -> AsOf.w42Interpolate _,
    "w22_attribution" -> w22Attribution _,
    // w23: the SPARK side is the batch window-max detail; the oracle
    // side is the streaming replay dump — hash match = parity
    "w23_stream_attribution" -> w23AttributionDetail _,
    "a27_decayed_engagement" -> a27DecayedEngagement _,
    "s10_equidepth" -> s10Equidepth _,
    "sc8_url_canonical" -> sc8UrlCanonical _,
    "sc9_hugeint_canary" -> sc9HugeintCanary _,
    "j14_concurrency" -> j14Concurrency _,
    "w21_calendar_fill" -> w21CalendarFill _,
    "s9_skew_report" -> s9SkewReport _,
    "w20_transitions" -> w20Transitions _,
    "w19_streaks" -> w19Streaks _,
    "a25_weighted_median" -> a25WeightedMedian _,
    "w18_trending" -> w18Trending _,
    "a24_anomaly" -> a24Anomaly _,
    "a23_hll_merge" -> a23HllMerge _,
    "a26_sketch_intersection" -> a26SketchIntersection _,
    "sc6_url_parse" -> sc6UrlParse _,
    "j7_full_outer" -> j7FullOuter _,
    "j8_null_safe_join" -> j8NullSafeJoin _,
    "sc7_higher_order" -> sc7HigherOrder _,
    "a18_grouping_sets" -> a18GroupingSets _,
    "a19_histogram" -> a19Histogram _,
    "a20_dispersion" -> a20Dispersion _,
    "a21_string_agg" -> a21StringAgg _,
    "t24_edit_distance" -> t24EditDistance _,
    "w11_first_nth" -> w11FirstNth _,
    "w12_funnel" -> w12Funnel _,
    // w13: the SPARK side is batch w12; the oracle side is the
    // streaming funnel's replay dump — hash match = stream≡batch parity
    "w13_stream_funnel" -> w12Funnel _,
    // w16: the SPARK side is batch w15; the oracle side is the
    // streaming retention replay dump — hash match = parity
    "w16_stream_retention" -> w15Retention _,
    "w14_time_weighted" -> w14TimeWeighted _,
    "w15_retention" -> w15Retention _,
    "a22_ols" -> a22Ols _,
    "w17_rolling_dau" -> w17RollingDau _,
    "s7_pagination" -> s7Pagination _,
    "s8_keyset_page" -> s8KeysetPage _,
    "j9_salted_join" -> j9SaltedJoin _,
    "a17_bool_aggs" -> a17BoolAggs _,
    "f1_range_filter" -> f1RangeFilter _,
    "f2_in_filter" -> f2InFilter _,
    "f3_like_filter" -> f3LikeFilter _,
    "f4_pred_combo" -> f4PredCombo _,
    "f10_url_routing" -> f10UrlRouting _,
    "f11_status_envelope" -> f11StatusEnvelope _,
    "j1_inner_join" -> j1InnerJoin _,
    "j2_left_join_nullfill" -> j2LeftJoinNullFill _,
    "j3_semi_join" -> j3SemiJoin _,
    "j4_anti_join" -> j4AntiJoin _,
    "j5_dim_chain" -> j5DimChain _,
    "a1_grouped_agg" -> a1GroupedAgg _,
    "a2_count_distinct" -> a2CountDistinct _,
    "a3_tumbling_window" -> a3TumblingWindow _,
    "a4_sliding_window" -> a4SlidingWindow _,
    "a6_log_dedup" -> a6LogDedup _,
    "a5_gauges" -> a5Gauges _,
    "a7_approx_distinct" -> a7ApproxDistinct _,
    "a11_quantiles" -> a11ApproxQuantiles _,
    "a13_heavy_hitters" -> a13HeavyHitters _,
    "a14_corr" -> a14Corr _,
    "a15_exact_median" -> a15ExactMedian _,
    "a16_mode" -> a16Mode _,
    "w9_dense_cume" -> w9DenseCume _,
    "w10_range_frame" -> w10RangeFrame _,
    "j6_range_join" -> j6RangeJoin _,
    "a8_stats_series" -> a8StatsSeries _,
    "a9_batch_profile" -> a9BatchProfile _,
    "ts12_stats_doc" -> ts12StatsDoc _,
    "w6_asof_join" -> AsOf.w6AsofJoin _,
    "w1_row_number" -> w1RowNumber _,
    "w2_rank" -> w2Rank _,
    "w3_lag_lead" -> w3LagLead _,
    "w4_running_sum" -> w4RunningSum _,
    "w5_running_max" -> w5RunningMax _,
    "w7_ntile" -> w7Ntile _,
    "a10_rollup" -> a10Rollup _,
    "a12_cube" -> a12Cube _,
    "s5_pivot" -> s5Pivot _,
    "s6_unpivot" -> s6Unpivot _,
    "w8_session_agg" -> w8SessionAgg _,
    "r1_gap_detect" -> r1GapDetect _,
    "r2_latest_per_key" -> r2LatestPerKey _,
    "r3_group_complete" -> r3GroupComplete _,
    "s1_topk" -> s1TopK _,
    "s2_except" -> s2Except _,
    "s3_intersect" -> s3Intersect _,
    "s4_union_all" -> s4UnionAll _,
    "sc1_string_funcs" -> sc1StringFuncs _,
    "sc2_json" -> sc2Json _,
    "sc3_datetime" -> sc3Datetime _,
    "sc4_bit_ops" -> sc4BitOps _,
    "sc5_base64_hash" -> sc5Base64Hash _,
  )
}
