package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables._

/** Settings-document parsing and JSON projections (SURVEY §2.3 P9/P10,
  * §2.11 E8, §2.12 K3): the reference's REST layer accepts every PUT as
  * JSON *or* URL-query-string (`mpeg2_sp.c:715-717`), carries a base64
  * PMT in settings (`app_prog_proc.c:714-757`), and serializes all GET
  * projections as JSON (`mpeg2_sp.c:877-1027`). All pure column
  * expressions — parse/serialize happens inside codegen, no UDFs. */
object Settings {

  /** The reference settings document schema (`app_prog_proc.c:95-139`). */
  val settingsSchema: StructType = StructType(Seq(
    StructField("tag", StringType),
    StructField("input_url", StringType),
    StructField("output_url", StringType),
    StructField("cbr", LongType),
    StructField("max_ts_pcr_guard_msec", LongType),
    StructField("min_stc_delay_output_msec", LongType),
    StructField("flag_clear_logs", BooleanType)))

  /** P9: dual-format parse — `{...}` bodies go through from_json, query
    * strings through a map → JSON → struct bridge (detection by braces,
    * `mpeg2_sp.c:715-717`). */
  def parseSettings(body: Column): Column = {
    val m = map_from_entries(transform(
      split(body, "&"),
      kv => struct(
        split(kv, "=").getItem(0),
        // values may themselves contain '=' — rejoin the tail
        array_join(slice(split(kv, "="), 2, 64), "="))))
    val qsStruct = struct(
      element_at(m, "tag").as("tag"),
      element_at(m, "input_url").as("input_url"),
      element_at(m, "output_url").as("output_url"),
      element_at(m, "cbr").cast(LongType).as("cbr"),
      element_at(m, "max_ts_pcr_guard_msec").cast(LongType)
        .as("max_ts_pcr_guard_msec"),
      element_at(m, "min_stc_delay_output_msec").cast(LongType)
        .as("min_stc_delay_output_msec"),
      element_at(m, "flag_clear_logs").cast(BooleanType)
        .as("flag_clear_logs"))
    when(trim(body).startsWith("{"), from_json(body, settingsSchema))
      .otherwise(qsStruct)
  }

  /** sc6/P9 as a driver-checkable query: synthesize both encodings from
    * `events.props` (a JSON column) and show they parse identically. */
  def p9DualParse(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .select(col("event_id"), col("props"),
        // query-string twin of the {"k": N} JSON document
        concat(lit("k="), get_json_object(col("props"), "$.k"))
          .as("qs"))
    e.select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast(IntegerType)
        .as("k_from_json"),
      expr("cast(str_to_map(qs, '&', '=')['k'] as int)").as("k_from_qs"))
  }

  /** P10: base64-wrapped binary payload → decode → parse. Demonstrated
    * over part names: base64 round-trip inside the engine. */
  def p10Base64Roundtrip(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(
        col("p_partkey"),
        base64(col("p_name").cast("binary")).as("b64"))
      .select(
        col("p_partkey"), col("b64"),
        unbase64(col("b64")).cast("string").as("decoded"))

  /** E8/K3 — the programs-summary JSON projection (`mpeg2_sp.c:1042-1101`
    * shape): one JSON document per group, built with to_json(struct(...)).
    * Exercised over the relational analog (orders per customer). */
  def k3JsonProjection(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_custkey")
      .agg(
        count(lit(1)).as("n_orders"),
        max(col("o_orderdate")).as("latest"))
      .select(
        col("o_custkey"),
        to_json(struct(
          col("o_custkey").as("id"),
          col("n_orders"),
          date_format(col("latest"), "yyyy-MM-dd").as("latest_date")))
          .as("doc"))

  /** A6/K4 — the log-trace register projection (`mpeg2_sp.c:961-991`):
    * deduplicated (code, desc) with count and last date, serialized. */
  def k4LogRegister(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type").as("code"))
      .agg(
        count(lit(1)).as("log_trace_counter"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("date"))

  /** The synthesized `POST /stream_procs.json` request stream: each
    * user's FIRST event is their create request (the registry is
    * control-plane-sized — one instance per operator, not per data row).
    * 'error'-typed requests model a malformed POST missing the mandatory
    * `proc_name` key (`stream_procs_api_http.c:133-138`); the rest carry
    * the full settings query string plus an unknown key the reference
    * ignores (`stream_procs_api_http.c:128-132`: "parameters that do not
    * correspond to the settings ... will be just ignored"). */
  private def createRequests(s: SparkSession, d: String): DataFrame = {
    val firsts = events(s, d)
      .groupBy("user_id").agg(min(col("event_id")).as("event_id"))
    events(s, d)
      .join(firsts, Seq("user_id", "event_id"))
      .select(
        col("event_id"), col("user_id"),
        when(col("event_type") === "error",
          concat(lit("tag=dropped-"), col("event_id").cast("string")))
          .otherwise(concat(
            lit("proc_name=mpeg2_sp&tag="), col("event_type"), lit("-"),
            col("user_id").cast("string"),
            lit("&input_url=udp://224.0.0.1:"),
            (lit(2000L) + pmod(col("event_id"), lit(1000L)))
              .cast("string"),
            lit("&bogus_key=ignored"))).as("qs"))
  }

  /** SCTE→DVB transcoder settings PUT (`scte_subt2dvb.js:343-346`:
    * `?duration_offset_msec=N&vpos_offset_pels=M`): parse the query
    * string, clamp both offsets to int32 exactly as the reference client
    * does (`scte_subt2dvb.js:322-342`), and echo the stored settings
    * fragment the es-proc GET returns (`scte_subt2dvb.js:40-41`).
    * Raw values are synthesized to overflow int32 in both directions so
    * the clamp is actually exercised. */
  def p11ScteOffsets(s: SparkSession, d: String): DataFrame = {
    val i32Max = 2147483647L
    val i32Min = -2147483648L
    def clamp(c: Column): Column =
      least(greatest(c, lit(i32Min)), lit(i32Max))
    val req = events(s, d).select(
      col("event_id"),
      concat(
        lit("duration_offset_msec="),
        ((col("event_id") - 5000L) * 1000000L).cast("string"),
        lit("&vpos_offset_pels="),
        ((col("user_id") - 50L) * 100000000L).cast("string")).as("qs"))
    val m = expr("str_to_map(qs, '&', '=')")
    req
      .select(
        col("event_id"),
        element_at(m, "duration_offset_msec").cast(LongType).as("dur_raw"),
        element_at(m, "vpos_offset_pels").cast(LongType).as("vpos_raw"))
      .select(
        col("event_id"),
        clamp(col("dur_raw")).as("duration_offset_msec"),
        clamp(col("vpos_raw")).as("vpos_offset_pels"))
      .withColumn("settings_doc",
        format_string(
          "{\"duration_offset_msec\":%d,\"vpos_offset_pels\":%d}",
          col("duration_offset_msec"), col("vpos_offset_pels")))
  }

  /** Warm the memoized registry (the daemon's in-memory instance array,
    * `stream_procs.c:53` — a GET/POST reads it, never re-parses request
    * history). Bench bills it at session start like the PSI state. */
  def warmRegistry(s: SparkSession, d: String): Unit =
    registry(s, d).count()

  /** The parsed-and-allocated registry relation, memoized per
    * (session, dir) — k5 (create responses) and k6 (list projection)
    * both read it; it is tiny (one row per user), so the cache is a few
    * KB. */
  private def registry(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.cached(s, "Settings.registry", d) {
      val m = expr("str_to_map(qs, '&', '=')")
      val parsed = createRequests(s, d).select(
        col("event_id"),
        element_at(m, "proc_name").as("proc_name"),
        element_at(m, "tag").as("tag"),
        element_at(m, "input_url").as("input_url"))
      // proc_id allocation is a running count of accepted requests in
      // arrival order — a prefix sum. The request stream is
      // user-dimension-scaled, so a bare `Window.orderBy` would funnel
      // it through one task (Spark's "No Partition Defined" warning).
      // Instead, the partitioned two-pass pattern proven in
      // `Remux.cbrPlanStreams` (ts/Remux.scala): deterministic
      // event_id-range slices make the window partition-local; each
      // slice's starting offset comes from a broadcast slice-grid of
      // per-slice accept counts (nSlices rows, never data-sized).
      val nSlices =
        math.max(1, s.sparkContext.defaultParallelism)
      val mxRow =
        parsed.agg(max(col("event_id")).cast(LongType)).head()
      val step =
        if (mxRow.isNullAt(0)) 1L
        else math.max(1L, mxRow.getLong(0) / nSlices + 1)
      val sliced = parsed
        .withColumn("pnum", floor(col("event_id") / step))
        .withColumn("ok",
          when(col("proc_name").isNotNull, 1L).otherwise(0L))
      val totals = sliced.groupBy("pnum").agg(sum(col("ok")).as("cnt"))
      val offsets = totals.as("g")
        .join(totals.as("a"), col("a.pnum") < col("g.pnum"), "left")
        .groupBy(col("g.pnum"))
        .agg(coalesce(sum(col("a.cnt")), lit(0L)).as("off"))
        .toDF("pnum", "off")
      val wLocal = Window.partitionBy("pnum").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sliced
        .withColumn("run", sum(col("ok")).over(wLocal))
        .join(broadcast(offsets), Seq("pnum"))
        .withColumn("proc_id",
          when(col("proc_name").isNotNull,
            col("off") + col("run") - 1L))
        .withColumn("http_code",
          when(col("proc_name").isNotNull, 201).otherwise(404))
        .drop("pnum", "ok", "run", "off")
    }

  /** §2.12 instance create — `POST /stream_procs.json?proc_name=...`
    * (`stream_procs_api_http.c:125-141`): parse the query string with
    * the P9 machinery, reject requests without `proc_name`
    * (STAT_EINVAL → the 404 envelope branch,
    * `stream_procs_api_http.c:270-274`), allocate monotonically
    * increasing proc_ids to accepted requests (the reference's procs
    * module hands out the next free slot), and render each response
    * through the shared envelope constant. The proc_id allocation is a
    * running count over arrival order — a single-partition window, safe
    * here because the registry is bounded by operator count (hundreds),
    * never by corpus size. */
  def k5InstanceCreate(s: SparkSession, d: String): DataFrame =
    registry(s, d)
      .select(
        col("event_id"), col("proc_id"), col("proc_name"), col("tag"),
        col("input_url"), col("http_code"),
        format_string(Relational.envelopeFmt,
          col("http_code"),
          when(col("http_code") === 201, "Created").otherwise("Not Found"),
          when(col("http_code") === 201, "success").otherwise("einval"))
          .as("envelope"))

  /** §2.12 instance list — `GET /stream_procs.json`
    * (`stream_procs_api_http.c:142-143`): the created registry projected
    * to the one-document list shape the UI walks
    * (`stream_procs.js:80-90` reads `.stream_procs[]{proc_id, tag}`).
    * Single-doc collect is the endpoint's own semantics; the list is
    * control-plane-bounded. */
  def k6InstanceList(s: SparkSession, d: String): DataFrame =
    registry(s, d)
      .filter(col("proc_id").isNotNull)
      .select(struct(col("proc_id"),
        format_string("{\"proc_id\":%d,\"tag\":\"%s\"}",
          col("proc_id"), col("tag")).as("frag")).as("x"))
      .agg(format_string("{\"stream_procs\":[%s]}",
        array_join(transform(array_sort(collect_list(col("x"))),
          e => e.getField("frag")), ",")).as("doc"))

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p9_dual_parse" -> p9DualParse _,
    "p10_base64_roundtrip" -> p10Base64Roundtrip _,
    "k3_json_projection" -> k3JsonProjection _,
    "k4_log_register" -> k4LogRegister _,
    "k5_instance_create" -> k5InstanceCreate _,
    "k6_instance_list" -> k6InstanceList _,
    "p11_scte_offsets" -> p11ScteOffsets _,
  )
}
