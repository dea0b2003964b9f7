package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Entry point of the benchmark JVM. Arguments are `key=value` pairs;
  * `mode` is one of `gen` (write the seed's TS inputs), `run` (set up,
  * measure one workload, write the run artifact) and `selftest`. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }
      .toMap
    kv("mode") match {
      case "gen" =>
        // one fresh capture per batch pass
        val captures = if (kv("workload") != "batch_sweep") 0
          else Runner.batchPasses(kv("seconds").toDouble) + Runner.TracedPasses
        Gen.writeAll(kv("dir"), kv("seed").toLong, captures,
          Runner.CapturePackets, Runner.LivePrograms, Runner.LiveMaxVersion)
      case "selftest" => SelfTest.run(kv("dir"))
      case _ => new Runner(kv).run()
    }
    sys.exit(0)
  }
}

object Runner {
  val LivePrograms = 16
  val LiveMaxVersion = 31
  val BumpIntervalMs = 100L
  val BumpDeadlineMs = 15000L
  /** The generator's offered rate: 1 400 packets/s, about 2.1 Mbps. */
  val LivePps = 1400
  val CapturePackets = 8000

  /** The fixed query subset of `batch_sweep`: fast queries of the
    * relational families, where driver-side work dominates, and one of
    * each data-prep family, where executor work weighs more. */
  val Queries: Seq[String] = Seq(
    "a1_grouped_agg", "j2_left_join_nullfill", "w5_running_max", "s1_topk",
    "f1_range_filter", "sc3_datetime", "t1_exact_dedup", "e1_cosine_topk",
    "m12_cdc_dedup")

  /** Passes per run follow from `--seconds` alone, never from elapsed
    * time, so that two builds of the engine are compared on the same
    * number of samples. The first `BatchWarmup` batch passes and
    * `LiveWarmup` live rounds warm the JIT and are left out of the warm
    * figures. */
  val BatchWarmup = 1
  val LiveWarmup = 8
  def batchPasses(seconds: Double): Int =
    BatchWarmup + math.max(3, (seconds / 3).toInt)
  /** An odd number of measured rounds, so that a traced run's traced
    * rounds and untraced ones centre on the same round. */
  def liveRounds(seconds: Double): Int = LiveWarmup + (math.max(11,
    math.ceil(seconds * 1000 / BumpIntervalMs / LivePrograms).toInt) | 1)
  /** Passes a traced run adds to the untraced ones: two, so that the
    * traced passes (1, 3, 5) and the untraced ones (2, 4) centre on the
    * same pass and the JIT's steady speed-up cancels out of the
    * overhead. */
  val TracedPasses = 2
  /** Whether pass or round `i` of a traced run carries the listeners:
    * every other one after the warm-up, starting with the first. */
  def tracedPass(i: Int, warmup: Int): Boolean =
    i >= warmup && (i - warmup) % 2 == 0

  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS: Double = osBean.getProcessCpuTime / 1e9

  /** Milliseconds the JIT compilers have spent so far, summed over
    * their threads. */
  def jitMs: Long = java.lang.management.ManagementFactory
    .getCompilationMXBean.getTotalCompilationTime

  /** Wall clock in epoch nanoseconds, monotonic within the process. */
  private val epochBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  def epochNs: Long = epochBase + (System.nanoTime() - nanoBase)

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** One workload run. */
final class Runner(kv: Map[String, String]) {
  import Runner._

  private val workload = kv("workload")
  private val seed = kv("seed").toLong
  private val seconds = kv("seconds").toDouble
  /** A traced run alternates traced and untraced passes after the
    * warm-up, so that both share the machine's drift and the JIT: the
    * tracing overhead is the difference between the two. */
  private val tracing = kv("trace") == "1"
  private val trace = new Trace
  private val inputs = kv("inputs")
  private val work = kv("work")
  private val cpus = kv("cpus")
  private val launchNs = kv("launch_ns").toLong

  private val setupSteps = ArrayBuffer.empty[Map[String, Any]]
  private val ops = ArrayBuffer.empty[Map[String, Any]]
  private val passes = ArrayBuffer.empty[Map[String, Any]]
  private val checks = ArrayBuffer.empty[Map[String, Any]]
  private val extra = mutable.LinkedHashMap.empty[String, Any]
  private var failedOps = 0
  private var attemptedOps = 0

  private def check(name: String, ok: Boolean, detail: => String): Boolean = {
    if (!ok) checks += Map("check" -> name, "detail" -> detail)
    ok
  }

  /** A named set-up step, timed; a failure is recorded, not fatal. */
  private def step(name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val err = try { body; None } catch {
      case e: Throwable => Some(e.toString.take(500))
    }
    setupSteps += Map("step" -> name, "s" -> (System.nanoTime() - t0) / 1e9,
      "ok" -> err.isEmpty, "error" -> err)
    err.foreach(e => System.err.println(s"[perfbench] set-up step $name " +
      s"failed: $e"))
  }

  private def session(): SparkSession = {
    graft.IndexDir.base = s"$work/index"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoint")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def run(): Unit = {
    val envBefore = Map("jvm" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "processors" -> Runtime.getRuntime.availableProcessors,
      "master" -> s"local[$cpus]")
    var spark: SparkSession = null
    step("session") { spark = session() }
    if (spark != null) {
      try workload match {
        case "live_psi" => new Live(spark).run()
        case "batch_sweep" => batch(spark)
        case w => check("workload", ok = false, s"unknown workload $w")
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          check("run", ok = false, e.toString)
      }
    }
    if (tracing) extra("kernels") =
      Kernels.run(seed, Gen.capture(seed, 0, CapturePackets)._1)
    val setupFailed = setupSteps.count(_("ok") == false)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "mode" -> kv("mode"),
      "trace" -> tracing, "env" -> envBefore, "warmup_passes" ->
        (if (workload == "live_psi") LiveWarmup else BatchWarmup),
      "setup_steps" -> setupSteps, "setup_failed" -> setupFailed,
      "attempted" -> attemptedOps, "failed" -> failedOps,
      "checks" -> checks, "passes" -> passes, "ops" -> ops,
      "peak_rss_mb" -> peakRssMb)
    out ++= extra
    if (tracing)
      out("spans") = trace.spans.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "group" -> s.group,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    Json.writeFile(kv("out"), out)
    if (spark != null) {
      graft.SessionMemo.clearAll()
      spark.stop()
    }
  }

  private def markReady(): Unit =
    extra("setup_s") = (epochNs - launchNs) / 1e9

  // ---------------------------------------------------------------- batch

  /** Normalises a column for an order-independent hash: doubles are
    * rounded so that summation order does not change the fingerprint,
    * and maps (which Spark cannot hash) are hashed as JSON. */
  private def norm(c: org.apache.spark.sql.Column, t: DataType)
      : org.apache.spark.sql.Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => round(x.cast(DoubleType), 6))
    case _: MapType => to_json(c)
    case _ => c
  }

  /** The timed action: row count plus an order-independent fingerprint
    * of every output column (it forces every column to be computed,
    * which a bare `.count()` does not). */
  private def fingerprint(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), bit_xor(col("h")),
        sum(col("h").bitwiseAND(lit(0xFFFFFFL))))
      .head()
    val n = r.getLong(0)
    (n, s"$n:${if (r.isNullAt(1)) 0L else r.getLong(1)}:" +
      s"${if (r.isNullAt(2)) 0L else r.getLong(2)}")
  }

  /** Each pass analyses a fresh capture, then runs the query subset. */
  private def batch(spark: SparkSession): Unit = {
    val d = s"$inputs/tables"
    val captures = Files.list(Paths.get(inputs)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".ts")).toSeq.sorted
    val untraced = batchPasses(seconds)
    val nPasses = untraced + (if (tracing) TracedPasses else 0)
    step("captures") {
      require(captures.length >= nPasses,
        s"${captures.length} captures under $inputs, $nPasses passes to run")
    }
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      step(s"table_$t") { graft.Tables.load(spark, d, t).count() }
    }
    step("table_events") { graft.Tables.events(spark, d).count() }
    markReady()
    if (setupSteps.exists(_("ok") == false)) return
    val first = mutable.Map.empty[String, String]
    (0 until nPasses).foreach { pass =>
      if (tracing && tracedPass(pass, BatchWarmup)) trace.install(spark)
      else if (trace.installed) trace.uninstall(spark)
      runPass(spark, pass) {
        analyseCapture(spark, pass, captures(pass))
        Queries.foreach { q =>
          op(q, pass) {
            val (n, fp) = fingerprint(graft.SparkEntry.queries(q)(spark, d))
            val ok = first.get(q) match {
              case None => first(q) = fp; true
              case Some(f) => check(s"$q fingerprint", f == fp,
                s"pass $pass: $fp differs from first pass $f")
            }
            (n, fp, ok)
          }
        }
      }
    }
  }

  // ---------------------------------------------------------- shared loop

  /** One timed operation: wall, process CPU, rows, fingerprint, verdict.
    * An exception counts as a failed operation. */
  private def op(name: String, pass: Int)(body: => (Long, String, Boolean))
      : Unit = {
    attemptedOps += 1
    val c0 = processCpuS
    val t0 = System.nanoTime()
    val res = try Right(trace.span(name, pass)(body)) catch {
      case e: Throwable => Left(e.toString.take(300))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = processCpuS - c0
    val row = Map("name" -> name, "pass" -> pass, "wall_s" -> wall,
      "cpu_s" -> cpu, "traced" -> trace.installed)
    ops += (res match {
      case Right((n, fp, ok)) =>
        if (!ok) failedOps += 1
        row ++ Map("rows" -> n, "fingerprint" -> fp, "ok" -> ok)
      case Left(err) =>
        failedOps += 1
        check(name, ok = false, s"pass $pass: $err")
        row ++ Map("ok" -> false, "error" -> err)
    })
  }

  /** Times one pass and, in a traced run, the Spark-side counters it
    * caused. */
  private def runPass(spark: SparkSession, pass: Int)(body: => Unit): Unit = {
    trace.take(spark)
    val cg0 = org.apache.spark.PerfbenchAccess.codegenCompileMs()
    val j0 = jitMs
    val c0 = processCpuS
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = processCpuS - c0
    val row = mutable.LinkedHashMap[String, Any](
      "pass" -> pass, "wall_s" -> wall, "cpu_s" -> cpu,
      "jit_ms" -> (jitMs - j0), "traced" -> trace.installed)
    if (trace.installed) {
      val c = trace.take(spark)
      row ++= counters(c)
      row("codegen_ms") =
        org.apache.spark.PerfbenchAccess.codegenCompileMs() - cg0
      val infos = spark.sparkContext.getRDDStorageInfo
      row("cache_storage_mb") =
        infos.map(i => i.memSize + i.diskSize).sum / 1048576.0
      row("cache_cached_rdds") = infos.length
    }
    passes += row.toMap
  }

  private def counters(c: Trace#Counters): Map[String, Any] = Map(
    "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
    "task_cpu_s" -> c.taskCpuNs / 1e9, "task_run_s" -> c.taskRunMs / 1e3,
    "gc_s" -> c.gcMs / 1e3, "shuffle_read_mb" -> c.shuffleRead / 1048576.0,
    "shuffle_write_mb" -> c.shuffleWrite / 1048576.0,
    "spill_mb" -> c.spill / 1048576.0,
    "peak_exec_mem_mb" -> c.peakExecMem / 1048576.0,
    "analysis_ms" -> c.analysisMs, "optimization_ms" -> c.optimizationMs,
    "planning_ms" -> c.planningMs, "queries" -> c.queries)

  // -------------------------------------------------------------- capture

  /** Analyses one capture through the TsPipeline calls and checks each
    * result against the capture's ground truth; then drops what the
    * analysis pinned, as a one-shot job would. */
  private def analyseCapture(spark: SparkSession, pass: Int, path: String)
      : Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (pk, rj) = graft.ts.TsPipeline.packetsWithRejects(spark, path)
    try capturePass(spark, pass, path, Json.read(path + ".json"), pk, rj)
    finally {
      pk.unpersist(blocking = true)
      spark.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
        if (!before(id)) r.unpersist(blocking = true)
      }
    }
  }

  private def capturePass(spark: SparkSession, pass: Int, path: String,
      truth: JsonNode, pk: org.apache.spark.sql.Dataset[graft.ts.TsPacket],
      rj: org.apache.spark.sql.Dataset[graft.ts.TsPipeline.Reject]): Unit = {
    import graft.ts.TsPipeline
    def rows(df: DataFrame): Array[org.apache.spark.sql.Row] = df.collect()
    val pids = truth.get("pids").elements().asScala.map(n =>
      n.get("pid").asInt -> n).toMap
    op("ts.rejects", pass) {
      val n = rj.count()
      (n, n.toString, check("rejects", n == truth.get("rejects").asLong,
        s"$path: $n rejects, planted ${truth.get("rejects")}"))
    }
    op("ts.pid_stats", pass) {
      val rs = rows(TsPipeline.pidStats(pk))
      val ok = rs.length == pids.size && rs.forall { r =>
        pids.get(r.getAs[Int]("pid")).exists(t =>
          t.get("n_packets").asLong == r.getAs[Long]("n_packets") &&
            t.get("n_pusi").asLong == r.getAs[Long]("n_pusi") &&
            t.get("n_pcr").asLong == r.getAs[Long]("n_pcr"))
      }
      (rs.length.toLong, "", check("pid_stats", ok,
        s"$path: per-PID packet counts differ from the capture's"))
    }
    op("ts.cc_audit", pass) {
      val rs = rows(TsPipeline.ccAudit(pk)).map(r => (r.getAs[Int]("pid"),
        r.getAs[Long]("n_packets"), r.getAs[Long]("cc_errors"))).toSeq
      (rs.length.toLong, rs.map(_._3).sum.toString, check("cc_audit",
        Checks.ccAuditOk(rs, truth), s"$path: ${rs.map(_._3).sum} CC " +
          s"errors found, ${Checks.plantedCcErrors(truth)} planted"))
    }
    op("ts.pes_stats", pass) {
      val rs = rows(TsPipeline.pesTimestampStats(pk))
      val want = truth.get("pes").elements().asScala.map(n =>
        n.get("pid").asInt -> n).toMap
      val ok = rs.length == want.size && rs.forall { r =>
        want.get(r.getAs[Int]("pid")).exists(t =>
          t.get("n_pes").asLong == r.getAs[Long]("n_pes") &&
            t.get("min_pts").asLong == r.getAs[Long]("min_pts") &&
            t.get("max_pts").asLong == r.getAs[Long]("max_pts"))
      }
      (rs.length.toLong, "", check("pes_stats", ok,
        s"$path: PES header counts differ from the capture's"))
    }
    op("ts.programs_summary", pass) {
      val rs = rows(TsPipeline.programsSummaryFrom(spark,
        TsPipeline.psiSections(spark, pk)))
      val want = truth.get("programs").elements().asScala.map(n =>
        n.get("program_number").asInt -> n).toMap
      val ok = rs.length == want.size && rs.forall { r =>
        want.get(r.getAs[Int]("program_number")).exists(t =>
          t.get("reference_pid").asInt == r.getAs[Int]("reference_pid") &&
            t.get("service_name").asText == r.getAs[String]("service_name") &&
            t.get("pcr_pid").asInt == r.getAs[Int]("pcr_pid") &&
            t.get("n_es").asLong == r.getAs[Long]("n_es"))
      }
      (rs.length.toLong, "", check("programs_summary", ok,
        s"$path: programs summary differs from the capture's"))
    }
  }

  // ----------------------------------------------------------------- live

  /** Open-loop live PSI: a generator process paces the seeded mux over
    * UDP; the engine chain ingests, assembles and serves it; a poller
    * measures when each PMT version bump becomes visible in a GET. */
  private final class Live(spark: SparkSession) {
    private val manifest = Json.read(s"$inputs/live.tpl.json")
    private val progs = manifest.get("programs").elements().asScala.toSeq
    private val order = manifest.get("bump_order").elements().asScala
      .map(_.asInt).toSeq
    private val nProg = progs.length
    private val port = kv("port").toInt
    private val client = HttpClient.newHttpClient()
    private val path = "/api/1.0/stream_procs/mpeg2_sp-0/program_processors"
    private var gen: Process = null
    private var genIn: java.io.Writer = null

    /** Parses a served document; Right(program index -> pmt_version) when
      * every program is present with its known fields. */
    private def parse(body: String): Either[String, Map[Int, Int]] = try {
      val docs = Json.mapper.readTree(body).elements().asScala.toSeq
      if (docs.length != nProg) Left(s"${docs.length} programs served")
      else {
        val byNum = docs.map(d => d.get("program_number").asInt -> d).toMap
        val got = progs.zipWithIndex.map { case (p, i) =>
          byNum.get(p.get("program_number").asInt) match {
            case Some(d) if Seq("reference_pid", "pcr_pid", "n_es",
                "pat_version").forall(k => d.get(k) != null &&
                d.get(k).asLong == p.get(k).asLong) &&
                d.get("pmt_version") != null =>
              Right(i -> d.get("pmt_version").asInt)
            case Some(d) => Left(s"program ${p.get("program_number")}: $d")
            case None => Left(s"program ${p.get("program_number")} missing")
          }
        }
        got.collectFirst { case Left(e) => e }.toLeft(
          got.collect { case Right(x) => x }.toMap)
      }
    } catch { case e: Throwable => Left(e.toString) }

    private def get(): (Int, String) = {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${srvPort}$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    private var srvPort = 0

    def run(): Unit = {
      import spark.implicits._
      var srv: graft.http.DocServer = null
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      try {
        if (tracing) trace.installStream(spark)
        step("stream_start") {
          val psiPids = (Seq(0, 0x11) ++
            progs.map(_.get("reference_pid").asInt)).toSet
          val pkts = spark.readStream.format("graft.sources.UdpSource")
            .option("port", port.toString).option("recordLength", "188")
            .load()
            .as[(Long, Array[Byte])]
            .flatMap { case (seq, b) => graft.ts.TsCodec.decode(b, seq) }
            .filter(p => psiPids.contains(p.pid))
          val tables = graft.streaming.TableState.latestTablesStream(
            graft.streaming.StreamingOps.sectionsStream(pkts))
          val (s, query) = graft.http.DocServer.startLive(spark, tables,
            s"$work/register")
          srv = s
          q = query
          srvPort = s.port
        }
        step("generator") {
          val pb = new ProcessBuilder(kv("python"), kv("udpgen"),
            "--port", port.toString, "--tpl", s"$inputs/live.tpl",
            "--pps", LivePps.toString)
          pb.redirectOutput(new java.io.File(s"$work/udpgen.out"))
          pb.redirectError(new java.io.File(s"$work/udpgen.err"))
          gen = pb.start()
          genIn = new java.io.OutputStreamWriter(gen.getOutputStream)
        }
        step("first_document") {
          val deadline = System.nanoTime() + 120L * 1000000000L
          var ok = false
          while (!ok) {
            require(System.nanoTime() < deadline && q.isActive,
              "no complete program_processors document within 120 s")
            val (code, body) = get()
            ok = code == 200 && parse(body).exists(_.values.forall(_ == 0))
            if (!ok) Thread.sleep(20)
          }
        }
        markReady()
        if (setupSteps.forall(_("ok") == true)) measure()
      } finally {
        if (genIn != null) try { genIn.write("STOP\n"); genIn.close() }
          catch { case _: Throwable => () }
        if (gen != null && !gen.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) {
          gen.destroy()
          gen.waitFor()
        }
        if (q != null) q.stop()
        if (srv != null) srv.stop()
      }
      val genOut = Paths.get(s"$work/udpgen.out")
      if (Files.exists(genOut)) {
        val lines = Files.readAllLines(genOut).asScala.filter(_.nonEmpty)
        lines.lastOption.foreach(l => extra("generator") = Json.mapper.readTree(l)
          .properties().asScala.map(e => e.getKey -> e.getValue.asDouble)
          .toMap)
      }
    }

    private def measure(): Unit = {
      val rounds = liveRounds(seconds)
      val nBumps = rounds * nProg
      require(nBumps / nProg <= LiveMaxVersion)
      val t0Ms = epochNs / 1000000L + 300L
      val due = (0 until nBumps).map(k => t0Ms + k * BumpIntervalMs)
      val prog = (0 until nBumps).map(k => order(k % nProg))
      val version = (0 until nBumps).map(k => k / nProg + 1)
      val visible = Array.fill[Long](nBumps)(-1L)
      val gets = ArrayBuffer.empty[Map[String, Any]]
      val cpuSamples = ArrayBuffer.empty[(Long, Double)]
      def traced(round: Int): Boolean = tracing && tracedPass(round, LiveWarmup)
      // epoch-ms windows in which the listeners were installed
      val windows = ArrayBuffer.empty[(Long, Long)]
      var cg0 = 0.0
      var codegenMs = 0.0
      def closeWindow(ms: Long): Unit = {
        trace.uninstall(spark)
        windows(windows.length - 1) = (windows.last._1, ms)
        codegenMs += org.apache.spark.PerfbenchAccess.codegenCompileMs() - cg0
      }
      genIn.write(s"BUMPS $t0Ms $BumpIntervalMs $nBumps $nProg\n")
      genIn.flush()
      val lastDue = due.last
      var shown = Map.empty[Int, Int]
      var prevBody = ""
      var pending = 0
      while ({
        pending = visible.count(_ < 0)
        pending > 0 && epochNs / 1000000L < lastDue + BumpDeadlineMs
      }) {
        val s0 = epochNs
        cpuSamples += ((s0 / 1000000L, processCpuS))
        val nowMs = s0 / 1000000L
        val round = Math.floorDiv(nowMs - t0Ms, nProg * BumpIntervalMs).toInt
        val want = round >= 0 && round < rounds && traced(round)
        if (want && !trace.installed) {
          trace.install(spark)
          windows += ((nowMs, Long.MaxValue))
          cg0 = org.apache.spark.PerfbenchAccess.codegenCompileMs()
        } else if (!want && trace.installed) closeWindow(nowMs)
        val (code, body) = trace.span("http.get", -1)(get())
        val s1 = epochNs
        val parsed = if (code == 200) parse(body) else Left(s"status $code")
        attemptedOps += 1
        parsed match {
          case Right(vs) =>
            shown = vs
            Checks.markVisible(visible, due, prog, version, vs, s1)
          case Left(e) =>
            failedOps += 1
            check("get", ok = false, e)
        }
        gets += Map("start_ms" -> s0 / 1e6, "ms" -> (s1 - s0) / 1e6,
          "status" -> code, "ok" -> parsed.isRight,
          "changed" -> (body != prevBody), "traced" -> trace.installed)
        prevBody = body
        Thread.sleep(10)
      }
      cpuSamples += ((epochNs / 1000000L, processCpuS))
      if (trace.installed) closeWindow(epochNs / 1000000L)
      val c = trace.take(spark)
      val finalOk = (0 until nProg).forall(i =>
        shown.get(i).contains(rounds))
      check("final_document", finalOk,
        s"final versions $shown, expected $rounds for every program")
      (0 until nBumps).foreach { k =>
        attemptedOps += 1
        if (visible(k) < 0) {
          failedOps += 1
          check("bump", ok = false, s"bump $k (program ${prog(k)}, " +
            s"version ${version(k)}) not visible within $BumpDeadlineMs ms")
        }
      }
      def cpuAt(ms: Long): Double = cpuSamples.minBy(s => math.abs(s._1 - ms))._2
      (0 until rounds).foreach { r =>
        val ks = (r * nProg) until ((r + 1) * nProg)
        val start = due(ks.head)
        val end = ks.map(visible).max
        passes += Map("pass" -> r, "traced" -> traced(r),
          "wall_s" -> (if (end < 0) None else Some(end / 1e9 - start / 1e3)),
          "cpu_s" -> (cpuAt(start + nProg * BumpIntervalMs) - cpuAt(start)),
          "window_s" -> nProg * BumpIntervalMs / 1e3)
      }
      (0 until nBumps).foreach { k =>
        ops += Map("name" -> "bump", "pass" -> k / nProg,
          "traced" -> traced(k / nProg), "k" -> k,
          "program" -> prog(k), "version" -> version(k), "due_ms" -> due(k),
          "latency_ms" -> (if (visible(k) < 0) None
            else Some(visible(k) / 1e6 - due(k))),
          "ok" -> (visible(k) >= 0))
      }
      val window = (cpuSamples.last._1 - cpuSamples.head._1) / 1e3
      extra("live") = Map("rounds" -> rounds, "traced_rounds" ->
        (0 until rounds).count(traced), "bumps" -> nBumps,
        "window_s" -> window,
        "cpu_cores" -> (cpuSamples.last._2 - cpuSamples.head._2) / window)
      extra("gets") = gets
      if (tracing) {
        extra("counters") = counters(c) ++ Map("codegen_ms" -> codegenMs)
        extra("progress") = trace.progress.asScala.toSeq.map { p =>
          val st = p.stateOperators.toSeq
          val ts = java.time.Instant.parse(p.timestamp).toEpochMilli
          Map("ts_ms" -> ts, "in_window" ->
            windows.exists { case (a, b) => ts >= a && ts < b },
            "input_rows" -> p.numInputRows,
            "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
              k -> v.longValue }.toMap,
            "state_rows" -> st.map(_.numRowsTotal).sum,
            "state_memory_bytes" -> st.map(_.memoryUsedBytes).sum,
            "state_commit_ms" -> st.map(_.commitTimeMs).sum,
            "state_instances" -> st.map(_.numStateStoreInstances.toLong).sum)
        }
        val infos = spark.sparkContext.getRDDStorageInfo
        extra("cache") = Map("storage_mb" ->
          infos.map(i => i.memSize + i.diskSize).sum / 1048576.0,
          "cached_rdds" -> infos.length)
      }
    }
  }
}
