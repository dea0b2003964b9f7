package graft
import org.apache.spark.sql.SparkSession

import graft.operators.{Bucketing, Settings, Similarity, TextOps, TsQueries}

object Bench {
  private[graft] val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Pre-builds what a timed sweep would otherwise bill to whichever
    * query touches it first: JVM/codegen/footer caches, every bench table
    * and the shared session state. A failed step is named on stderr and
    * the later steps still run, so the skew it leaves is attributable. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    def step(name: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        System.err.println(s"[warm-up] $name failed: $e")
      }
    step("entry")(SparkEntry.entry(spark).count())
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => step(t)(Tables.load(spark, sfDir, t).count()))
    step("events")(Tables.events(spark, sfDir).count())
    // the shared TS lake (capture decode + PSI assembly) of ts-queries
    step("TsLake.sections")(graft.ts.TsLake.sections(spark).count())
    // the PSI dimension tables + PCR spans: the reference daemon
    // maintains these continuously (psi_thr 1 s refresh,
    // mpeg2_sp.c:78-81) — a GET reads current state, never assembles it
    step("warmPsiState")(TsQueries.warmPsiState(spark))
    step("warmMptsState")(TsQueries.warmMptsState(spark))
    step("warmRegistry")(Settings.warmRegistry(spark, sfDir))
    // index BUILD is a batch job; e10/t50b measure index SERVE
    step("ivfIndexPath")(Similarity.ivfIndexPath(spark, sfDir))
    step("bm25IndexPath")(TextOps.bm25IndexPath(spark, sfDir))
    // bucketed LAYOUT is a batch job; l5 measures the co-located join
    step("bucketedTables")(Bucketing.bucketedTables(spark, sfDir))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    warmUp(spark, sfDir)
    // an errored query must be VISIBLE, not a silent timing row: it
    // still contributes its wall time, but its name lands in `errors`
    // (and on stderr) so a red bench is diagnosable from the JSON alone
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // process CPU time alongside wall: on a contended sandbox, wall
    // inflates while cpu doesn't — a row with cpu/wall far below the
    // query's parallelism is self-labelling as CPU starvation, not a
    // plan regression (the round-7 driver-vs-idle 2.9x ambiguity)
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        // stderr marker so log warnings (cache, WindowExec, ...) are
        // attributable to the query that produced them
        System.err.println(s"[bench] run $name")
        val c0 = osBean.getProcessCpuTime
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case e: Throwable =>
          errors += name
          System.err.println(s"[bench] $name FAILED: $e")
        }
        name -> ((System.nanoTime() - t0) / 1e9,
          (osBean.getProcessCpuTime - c0) / 1e9)
    }.toMap
    // Recall-contract rows are ASSERTED at the bench sf, not just
    // timed (round-9 gate): the sf0.01 oracle pins t13's
    // n_missing_from_lsh to 0, but a banding regression that only
    // bites at sf0.1 corpus statistics would otherwise ride through
    // the sweep as a plausible timing row. A violation lands in
    // `errors` as contract:<name>, so the driver's bench artifact is
    // self-red without waiting for a cross-sf correctness run.
    def contract(name: String)(check: => Option[String]): Unit =
      try check.foreach { msg =>
        errors += s"contract:$name"
        System.err.println(s"[bench] CONTRACT VIOLATED $name: $msg")
      } catch {
        case e: Throwable =>
          errors += s"contract:$name"
          System.err.println(s"[bench] contract $name errored: $e")
      }
    contract("t13_lsh_recall") {
      val r = SparkEntry.queries("t13_lsh_recall")(spark, sfDir).collect()
      val miss = r.map(_.getAs[Long]("n_missing_from_lsh")).sum
      if (miss == 0L) None
      else Some(s"$miss exact pairs missing from the LSH pair set")
    }
    contract("m12_cdc_invariants") {
      val bad = SparkEntry.queries("m12_cdc_dedup")(spark, sfDir)
        .collect().filter { r =>
          r.getAs[Long]("cdc_extra_saved") < 0L ||
            r.getAs[Long]("bytes_unique") >
              r.getAs[Long]("bytes_unique_whole")
        }
      if (bad.isEmpty) None
      else Some(s"${bad.length} formats where chunking saves less " +
        "than whole-asset dedup")
    }
    // The driver keeps only the LAST ~2000 chars of stdout; a full
    // 178-query map (~6 KB) gets its head truncated and the line never
    // parses (BENCH_r01–r05 all show parsed:null). So: print ONE compact
    // line — whole-sweep aggregates + a fixed headline subset, values
    // rounded to ms — and write the complete per-query map to a file.
    def r3(v: Double): String = f"$v%.3f"
    val headline = Seq(
      "ts1_pid_stats", "ts6_programs_summary", "ts16_cbr_plan",
      "a10_rollup", "a15_exact_median", "j5_dim_chain", "w12_funnel",
      "w17_rolling_dau", "t1_exact_dedup", "t7_minhash_lsh", "t8_simhash",
      "t17_dup_components", "t14_decontaminate", "t41_dsir",
      "e1_cosine_topk", "e5_ivf_ann", "e8_ivf_pq", "e15_recall_eval",
      "t42_stream_dedup", "w13_stream_funnel", "w16_stream_retention",
      "m6_media_neardup", "sc4_bit_ops")
    def row(wc: (Double, Double)): String =
      s"""{"wall":${r3(wc._1)},"cpu":${r3(wc._2)}}"""
    val qs = headline.flatMap(k => results.get(k).map(v => s""""$k":${row(v)}"""))
      .mkString("{", ",", "}")
    val fullJson = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${row(v)}""" }.mkString("{", ",", "}")
    val errJson = errors.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    val cpuTotal = if (results.nonEmpty) results.values.map(_._2).sum else 0.0
    val mean = if (results.nonEmpty) total / results.size else 0.0
    val (slowName, slowSec) =
      if (results.nonEmpty) results.maxBy(_._2._1) else ("", (0.0, 0.0))
    val load = osBean.getSystemLoadAverage
    val ncpu = Runtime.getRuntime.availableProcessors
    // the contention read, spelled out IN the artifact: wall is billed
    // to the query; cpu is the whole JVM's process-CPU delta over the
    // same span. A healthy parallel query has cpu >= wall (up to
    // ncpu x). wall >> cpu on a query whose plan is CPU-bound means
    // the sandbox starved the JVM of cores — compare cpu, not wall,
    // across environments before calling a regression.
    val readme = "wall=elapsed sec; cpu=process-CPU sec over the same " +
      "span (parallel plans: cpu>=wall when unstarved); wall>>cpu " +
      "=> host contention, compare cpu across runs"
    val fullPath = "target/bench_full.json"
    try {
      val w = new java.io.PrintWriter(fullPath)
      try w.println(s"""{"sf":"$sfDir","readme":"$readme","load_avg":${r3(load)},"ncpu":$ncpu,"queries":$fullJson,"errors":$errJson}""")
      finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] full-map write failed: $e")
    }
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${results.size},"mean_sec":${r3(mean)},"cpu_sec_total":${r3(cpuTotal)},"load_avg":${r3(load)},"ncpu":$ncpu,"readme":"$readme","max":{"${slowName}":${r3(slowSec._1)}},"queries":$qs,"errors":$errJson,"full":"$fullPath","sf":"$sfDir"}""")
    SessionMemo.clearAll()
    spark.stop()
  }
}
