package graft.http

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch,
  TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream,
  StreamingQueryWrapper}

import graft.{ProcessStarts, SparkSuite}
import graft.streaming.{StreamingOps, TableState}
import graft.ts.{EsEntry, Fixtures, PatRow, PmtProgram, PsiCodec, PsiSection,
  TsPacket}

/** The live program_processors path without a capture: PAT and PMT
  * sections built with the E6 encoders and re-parsed by the P4 decoder
  * go through `MemoryStream` → `latestTablesStream` →
  * `DocServer.startLive`, and the served document is checked against
  * what was encoded. */
class LiveRegisterSpec extends SparkSuite {

  private lazy val client = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()
  private val path = "/api/1.0/stream_procs/mpeg2_sp-0/program_processors"

  // programs 1-4 carry a PMT on pid 0x100+i; program 5 is announced in
  // the PAT only; program 0 is the network PID and never served
  private val withPmt = 1 to 4
  private val served = withPmt :+ 5
  private def pmtPid(i: Int): Int = 0x100 + i
  private def pcrPid(i: Int): Int = 0x200 + 16 * i

  private var seq = 0L
  private def section(pid: Int, bytes: Array[Byte]): PsiSection = {
    seq += 1
    PsiCodec.decodeSection(pid, seq, bytes).get
  }
  private def pat(version: Int): PsiSection = section(0, PsiCodec.encodePat(
    PatRow(0, 0x10) +: served.map(i => PatRow(i, pmtPid(i))), tsId = 1,
    version = version))
  private def pmt(i: Int, version: Int, nEs: Int = 2): PsiSection =
    section(pmtPid(i), PsiCodec.encodePmt(PmtProgram(i, pcrPid(i), Nil,
      (0 until nEs).map(k => EsEntry(0x1B, pcrPid(i) + k, Nil))), version))
  private def initial(pmtVersion: Int): Seq[PsiSection] =
    pat(0) +: withPmt.map(pmt(_, pmtVersion))

  private def get(port: Int): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private val partitionsKey = "spark.sql.shuffle.partitions"

  /** Runs `f` on a fresh session once with the shuffle partitions set to
    * 7 and once with them unset, passing the explicit conf it was given
    * (`conf.getOption` would report the default of an unset one). */
  private def forEachPriorPartitions(
      f: (SparkSession, Map[String, String]) => Unit): Unit = {
    val s = spark.newSession()
    Seq(Map(partitionsKey -> "7"), Map.empty[String, String]).foreach {
      prior =>
        s.conf.unset(partitionsKey)
        prior.foreach { case (k, v) => s.conf.set(k, v) }
        f(s, prior)
    }
  }

  private def explicitPartitions(s: SparkSession): Map[String, String] =
    s.conf.getAll.filter(_._1 == partitionsKey)

  /** program_number → pmt_version (-1 when the document has none). */
  private def versions(body: String): Map[Int, Int] =
    mapper.readTree(body).elements().asScala.map { d =>
      d.get("program_number").asInt ->
        Option(d.get("pmt_version")).fold(-1)(_.asInt)
    }.toMap

  private def live(f: (DocServer, MemoryStream[PsiSection],
      org.apache.spark.sql.streaming.StreamingQuery) => Unit): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[PsiSection]
    val (srv, q) = DocServer.startLive(spark,
      TableState.latestTablesStream(mem.toDS()), sf)
    try f(srv, mem, q) finally { q.stop(); srv.stop() }
  }

  test("live document: 404 before the first table, then the encoded " +
    "programs; a bump is visible without a manual refresh") {
    live { (srv, mem, q) =>
      assert(get(srv.port)._1 == 404)
      mem.addData(initial(pmtVersion = 0))
      q.processAllAvailable()
      val (code, body) = get(srv.port)
      assert(code == 200)
      val want = withPmt.map(i =>
        s"""{"program_number":$i,"reference_pid":${pmtPid(i)},""" +
          s""""pat_version":0,"pcr_pid":${pcrPid(i)},"n_es":2,""" +
          s""""pmt_version":0}""") :+
        s"""{"program_number":5,"reference_pid":${pmtPid(5)},"pat_version":0}"""
      assert(body == want.mkString("[", ",", "]"))
      // the stream's own trigger lands the bump: no processAllAvailable,
      // no refresh
      mem.addData(Seq(pmt(3, version = 1, nEs = 3)))
      val deadline = System.nanoTime() + 30L * 1000000000L
      var now = body
      while (versions(now)(3) != 1) {
        assert(System.nanoTime() < deadline, s"bump not visible in: $now")
        Thread.sleep(5)
        now = get(srv.port)._2
      }
      assert(now.contains(
        s"""{"program_number":3,"reference_pid":${pmtPid(3)},""" +
          s""""pat_version":0,"pcr_pid":${pcrPid(3)},"n_es":3,""" +
          s""""pmt_version":1}"""))
      assert(versions(now) == versions(body).updated(3, 1))
    }
  }

  test("a 31→0 PMT version wrap inside one micro-batch serves version 0") {
    live { (srv, mem, q) =>
      mem.addData(initial(pmtVersion = 30))
      q.processAllAvailable()
      assert(versions(get(srv.port)._2)(2) == 30)
      // one addData is one micro-batch: 31 completes first, then 0
      mem.addData(Seq(pmt(2, version = 31), pmt(2, version = 0)))
      q.processAllAvailable()
      val (code, body) = get(srv.port)
      assert(code == 200)
      assert(versions(body)(2) == 0, body)
    }
  }

  test("GETs during 32 landed bumps all answer 200 with every program") {
    live { (srv, mem, q) =>
      mem.addData(initial(pmtVersion = 0))
      q.processAllAvailable()
      @volatile var polling = true
      val seen = new ConcurrentLinkedQueue[(Int, String)]()
      val poller = new Thread(() =>
        while (polling) seen.add(
          try get(srv.port) catch { case e: Exception => (-1, e.toString) }))
      poller.start()
      try {
        (0 until 32).foreach { k =>
          mem.addData(Seq(pmt(withPmt(k % 4), version = k / 4 + 1)))
          q.processAllAvailable()
        }
      } finally { polling = false; poller.join() }
      val rs = seen.asScala.toSeq
      assert(rs.length >= 32, s"only ${rs.length} GETs during the bumps")
      val bad = rs.filter(r =>
        r._1 != 200 || versions(r._2).keySet != served.toSet)
      assert(bad.isEmpty,
        s"${bad.length} of ${rs.length} GETs: ${bad.headOption}")
      // whole snapshots: no program's version ever goes back
      val seenVersions = rs.map(r => versions(r._2))
      served.foreach { i =>
        val vs = seenVersions.map(_(i))
        assert(vs == vs.sorted, s"program $i went back: ${vs.distinct}")
      }
      assert(versions(get(srv.port)._2) ==
        withPmt.map(_ -> 8).toMap.updated(5, -1))
    }
  }

  test("the live chain runs one state store per operator whatever the " +
    "session's partitions, and leaves that conf as found") {
    forEachPriorPartitions { (s, prior) =>
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      // the live chain from packets: section assembly, then tables
      val mem = MemoryStream[TsPacket]
      val (srv, q) = DocServer.startLive(s,
        TableState.latestTablesStream(
          StreamingOps.sectionsStream(mem.toDS())), sf)
      val stages = new LiveRegisterSpec.BatchStages
      s.sparkContext.addSparkListener(stages)
      try {
        assert(explicitPartitions(s) == prior)
        var seq = 0L
        def packets(secs: Seq[PsiSection]): Seq[TsPacket] =
          secs.flatMap { sec =>
            val p = Fixtures.sectionToPackets(sec.pid, sec.bytes, seq, 0)
            seq += p.length
            p
          }
        mem.addData(packets(initial(pmtVersion = 0)))
        q.processAllAvailable()
        val ops = q.lastProgress.stateOperators
        assert(ops.length == 2)
        assert(ops.map(_.numStateStoreInstances).toSeq == Seq(1L, 1L),
          q.lastProgress.json)
        val (code, body) = get(srv.port)
        assert(code == 200)
        assert(versions(body) == withPmt.map(_ -> 0).toMap.updated(5, -1))
        // a warm trigger: both operators read one partition, so the
        // plan has no exchange and the trigger runs one stage
        mem.addData(packets(Seq(pmt(2, version = 1))))
        q.processAllAvailable()
        val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.executedPlan
        val exchanges = plan.collect { case e: ShuffleExchangeLike => e }
        assert(exchanges.isEmpty, plan.treeString)
        assert(stages.submitted(s.sparkContext, q.lastProgress.batchId) == 1,
          plan.treeString)
        assert(versions(get(srv.port)._2)(2) == 1)
      } finally {
        s.sparkContext.removeSparkListener(stages)
        q.stop()
        srv.stop()
      }
      assert(explicitPartitions(s) == prior)
    }
  }

  test("after two warm-up batches, five live triggers compile no code " +
    "and start no process") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the live chain from packets, as perfbench composes it
    val mem = MemoryStream[TsPacket]
    val (srv, q) = DocServer.startLive(spark,
      TableState.latestTablesStream(
        StreamingOps.sectionsStream(mem.toDS())), sf)
    try {
      var pktSeq = 0L
      val cc = scala.collection.mutable.Map.empty[Int, Int]
        .withDefaultValue(0)
      def land(secs: Seq[PsiSection]): Unit = {
        mem.addData(secs.flatMap { sec =>
          val p = Fixtures.sectionToPackets(sec.pid, sec.bytes, pktSeq,
            cc(sec.pid))
          pktSeq += p.length
          cc(sec.pid) += p.length
          p
        })
        q.processAllAvailable()
      }
      land(initial(pmtVersion = 0))
      land(Seq(pmt(1, version = 1)))
      def batches = q.recentProgress.count(_.numInputRows > 0)
      val batches0 = batches
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      // Spark deletes the artifact directory of every session the GC
      // collects (say, one an earlier test dropped) with `rm -rf`, on the
      // JDK Cleaner thread of its ArtifactManager: not this query's work
      val starts = ProcessStarts.during(
        Seq(2 -> 1, 3 -> 1, 4 -> 1, 1 -> 2, 2 -> 2).foreach { case (i, v) =>
          land(Seq(pmt(i, version = v)))
        })._2.filterNot(s => s.thread.startsWith("Cleaner-") &&
        s.command.startsWith("rm -rf ") && s.command.contains("/artifacts-"))
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount -
        compiles0
      assert(batches - batches0 == 5)
      assert(versions(get(srv.port)._2) ==
        Map(1 -> 2, 2 -> 2, 3 -> 1, 4 -> 1, 5 -> -1))
      assert(compiles == 0, s"$compiles Janino compiles in 5 triggers")
      assert(starts.isEmpty, s"${starts.length} process starts in 5 " +
        s"triggers: ${starts.distinct}")
    } finally { q.stop(); srv.stop() }
  }

  test("tables whose columns come reordered and with an extra one are " +
    "read by name") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // `as` adds no projection: the batch rows keep this column order
    val mem = MemoryStream[LiveRegisterSpec.Reordered]
    val (srv, q) = DocServer.startLive(spark,
      mem.toDS().as[TableState.CompleteTable], sf)
    try {
      mem.addData(initial(pmtVersion = 3).map(sec =>
        LiveRegisterSpec.Reordered(sec.versionNumber, sec.tableId,
          "extra", Seq(sec.bytes), sec.tableIdExtension, sec.pid)))
      q.processAllAvailable()
      val (code, body) = get(srv.port)
      assert(code == 200)
      assert(versions(body) == withPmt.map(_ -> 3).toMap.updated(5, -1),
        body)
    } finally { q.stop(); srv.stop() }
  }

  test("a live start whose start() throws leaves the partitions conf as " +
    "found and nothing running") {
    forEachPriorPartitions { (s, prior) =>
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      // a streaming aggregation in append mode without a watermark builds
      // a plan, then fails analysis inside start()
      val mem = MemoryStream[TableState.CompleteTable]
      val e = intercept[AnalysisException] {
        DocServer.startLive(s, mem.toDS().groupByKey(_.pid)
          .reduceGroups((a, _: TableState.CompleteTable) => a).map(_._2), sf)
      }
      assert(e.getMessage.contains(
        "STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION"), e.getMessage)
      assert(explicitPartitions(s) == prior)
      assert(s.streams.active.isEmpty)
    }
  }
}

object LiveRegisterSpec {
  /** Records the micro-batch (`streaming.sql.batchId`) of every stage
    * submitted for a streaming query. */
  final class BatchStages extends SparkListener {
    private val MarkerKey = "graft.test.marker"
    private val batches = new ConcurrentLinkedQueue[Long]()
    private val marker = new CountDownLatch(1)

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).foreach { p =>
        Option(p.getProperty("streaming.sql.batchId"))
          .foreach(b => batches.add(b.toLong))
        if (p.getProperty(MarkerKey) != null) marker.countDown()
      }

    /** The stages submitted for micro-batch `batchId`. It first runs a
      * one-task job of its own, whose stage is posted after the batch's:
      * once the listener has seen it (waiting up to 30 s), it has seen
      * theirs. */
    def submitted(sc: SparkContext, batchId: Long): Int = {
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      require(marker.await(30, TimeUnit.SECONDS), "no marker stage in 30 s")
      batches.asScala.count(_ == batchId)
    }
  }

  /** [[TableState.CompleteTable]]'s columns in another order, plus one. */
  final case class Reordered(versionNumber: Int, tableId: Int,
      extra: String, sectionBytes: Seq[Array[Byte]], tableIdExtension: Int,
      pid: Int)
}
