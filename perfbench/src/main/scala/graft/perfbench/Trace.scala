package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: `group` is the pass or bump it belongs to. */
case class Span(id: Int, parent: Int, name: String, group: Int,
    startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into the engine, kept in memory
  * and written out when the run ends. Spans are always recorded (the
  * run needs their durations); `install` adds the Spark listeners, which
  * only the traced passes of a traced run have, and `uninstall` removes
  * them again. */
final class Trace {
  @volatile var installed = false
  val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private var nextId = 0

  def span[T](name: String, group: Int)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parents = stack.get()
    stack.set(id :: parents)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(parents)
      synchronized {
        spans += Span(id, parents.headOption.getOrElse(0), name, group, t0,
          t1)
      }
    }
  }

  /** Executor- and driver-side sums since the last `take`. */
  final class Counters {
    var jobs, stages, tasks = 0L
    var taskCpuNs, taskRunMs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill = 0L
    var peakExecMem = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    var queries = 0L
  }
  @volatile var c = new Counters

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      c.synchronized { c.jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      c.synchronized { c.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) c.synchronized {
        c.tasks += 1
        c.taskCpuNs += m.executorCpuTime
        c.taskRunMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      c.synchronized {
        c.queries += 1
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
      }
    }
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  /** Every streaming progress event, in arrival order. */
  val progress =
    new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    installed = true
  }

  /** Delivers what the listeners still have pending, then removes them. */
  def uninstall(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    installed = false
  }

  /** The streaming listener goes in before the query starts, so that
    * ingest counts cover the whole stream. */
  def installStream(spark: SparkSession): Unit =
    spark.streams.addListener(streamListener)

  /** Drains pending listener events and returns the counters gathered
    * since the last call, starting a fresh set. */
  def take(spark: SparkSession): Counters = {
    if (installed)
      org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    val out = c
    c = new Counters
    out
  }
}

/** Driver-side microbenchmarks of the per-row kernels: nanoseconds per
  * call (or per KiB), the median of seven timed repetitions after a
  * warm-up long enough for the server JIT to compile the kernel. */
object Kernels {
  import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  /** ns per unit of `body`, which performs `units` units per call. */
  def time(units: Double)(body: => Long): Double = {
    var sink = body
    val warm = System.nanoTime() + 300000000L
    while (System.nanoTime() < warm) sink += body
    val reps = (1 to 7).map { _ =>
      val t0 = System.nanoTime()
      sink += body
      (System.nanoTime() - t0) / units
    }
    if (sink == 42L) println("")
    median(reps)
  }

  def run(seed: Long, capture: Array[Byte]): Map[String, Double] = {
    val r = new scala.util.Random(seed)
    val nRec = capture.length / 188
    val recs = (0 until nRec).map(i =>
      java.util.Arrays.copyOfRange(capture, i * 188, i * 188 + 188))
    val pkts = recs.zipWithIndex.flatMap { case (b, i) =>
      graft.ts.TsCodec.decode(b, i.toLong) }
    val psiPids = pkts.filter(p => p.pusi && p.payload.length > 1 &&
      p.payload(0) == 0 && p.payload(1) == 2).map(_.pid).toSet + 0
    val psiPkts = pkts.filter(p => psiPids.contains(p.pid)).sortBy(_.seq)
    val psiByPid = psiPkts.groupBy(_.pid).values.toSeq
    val sections = graft.ts.SectionAssembler
      .assemble(0, psiPkts.filter(_.pid == 0).iterator).toSeq ++
      psiPids.toSeq.filter(_ != 0).flatMap(pid => graft.ts.SectionAssembler
        .assemble(pid, psiPkts.filter(_.pid == pid).iterator))
    val pmtBytes = sections.filter(_.tableId == 2).map(s => (s.pid, s.bytes))
    val buf = Array.fill[Byte](64 * 1024)(r.nextInt(256).toByte)
    // the array layout generated code hands the kernels
    val vecs = (0 until 1024).map(_ => UnsafeArrayData.fromPrimitiveArray(
      Array.fill(64)(r.nextFloat() - 0.5f)))
    val hashes = (0 until 256).map(_ => UnsafeArrayData.fromPrimitiveArray(
      Array.fill(64)(r.nextLong())))
    Map(
      "kernel.ts_decode_ns" -> time(recs.length) {
        var n = 0L
        recs.indices.foreach(i =>
          if (graft.ts.TsCodec.decode(recs(i), i.toLong).isDefined) n += 1)
        n
      },
      "kernel.section_assemble_ns" -> time(psiPkts.length) {
        var n = 0L
        psiByPid.foreach { ps =>
          var st = graft.ts.SectionAssembler.initialState
          ps.foreach { p =>
            val (next, out) = graft.ts.SectionAssembler.step(st, p)
            st = next
            n += out.length
          }
        }
        n
      },
      "kernel.psi_decode_ns" -> time(pmtBytes.length) {
        var n = 0L
        pmtBytes.foreach { case (pid, b) =>
          graft.ts.PsiCodec.decodeSection(pid, 0L, b)
            .flatMap(graft.ts.PsiCodec.decodePmt).foreach(p => n += p.es.length)
        }
        n
      },
      "kernel.crc32_ns_per_kb" -> time(buf.length / 1024.0) {
        graft.functions.Crc32Mpeg2.compute(buf)
      },
      "kernel.vec_dot_ns" -> time(vecs.length - 1) {
        var acc = 0.0
        (1 until vecs.length).foreach(i =>
          acc += graft.functions.VectorExprs.dotFloat(vecs(i - 1), vecs(i)))
        acc.toLong
      },
      "kernel.simhash_ns" -> time(hashes.length) {
        var acc = 0L
        hashes.foreach(h => acc ^= graft.functions.VectorExprs.simhashEval(h,
          64))
        acc
      },
      "kernel.hyperplane_sig_ns" -> time(vecs.length) {
        var acc = 0L
        vecs.foreach(v => acc += graft.functions.HyperplaneSig.evalSig(v, 16))
        acc
      },
      "kernel.cdc_ns_per_kb" -> time(buf.length / 1024.0) {
        graft.functions.CdcChunk.cuts(buf).length.toLong
      })
  }
}
