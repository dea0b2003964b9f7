package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The timing tool, for queries and diag probes alike (names resolve in
  * `SparkEntry.queries ++ SparkEntry.diag`), after Bench's warm-up.
  * Usage: runMain graft.TimeOne <sfDir> [name[,name...]] [reps]
  * (default: every query, sorted; 2 reps, cold then warm). Per rep:
  * build (the query function), plan (to the physical plan), exec (the
  * count), wall and process-CPU seconds, rows. For the last rep, one
  * line per completed stage. A one-row result (a z-probe payload) is
  * printed once, untimed. Then one line gives the persisted RDDs before
  * and after `SessionMemo.clearAll()`: a pin the memo does not own
  * shows up as a nonzero "after". Extra conf via SPARK_GRAFT_CONF. */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val catalog = SparkEntry.queries ++ SparkEntry.diag
    val names = if (args.length > 1) args(1).split(',').toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val reps = if (args.length > 2) args(2).toInt else 2
    require(reps >= 1, s"reps must be at least 1, got $reps")
    val env = LocalSession.settings()
    val spark = LocalSession(env.cpus, env.conf)
    Bench.warmUp(spark, sfDir)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val tm = si.taskMetrics
        if (tm != null) stages.add(
          f"stage ${si.stageId}%4d tasks ${si.numTasks}%4d " +
            f"run ${tm.executorRunTime / 1e3}%8.2f s " +
            f"cpu ${tm.executorCpuTime / 1e9}%8.2f s " +
            f"gc ${tm.jvmGCTime / 1e3}%6.2f s " +
            f"sr ${tm.shuffleReadMetrics.totalBytesRead / 1e6}%8.1f MB " +
            f"sw ${tm.shuffleWriteMetrics.bytesWritten / 1e6}%8.1f MB " +
            f"| ${si.name.take(90)}")
      }
    })
    def rep(name: String, i: Int): (DataFrame, Long) = {
      val c0 = Bench.osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val df = catalog(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val n = df.count()
      val t3 = System.nanoTime()
      println(f"[timeone] $name rep $i: build ${(t1 - t0) / 1e9}%.2f " +
        f"plan ${(t2 - t1) / 1e9}%.2f exec ${(t3 - t2) / 1e9}%.2f  " +
        f"wall ${(t3 - t0) / 1e9}%.3f s  " +
        f"cpu ${(Bench.osBean.getProcessCpuTime - c0) / 1e9}%.2f s  rows $n")
      (df, n)
    }
    names.foreach { name =>
      try {
        (1 until reps).foreach(rep(name, _))
        drainListenerBus(spark)
        stages.clear()
        val (df, n) = rep(name, reps)
        drainListenerBus(spark)
        stages.forEach(s => println(s"[timeone] $name $s"))
        if (n == 1L) println(s"[timeone] $name row: " +
          df.columns.zip(df.collect().head.toSeq)
            .map { case (c, v) => s"$c=$v" }.mkString(" "))
      } catch { case e: Throwable => println(s"[timeone] $name FAILED: $e") }
      val before = persisted(spark)
      SessionMemo.clearAll()
      println(s"[timeone] $name persisted: $before, ${persisted(spark)} " +
        "after clearAll")
    }
    spark.stop()
  }

  /** The persisted RDDs: count and storage MB (memory + disk). */
  private def persisted(spark: SparkSession): String = {
    val sc = spark.sparkContext
    f"${sc.getPersistentRDDs.size} rdds ${sc.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1e6}%.1f MB"
  }

  /** Blocks until the listener bus has delivered every queued event, so
    * no late stage line is lost (a fixed sleep could truncate them).
    * Reflection: the bus is private to org.apache.spark. */
  private def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
