package org.apache.spark

/** The two Spark-internal reads the benchmark's traced run needs. */
object PerfbenchAccess {
  /** Blocks until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Milliseconds spent compiling generated code so far: the
    * compilation-time histogram's mean times its count (the histogram
    * samples, so this is an estimate). */
  def codegenCompileMs(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    h.getSnapshot.getMean * h.getCount
  }
}
