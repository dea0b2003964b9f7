package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Relational

/** Stream≡batch parity for interval-island merging: the 16-byte
  * per-user state machine replayed over ts-ordered micro-batches must
  * reproduce exactly the per-user island census batch j16 derives with
  * windows — including islands that span batch boundaries (lastT
  * persists across batches) and duplicate timestamps (skipped online,
  * distinct()'d in batch). Same closure the j17 driver row checks
  * through the OpLake dump. */
class IntervalStreamSpec extends SparkSuite {

  test("streaming islands over a 5-batch replay equal batch j16") {
    val L = 1800L * 1000000L
    val streamed = TwsOps.intervalReplay(spark, sf)
      .groupBy("user_id", "island")
      .agg(min(col("t")).as("t0"), max(col("t")).as("t1"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("t1") - col("t0") + lit(L)).as("covered_us"),
        max(col("t1") - col("t0") + lit(L)).as("max_island_us"))
      .cache()
    val batch = Relational.j16IntervalCoverage(spark, sf).cache()
    try {
      assert(streamed.count() == batch.count())
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally { streamed.unpersist(); batch.unpersist() }
  }

  test("an island spanning a batch boundary is not split") {
    // 3 events, gaps < L, replayed one event per batch: state must
    // carry lastT so all three land in ONE island
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    val L = 1800L * 1000000L
    val mem = MemoryStream[(Long, Long)]
    val q = TwsOps.intervalStreamTws(
        mem.toDS().toDF("user_id", "tsus"))
      .writeStream.format("memory").queryName("isl_span")
      .outputMode("append").start()
    try {
      Seq(0L, L - 5, 2 * L - 10).foreach { t =>
        mem.addData((7L, t)); q.processAllAvailable()
      }
      val rows = spark.table("isl_span")
        .select("island").distinct().count()
      assert(rows == 1L, s"island split across batches: $rows ids")
    } finally q.stop()
  }
}
