package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.sinks.JdbcSink
import graft.streaming.TwsOps

/** Round-9 advice closures — specs pinning the three contracts the
  * round-8 advisor flagged (VERDICT r8 "What's wrong" #3):
  *  (a) a47/a59 emit NULL (not an engine-dependent error) on
  *      degenerate groups — all-weekend types and zero-pooled-variance
  *      types; the oracle SQL carries the twin CASE guard so the
  *      contract is engine-neutral by construction;
  *  (b) the streaming chunk store keys on (format, hash, len), so a
  *      64-bit hash collision between different-length chunks can
  *      never store one chunk while crediting the other's bytes;
  *  (c) JdbcSink.exactlyOnceBatch's commit point is the ledger
  *      PRIMARY KEY insert — two racing appliers of one epoch both
  *      upsert idempotently but exactly one wins the ledger row. */
class AdviceR9Spec extends SparkSuite {

  /** Tiny events table with engineered degenerate groups, written in
    * the driver testdata schema so the production loaders read it.
    * Epoch day 0 = Thursday 1970-01-01; weekend ⇔ (day+3)%7 ≥ 5 ⇔
    * day%7 ∈ {2,3} (Sat Jan 3, Sun Jan 4). */
  private lazy val degenerateDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-degen").toString
    def usOfDay(d: Long) = d * 86400000000L
    val rows = Seq(
      // all_weekend: every row on days 2/3 → n_wd = n0 = 0
      (1L, usOfDay(2), 10L, "all_weekend", 5.0, "{}"),
      (2L, usOfDay(3), 11L, "all_weekend", 7.0, "{}"),
      (3L, usOfDay(2), 12L, "all_weekend", 9.0, "{}"),
      // all_weekday: every row on days 0/1 → n_we = n1 = 0
      (4L, usOfDay(0), 13L, "all_weekday", 4.0, "{}"),
      (5L, usOfDay(1), 14L, "all_weekday", 6.0, "{}"),
      // const_value: both sides populated, every cents identical →
      // pooled variance exactly 0
      (6L, usOfDay(0), 15L, "const_value", 3.5, "{}"),
      (7L, usOfDay(1), 16L, "const_value", 3.5, "{}"),
      (8L, usOfDay(2), 17L, "const_value", 3.5, "{}"),
      // healthy: a normal group as the non-NULL control
      (9L, usOfDay(0), 18L, "healthy", 1.0, "{}"),
      (10L, usOfDay(1), 19L, "healthy", 2.0, "{}"),
      (11L, usOfDay(2), 20L, "healthy", 8.0, "{}"),
      (12L, usOfDay(3), 21L, "healthy", 9.0, "{}"))
    rows.toDF("event_id", "us", "user_id", "event_type", "value",
        "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("a47 Mann-Whitney: one-sided groups yield NULL rb_ppm, mixed " +
    "groups stay defined") {
    val out = Relational.a47MannWhitney(spark, degenerateDir)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out.keySet ==
      Set("all_weekend", "all_weekday", "const_value", "healthy"))
    assert(out("all_weekend").isNullAt(
      out("all_weekend").fieldIndex("rb_ppm")))
    assert(out("all_weekday").isNullAt(
      out("all_weekday").fieldIndex("rb_ppm")))
    // degenerate VALUES are fine when both sides are populated: ties
    // midrank; rb = 0 exactly
    assert(out("const_value").getAs[Long]("rb_ppm") == 0L)
    // healthy: weekend cents {800, 900} all above weekday {100, 200}
    // → U2_we = 2·n_we·n_wd, rb = +1
    assert(out("healthy").getAs[Long]("rb_ppm") == 1000000L)
  }

  test("a59 effect size: empty side OR zero pooled variance yields " +
    "NULL d2_ppm with the gap sign still reported") {
    val out = Relational.a59EffectSize(spark, degenerateDir)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    Seq("all_weekend", "all_weekday", "const_value").foreach { t =>
      assert(out(t).isNullAt(out(t).fieldIndex("d2_ppm")), t)
    }
    assert(out("const_value").getAs[Int]("gap_sign") == 0)
    val h = out("healthy")
    assert(!h.isNullAt(h.fieldIndex("d2_ppm")))
    assert(h.getAs[Int]("gap_sign") == 1)
    // exact check: S1=1700 n1=2 Q1=1450000; S0=300 n0=2 Q0=50000
    // d²·10⁶ = 10⁶·(S1n0−S0n1)²·(n1+n0−2) div
    //          [n1n0(n0(n1Q1−S1²)+n1(n0Q0−S0²))]
    val num = BigInt(1700 * 2 - 300 * 2)
    val den = BigInt(2) * 2 *
      (BigInt(2) * (BigInt(2) * 1450000 - BigInt(1700) * 1700) +
        BigInt(2) * (BigInt(2) * 50000 - BigInt(300) * 300))
    val want = (num * num * 2 * 1000000) / den
    assert(h.getAs[Long]("d2_ppm") == want.toLong)
  }

  test("chunk store: same 64-bit hash with different len or format " +
    "stores BOTH chunks; an exact (format,hash,len) repeat dedups") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Long, Long, Long)]
    val name = "advice_r9_chunks"
    val q = TwsOps.chunkStream(
        mem.toDS().toDF("h", "doc_id", "format", "len", "off", "seq"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val out =
      try {
        mem.addData(
          (42L, 1L, "text", 100L, 0L, 1L),   // first instance
          (42L, 2L, "text", 200L, 0L, 2L),   // hash collision, len ≠
          (42L, 3L, "text", 100L, 0L, 3L),   // exact repeat → hit
          (42L, 4L, "blob", 100L, 0L, 4L))   // other pool → stored
        q.processAllAvailable()
        spark.table(name).as[TwsOps.ChunkOut].collect()
          .map(c => c.doc_id -> c).toMap
      } finally q.stop()
    assert(out(1L).stored && out(1L).bytes_written == 100L)
    assert(out(2L).stored && out(2L).bytes_written == 200L)
    assert(!out(3L).stored && out(3L).bytes_written == 0L)
    assert(out(4L).stored && out(4L).bytes_written == 100L)
  }

  test("exactlyOnceBatch: N concurrent appliers of one epoch — " +
    "exactly one wins the ledger insert, data lands once") {
    import spark.implicits._
    val db = Files.createTempDirectory("graft-jdbc-race").toString +
      "/race"
    val url = s"jdbc:derby:$db;create=true"
    val batch = Seq((1L, "a"), (2L, "b")).toDF("sys_id", "doc")
    batch.count() // materialize before the threads fork
    import java.util.concurrent.{CountDownLatch, Executors}
    val n = 4
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    val results =
      try {
        val futs = (1 to n).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              gate.await()
              JdbcSink.exactlyOnceBatch(batch, "sys_id", url, "race_t",
                epochId = 7L)
            }
          })
        }
        gate.countDown()
        futs.map(_.get())
      } finally pool.shutdown()
    assert(results.count(identity) == 1,
      s"exactly one applier must win, got $results")
    val stored = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "race_t").load()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(stored == Map(1L -> "a", 2L -> "b"))
    val ledger = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "race_t_epochs").load()
      .collect()
    assert(ledger.length == 1 && ledger.head.getLong(0) == 7L)
  }
}
