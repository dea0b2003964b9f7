package graft.streaming

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression,
  LambdaFunction, StringSplit}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite

/** The replay machines' harness and the near-dup bucket machine, on the
  * shared session's default state store. */
class TwsSpec extends SparkSuite {

  private val replayConfs = Seq(
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.shuffle.partitions")

  /** The replay confs a session holds explicitly (unset ones are absent;
    * `conf.getOption` would report their defaults instead). */
  private def explicitReplayConfs(s: SparkSession): Map[String, String] =
    s.conf.getAll.filter { case (k, _) => replayConfs.contains(k) }

  /** Runs `f` once with a provider and a partition count set, and once
    * with both unset, on a fresh session, passing the state set: a
    * replay sets only the partitions conf, and must leave both as found. */
  private def forEachPriorConf(f: (SparkSession, Map[String, String]) =>
      Unit): Unit = {
    val s = spark.newSession()
    Seq(
      Map(replayConfs(0) -> ("org.apache.spark.sql.execution.streaming." +
          "state.HDFSBackedStateStoreProvider"),
        replayConfs(1) -> "7"),
      Map.empty[String, String]
    ).foreach { prior =>
      replayConfs.foreach(s.conf.unset)
      prior.foreach { case (k, v) => s.conf.set(k, v) }
      f(s, prior)
    }
  }

  test("replay restores the provider and partitions confs when start() " +
    "throws") {
    forEachPriorConf { (s, prior) =>
      import s.implicits._
      // a streaming aggregation in append mode without a watermark builds
      // a plan, then fails analysis inside start()
      val e = intercept[AnalysisException] {
        TwsOps.replay(s, (1L to 200L), 2)(m =>
          m.groupByKey(identity).count())
      }
      assert(e.getMessage.contains(
        "STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION"), e.getMessage)
      assert(explicitReplayConfs(s) == prior)
      assert(s.streams.active.isEmpty)
    }
  }

  test("a successful replay feeds every row and leaves the confs as found") {
    forEachPriorConf { (s, prior) =>
      import s.implicits._
      val out = TwsOps.replay(s, (1L to 200L), 3, tail = Seq(1000L))(m =>
        m.map(_ * 2))
      assert(out.sorted == ((1L to 200L) :+ 1000L).map(_ * 2))
      assert(explicitReplayConfs(s) == prior)
      assert(s.streams.active.isEmpty)
      assert(!s.catalog.listTables().collect()
        .exists(_.name.startsWith("replay_")))
    }
  }

  test("near-dup signatures split each text once, outside every lambda") {
    // a text the optimizer cannot fold, so the plan keeps its split
    val docs = spark.range(1).selectExpr("id as doc_id",
      "concat('a b c d ', id) as text", "current_timestamp() as ts")
    val exprs = TwsOps.nearDupDocsStream(docs).queryExecution
      .optimizedPlan.flatMap(_.expressions)
    val lambdas = exprs.flatMap(_.collect { case l: LambdaFunction => l })
    def splits(e: Expression) = e.collect { case s: StringSplit => s }
    assert(exprs.exists(splits(_).nonEmpty) && lambdas.nonEmpty)
    assert(lambdas.forall(splits(_).isEmpty), lambdas.mkString("\n"))
  }

  test("tws streaming near-dup pairs a late-arriving clone across " +
    "batches, ignores distinct docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(sec: Int) =
      new java.sql.Timestamp(1704067200000L + sec * 1000L)
    val textA = "the quick brown fox jumps over the lazy sleeping dog " +
      "while seventeen silver airships drift slowly across the calm " +
      "evening sky carrying boxes of rare books toward the harbor town"
    val textB = "completely different words about spark shuffle " +
      "partitions and broadcast joins at scale"
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = TwsOps.nearDupDocsStream(
        mem.toDS().toDF("doc_id", "text", "ts"))
      .toDF("doc_a", "doc_b", "ts")
      .writeStream.format("memory").queryName("tws_neardup")
      .outputMode("append").start()
    try {
      // batch 1: two distinct docs — no pairs
      mem.addData((1L, textA, at(0)), (2L, textB, at(1)))
      q.processAllAvailable()
      assert(spark.table("tws_neardup").count() == 0)
      // batch 2: an exact clone of doc 1 arrives — every band hits,
      // so the CROSS-BATCH bucket state must pair it with doc 1
      mem.addData((3L, textA, at(5)))
      q.processAllAvailable()
      val pairs = spark.table("tws_neardup")
        .select("doc_a", "doc_b").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((1L, 3L)), s"got $pairs")
      // a near-clone (LAST word changed → one shingle of nine lost,
      // jaccard ≈ 0.9) still lands in shared bands with BOTH copies
      mem.addData((4L, textA.replace("dog", "cat"), at(9)))
      q.processAllAvailable()
      val pairs2 = spark.table("tws_neardup")
        .select("doc_a", "doc_b").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs2.contains((1L, 4L)) && pairs2.contains((3L, 4L)),
        s"got $pairs2")
    } finally q.stop()
  }
}
