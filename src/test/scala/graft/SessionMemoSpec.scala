package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.operators.{Graph, Similarity, TextOps}

/** The session memo's contract: it owns and frees every pin it makes
  * (the round loop's too), refuses a plan that is already pinned,
  * forgets a stopped session, and keys entries by every build
  * parameter. */
class SessionMemoSpec extends SparkSuite {

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("clearAll frees the blocks of checkpoint and cache entries") {
    val kinds = Seq[(String, (=> DataFrame) => DataFrame)](
      "checkpoint" ->
        (SessionMemo.checkpointed(spark, "SessionMemoSpec.ckpt")(_)),
      "cache" -> (SessionMemo.cached(spark, "SessionMemoSpec.cache")(_)))
    for ((kind, memo) <- kinds) {
      SessionMemo.clearAll()
      val before = persisted
      assert(memo(spark.range(100).toDF("x")).count() == 100)
      assert((persisted -- before).nonEmpty, s"the $kind pinned no RDD")
      SessionMemo.clearAll()
      assert((persisted -- before).isEmpty, s"$kind entry")
    }
  }

  test("a builder that pins its own plan is refused, naming the key") {
    def refused(pin: String, pinned: DataFrame): Unit = {
      val e = intercept[IllegalArgumentException] {
        if (pin == "cache")
          SessionMemo.cached(spark, "SessionMemoSpec.refused", pin)(pinned)
        else
          SessionMemo.checkpointed(spark, "SessionMemoSpec.refused", pin)(
            pinned)
      }
      assert(e.getMessage.contains(s"'SessionMemoSpec.refused($pin)'"))
      assert(!e.getMessage.contains("\n"))
    }
    val cachedPlan = spark.range(7).toDF("refused_cache").cache()
    try refused("cache", cachedPlan) finally cachedPlan.unpersist()
    val ckpt = spark.range(7).toDF("refused_ckpt").localCheckpoint()
    try refused("checkpoint", ckpt)
    finally ckpt.queryExecution.logical.collect {
      case r: LogicalRDD => r.rdd.unpersist()
    }
    assert(!SessionMemo.keys.exists(_._2.startsWith("SessionMemoSpec.refused")))
  }

  test("entries of a stopped session are purged") {
    // a JVM has one SparkContext at a time and every suite shares this
    // one, so the stop runs in a child JVM on the same classpath
    val opts = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-Xmx")).toSeq
    val java = s"${System.getProperty("java.home")}/bin/java"
    val out = (Seq(java, "-Xmx768m") ++ opts ++ Seq("-cp",
      System.getProperty("java.class.path"),
      "graft.SessionMemoStopProbe")).!!
    assert(out.linesIterator.contains("keys: probe(second)"), out)
  }

  test("the iterative and lineage-cut queries leave no pin after " +
    "clearAll") {
    for (name <- Seq("w24_rfm", "t35_perplexity_tiers", "g5_bfs_hops",
        "g7_kcore", "g8_spanning_forest", "t17_dup_components",
        "g2_components", "m8_asset_clusters")) {
      SessionMemo.clearAll()
      val before = persisted
      SparkEntry.queries(name)(spark, sf).collect()
      SessionMemo.clearAll()
      assert((persisted -- before).isEmpty, name)
    }
  }

  /** The RDDs behind the checkpoints `df` reads. */
  private def checkpointsRead(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }
      .toSet

  test("the round loop frees each superseded round's pins and hands " +
    "the final value's to its entry") {
    import spark.implicits._
    SessionMemo.clearAll()
    val before = persisted
    // TextOpsSpec's 200-node path graph: several rounds, each with a
    // hop checkpoint, over a cached edge and seed-label relation
    val n = 200L
    val docs = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val closure = TextOps.componentsOf(docs, pairs,
      Seq("SessionMemoSpec.path"), maxIters = 40)
    val left = persisted -- before
    assert(left.size == 1 && left == checkpointsRead(closure), left)
    assert(closure.filter(col("comp") =!= 0L).count() == 0)
    assert(SessionMemo.keys.exists(_._2 ==
      "TextOps.components(SessionMemoSpec.path, 40)"))
    SessionMemo.clearAll()
    assert((persisted -- before).isEmpty)
  }

  test("k-core peeling past its cap fails loudly and frees its pins") {
    import spark.implicits._
    // a 30-node path peels two endpoints per round at k = 2: 15 peels
    // to the empty core, plus the round that confirms it
    val pairs = (0L until 29L).map(i => (i, i + 1)).toDF("s_a", "s_b")
    SessionMemo.clearAll()
    val before = persisted
    val e = intercept[IllegalStateException] {
      Graph.kcoreOf(pairs, k = 2, Seq("SessionMemoSpec.path"), maxIters = 5)
    }
    assert(e.getMessage.contains("Graph.kcore") &&
      e.getMessage.contains("after 5 rounds"), e.getMessage)
    assert(!e.getMessage.contains("\n"))
    assert((persisted -- before).isEmpty)
    assert(Graph.kcoreOf(pairs, k = 2, Seq("SessionMemoSpec.path"),
      maxIters = 16).count() == 0)
    SessionMemo.clearAll()
  }

  test("keys that differ only in a build parameter do not share an entry") {
    val k16 = Similarity.assignedRel(spark, sf)
    val k8 = Similarity.assignedRel(spark, sf, k = 8)
    def lists(df: DataFrame): Long =
      df.agg(countDistinct(col("centroid_id"))).head().getLong(0)
    assert(lists(k16) == 16 && lists(k8) == 8)
    val keys = SessionMemo.keys.collect {
      case (s, k) if s eq spark => k
    }.toSet
    assert(Set(s"Similarity.assigned($sf, 16)",
      s"Similarity.assigned($sf, 8)").subsetOf(keys), keys)
  }
}

/** Holds an entry for a session, stops that session, then touches the
  * memo from a new one: only the new session's entry may remain. */
object SessionMemoStopProbe {
  def main(args: Array[String]): Unit = {
    val first = LocalSession(1)
    SessionMemo.local(first, "probe", "first")(first.range(1).toDF())
    first.stop()
    val second = LocalSession(1)
    SessionMemo.local(second, "probe", "second")(second.range(1).toDF())
    println("keys: " + SessionMemo.keys.map(_._2).sorted.mkString("; "))
    second.stop()
  }
}
