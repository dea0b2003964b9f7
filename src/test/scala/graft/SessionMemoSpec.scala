package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The session memo's contract: it owns and frees every pin it makes,
  * refuses a plan that is already pinned, forgets a stopped session,
  * and keys entries by every build parameter. */
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
