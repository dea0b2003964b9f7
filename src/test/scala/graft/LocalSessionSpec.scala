package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Graph, Multimodal, Relational, Similarity, Skew, TextOps}

/** Session-free checks of the environment parsing behind every main's
  * session, and of the one diag catalog the tools resolve names in. */
class LocalSessionSpec extends AnyFunSuite {

  private def rejected(env: Map[String, String]): String =
    intercept[IllegalArgumentException](LocalSession.settings(env, 7))
      .getMessage

  test("valid SPARK_GRAFT_CPUS and SPARK_GRAFT_CONF are parsed") {
    val s = LocalSession.settings(Map(
      "SPARK_GRAFT_CPUS" -> " 3 ",
      "SPARK_GRAFT_CONF" ->
        "spark.sql.adaptive.enabled=false; k = a=b ;;"), nproc = 7)
    assert(s == LocalSession.Settings(3,
      Seq("spark.sql.adaptive.enabled" -> "false", "k" -> "a=b")))
  }

  test("unset variables default to the available processors and no conf") {
    assert(LocalSession.settings(Map.empty, nproc = 7) ==
      LocalSession.Settings(7, Nil))
    assert(LocalSession.settings(Map.empty).cpus ==
      Runtime.getRuntime.availableProcessors)
  }

  test("a core count that is not a positive integer is rejected by name") {
    Seq("abc", "0", "-2", "1.5", "").foreach { v =>
      val msg = rejected(Map("SPARK_GRAFT_CPUS" -> v))
      assert(msg.contains("SPARK_GRAFT_CPUS") && msg.contains(s"'$v'"), msg)
    }
  }

  test("a conf entry without '=' or without a key is rejected by name") {
    Seq("oops", "=v").foreach { bad =>
      val msg = rejected(Map("SPARK_GRAFT_CONF" -> s"a=1;$bad"))
      assert(msg.contains("SPARK_GRAFT_CONF") && msg.contains(s"'$bad'"),
        msg)
    }
  }

  test("diag probes never shadow a query and never collide") {
    val maps = Seq(TextOps.diag, Similarity.diag, Graph.diag,
      Relational.diag, Skew.diag, Multimodal.diag)
    assert(SparkEntry.diag.size == maps.map(_.size).sum)
    assert(SparkEntry.diag.keySet.intersect(SparkEntry.queries.keySet)
      .isEmpty)
  }
}
