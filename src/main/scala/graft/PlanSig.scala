package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import scala.util.Try

/** Physical-plan shape signatures for every declared query: the
  * regression net that catches a broadcast silently flipping to a
  * sort-merge join, a lost partial aggregate, or an extra exchange —
  * the plan properties a 100× scale-up depends on — without pinning
  * volatile details (expr ids, statistics, AQE runtime state).
  *
  * A signature is the multiset of physical node names of the
  * PRE-ADAPTIVE plan (`queryExecution.sparkPlan`) at sf0.001 under the
  * signature conf (`LocalSession.signature`, which the test session
  * shares) — deterministic for a fixed Spark version and fixed test
  * data. `runMain graft.PlanSig` regenerates
  * `PLAN_SIGS.json` after an INTENTIONAL plan change;
  * `PlanSigSpec` diffs current plans against the committed file. */
object PlanSig {
  val SigFile = "PLAN_SIGS.json"
  val SfDir = "/root/testdata/sf0.001"

  def signature(df: DataFrame): String = {
    val counts = scala.collection.mutable.TreeMap[String, Int]()
    def walk(p: SparkPlan): Unit = {
      val n = p.nodeName.trim
      counts.update(n, counts.getOrElse(n, 0) + 1)
      p.children.foreach(walk)
    }
    walk(df.queryExecution.sparkPlan)
    counts.map { case (k, v) => s"$k:$v" }.mkString("|")
  }

  /** The loop of every whole-catalog check: `f` over each declared query
    * at `sfDir`, in name order, attempting all even when one throws. The
    * values of the queries that ran, and a `name: error` line per throw. */
  def everyQuery[A](spark: SparkSession, sfDir: String)(
      f: (String, DataFrame) => A): (Seq[(String, A)], Seq[String]) =
    SparkEntry.queries.toSeq.sortBy(_._1).partitionMap { case (name, fn) =>
      Try(f(name, fn(spark, sfDir))).toEither.map(name -> _)
        .left.map(e => s"$name: ${e.toString.linesIterator.next()}")
    }.swap

  /** Signatures of every query that can be planned, sorted by name (an
    * iterative builder's deterministic FINAL plan is what gets signed),
    * and a `name: error` line per query that cannot. */
  def all(spark: SparkSession): (Seq[(String, String)], Seq[String]) =
    everyQuery(spark, SfDir)((_, df) => signature(df))

  def render(sigs: Seq[(String, String)]): String =
    sigs.map { case (k, v) => s"""  "$k": "$v"""" }
      .mkString("{\n", ",\n", "\n}\n")

  def parse(json: String): Map[String, String] =
    """"([^"]+)":\s*"([^"]*)"""".r
      .findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2)).toMap

  def main(args: Array[String]): Unit = {
    val spark = LocalSession.signature()
    val (sigs, failed) = try all(spark) finally spark.stop()
    // a partial file would silently drop the failed queries' pins
    if (failed.nonEmpty) {
      System.err.println(s"[plansig] ${failed.size} queries could not " +
        s"be planned; $SigFile left untouched:\n${failed.mkString("\n")}")
      sys.exit(1)
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(SigFile), render(sigs).getBytes("UTF-8"))
    println(s"wrote ${sigs.size} signatures to $SigFile")
  }
}
