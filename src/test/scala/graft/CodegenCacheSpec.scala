package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col

/** The codegen cache bound that build.sbt passes to every forked JVM
  * (`spark.sql.codegen.cache.maxEntries`): a working set larger than
  * Spark's default 100 entries compiles once and then stays cached. */
class CodegenCacheSpec extends SparkSuite {

  test("a working set of more than 100 generated classes compiles once") {
    val built = """val codegenCacheEntries = (\d+)""".r
      .findFirstMatchIn(scala.io.Source.fromFile("build.sbt").mkString)
      .map(_.group(1).toInt)
    assert(built.isDefined, "build.sbt declares no codegenCacheEntries")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt ==
      built.get)
    // 64 whole-stage projections that differ only in an inlined literal;
    // each is compiled under the driver's and the task thread's loader
    def round(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 64).foreach { i =>
        assert(spark.range(0, 4, 1, 1).select(col("id") * i).collect()
          .map(_.getLong(0)).toSeq == Seq(0L, i, 2L * i, 3L * i))
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = round()
    val second = round()
    assert(first > 100, s"$first compiles: the working set fits the default")
    assert(second == 0, s"$second of $first classes compiled again")
  }
}
