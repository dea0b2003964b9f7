package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites — one JVM-wide SparkSession in
  * the signature conf (local[4], 4 shuffle partitions for small test
  * data), built by the same factory call as `PlanSig.main`. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSuite {
  lazy val session: SparkSession = LocalSession.signature()
}
