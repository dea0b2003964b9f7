package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory: every main and the test session
  * build their session here. `SPARK_GRAFT_CPUS` sets the cores (default:
  * available processors); `SPARK_GRAFT_CONF="k=v;k=v"` is extra session
  * conf for A/B plan experiments, applied by [[TimeOne]]. */
object LocalSession {

  case class Settings(cpus: Int, conf: Seq[(String, String)])

  /** Parses both variables out of `env`; a core count that is not a
    * positive integer, or a conf entry without `=` or key, is rejected
    * naming the variable and the entry. Blank conf entries are skipped. */
  def settings(env: Map[String, String] = sys.env,
      nproc: Int = Runtime.getRuntime.availableProcessors): Settings = {
    val cpus = env.get("SPARK_GRAFT_CPUS").fold(nproc) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }
    val conf = env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(';'))
      .map(_.trim).filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF entry '$kv' is not of the form key=value")
        }
      }
    Settings(cpus, conf)
  }

  /** `local[cpus]` (default: `SPARK_GRAFT_CPUS`) plus `extraConf`. */
  def apply(cpus: Int = settings().cpus,
      extraConf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The signature conf (4 cores), shared by `PlanSig.main` and the test
    * session so committed signatures and `PlanSigSpec` see one conf. */
  def signature(): SparkSession = apply(4)
}
