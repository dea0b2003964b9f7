package graft

/** Plan diagnostics: prints the formatted physical plan for the named
  * queries (all, if none given) so pushdown/broadcast/codegen health can
  * be reviewed per round. Usage: runMain graft.Explain <sfDir> [names...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val catalog = SparkEntry.queries ++ SparkEntry.diag
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSession()
    names.foreach { n =>
      println(s"\n===== $n =====")
      catalog(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
