package graft

/** Diffs every query's current physical-plan shape against the committed
  * `PLAN_SIGS.json`. A mismatch means the plan CHANGED — if intentional,
  * regenerate with `sbt "runMain graft.PlanSig"` and review the diff in
  * the commit; if not, a broadcast/aggregate/exchange regressed. */
class PlanSigSpec extends SparkSuite {

  test("physical plan shapes match the committed signatures") {
    // Signatures are committed from a FRESH session (`runMain
    // graft.PlanSig`), where no relation is cached yet. In the shared
    // test JVM, suites that ran earlier leave SessionMemo relations in
    // the cache manager, and Spark's cache substitution would splice
    // InMemoryTableScan nodes into otherwise-identical plans — a false
    // drift. Start from the same empty-cache state the generator saw;
    // later suites rebuild their memos on first access.
    SessionMemo.clearAll()
    spark.sharedState.cacheManager.clearCache()
    val committed = PlanSig.parse(new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(PlanSig.SigFile)), "UTF-8"))
    val (current, failed) = PlanSig.all(spark)
    val missing = current.collect {
      case (n, _) if !committed.contains(n) => n
    }
    val changed = current.collect {
      case (n, sig) if committed.contains(n) && committed(n) != sig =>
        s"$n:\n  committed: ${committed(n)}\n  current:   $sig"
    }
    // a query that cannot be planned is neither missing nor stale: it
    // fails the test by name, and the others are still checked
    val stale = committed.keySet -- SparkEntry.queries.keySet
    if (failed.nonEmpty || missing.nonEmpty || changed.nonEmpty ||
      stale.nonEmpty) fail(
      s"""plan drift (regenerate via `sbt "runMain graft.PlanSig"` if
         |intended):
         |could not be planned (${failed.size}):
         |${failed.mkString("\n")}
         |missing from file: ${missing.mkString(", ")}
         |stale in file: ${stale.mkString(", ")}
         |${changed.mkString("\n")}""".stripMargin)
  }
}
