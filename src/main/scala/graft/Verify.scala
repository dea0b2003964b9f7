package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Also emits `$outDir/hashes.json`: a canonical digest per query output
  * (columns sorted by name, rows rendered + sorted — the driver
  * comparator's canonicalization shape) plus the full row dump for small
  * results and a digest per oracle-artifact dump relation. Two Verify
  * runs in different environments can then be compared at the digest
  * level: a hash-red driver row with an IDENTICAL engine digest proves
  * the divergence is on the oracle/comparator side, and vice versa
  * (round-7 a45/a46/m12 were unexplainable without this). */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // absolutized so the dump paths embedded in oracle SQL (read by a
    // DuckDB process with its own cwd) resolve no matter who runs them
    val outDir = Paths.get(args(1)).toAbsolutePath.toString
    // optional third arg: comma-separated query-name filter for fast
    // local iteration (the driver always passes exactly two args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // re-point the oracle-artifact dump roots under THIS run's outDir —
    // concurrent Verify runs (or a stale dump from an interrupted one)
    // must never be able to serve another run's oracle reads. All four
    // mutable roots live under ONE dot-prefixed subdir so the driver's
    // top-level parquet glob (python glob skips dotfiles) never
    // mistakes them for query outputs (r8's four `no_oracle` noise
    // rows); the oracle SQL embeds absolute paths, so DuckDB still
    // reads them fine.
    val artDir = s"$outDir/.artifacts"
    graft.ts.TsLake.DumpDir = s"$artDir/tsdump"
    OpLake.DumpDir = s"$artDir/opdump"
    // …and the persisted index/lake artifacts (IVF lists, BM25
    // postings, DSIR lake): e10 reads what ivfIndexPath wrote, so a
    // concurrent run overwriting the shared default path mid-read is
    // a FILE_NOT_EXIST failure (observed in the round-8 concurrent
    // probe before this line existed)
    IndexDir.base = s"$artDir/index"
    // per-run warehouse: l5's bucketed tables (saveAsTable) land here,
    // so two concurrent Verify runs can't race each other's buckets
    // (the documented spark-warehouse/li_bkt hazard)
    val spark = LocalSession(
      extraConf = Seq("spark.sql.warehouse.dir" -> s"$artDir/warehouse"))
    new java.io.File(outDir).mkdirs()
    // a clean run must not inherit a previous run's failure marker
    Files.deleteIfExists(Paths.get(s"$outDir/_FAILED.txt"))
    // Dump failures must be LOUD: a silently-missing artifact shows up
    // downstream as a mystery "No files found" oracle row (round-5
    // w13/w16). Record every failure with its full stack in
    // $outDir/_FAILED.txt so one glance pinpoints the crash site.
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def loud(tag: String)(body: => Unit): Unit =
      try body
      catch { case e: Throwable =>
        val sw = new java.io.StringWriter()
        e.printStackTrace(new java.io.PrintWriter(sw))
        System.err.println(s"[verify] $tag FAILED: ${e.getMessage}")
        failures += s"== $tag ==\n$sw"
      }
    // materialize the decoded TS layers the ts-family oracles read
    loud("tsdump")(graft.ts.TsLake.ensureDumped(spark))
    // …and the engine-specific artifacts (simhash signatures, LSH
    // buckets, trained centroids, HLL estimates) their oracles read
    loud("opdump")(OpLake.ensureDumped(spark, sfDir))
    val written = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name))
        loud(name) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          written += name
        }
    }
    if (failures.nonEmpty) {
      Files.writeString(Paths.get(s"$outDir/_FAILED.txt"),
        failures.mkString("\n"))
      System.err.println(
        s"[verify] ${failures.size} dump(s) FAILED — see $outDir/_FAILED.txt")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // ---- per-query canonical digests (+ full rows when small) --------
    // Rendering is Scala-deterministic (Java toString for all scalar
    // types) — the digest compares ENGINE output across environments,
    // not Scala-vs-Python; tools/compare.py --hashes writes the
    // Python-canon engine+oracle digests for the cross-side view.
    def canonDigest(path: String): (Long, String, Seq[String]) = {
      val df = spark.read.parquet(path)
      val cols = df.columns.sorted
      val proj = df.selectExpr(cols.map(c => s"`$c`"): _*)
      val rows = proj.collect().map { r =>
        (0 until r.length).map { i =>
          r.get(i) match {
            case null => "\u0000null"
            // epoch millis: java.sql.Timestamp/Date.toString render in
            // the JVM-default timezone - a cross-environment digest
            // must not depend on it
            case t: java.util.Date => s"@${t.getTime}"
            case b: Array[Byte] => b.map(x => f"$x%02x").mkString
            case v => v.toString
          }
        }.mkString("\u0001")
      }.sorted
      val md = java.security.MessageDigest.getInstance("SHA-256")
      rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update('\n'.toByte) }
      val digest = md.digest().map(b => f"$b%02x").mkString
      (rows.length.toLong, digest,
        if (rows.length <= 64) rows.toSeq else Nil)
    }
    val hashEntries = scala.collection.mutable.ArrayBuffer.empty[String]
    written.sorted.foreach { name =>
      loud(s"hash:$name") {
        val (n, dg, sample) = canonDigest(s"$outDir/$name")
        val sampleJson =
          if (sample.nonEmpty)
            sample.map(q).mkString(",\"rows\":[", ",", "]")
          else ""
        hashEntries +=
          s"""${q(name)}:{"n":$n,"digest":"$dg"$sampleJson}"""
      }
    }
    // digest every oracle-artifact dump relation too — a hash-red query
    // whose oracle reads a dump (m12 → cdc_chunks) is only diagnosable
    // if the dump's own bytes are pinned per environment
    val dumpEntries = scala.collection.mutable.ArrayBuffer.empty[String]
    Seq(OpLake.DumpDir, graft.ts.TsLake.DumpDir).foreach { root =>
      val d = new java.io.File(root)
      if (d.isDirectory)
        d.listFiles().filter(_.isDirectory).map(_.getName).sorted.foreach {
          rel => loud(s"hash:dump:$rel") {
            val (n, dg, _) = canonDigest(s"$root/$rel")
            dumpEntries += s"""${q(rel)}:{"n":$n,"digest":"$dg"}"""
          }
        }
    }
    Files.writeString(Paths.get(s"$outDir/hashes.json"),
      s"""{"queries":{${hashEntries.mkString(",")}},""" +
        s""""dumps":{${dumpEntries.mkString(",")}}}""")
    SessionMemo.clearAll()
    spark.stop()
  }
}
