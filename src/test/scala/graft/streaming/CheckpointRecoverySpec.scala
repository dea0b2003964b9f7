package graft.streaming

import java.nio.file.Files

import graft.SparkSuite
import graft.ts.{EsEntry, Fixtures, PatRow, PmtProgram, PsiCodec, PsiSection,
  TsPacket, TsPipeline}

/** Exactly-once across restarts (SURVEY §2.13): a checkpointed streaming
  * query stopped mid-stream and restarted must produce the SAME sections
  * as batch, no loss and no duplicates — strictly stronger than the
  * reference's at-most-once UDP regime. */
class CheckpointRecoverySpec extends SparkSuite {

  /** Streams `chunks` (six) through section assembly into a parquet sink
    * on one checkpoint: the first three, a stop, then the rest after a
    * restart from the checkpoint, each start through
    * [[StreamingOps.startWithConfs]] as in `src/main`. Returns the
    * sink's sections and the number of committed batches. */
  private def acrossRestart(chunks: Seq[Seq[TsPacket]])
      : (Array[PsiSection], Int) = {
    import spark.implicits._
    assert(chunks.length == 6)
    val root = Files.createTempDirectory("graft-ckpt").toString
    val inDir = s"$root/in"
    val outDir = s"$root/out"
    val ckpt = s"$root/ckpt"
    def addChunk(i: Int): Unit =
      spark.createDataset(chunks(i))
        .repartition(1)
        .write.mode("append").parquet(inDir)
    def runUntilDrained(): Unit = {
      val q = StreamingOps.startWithConfs(spark) {
        spark.readStream
          .schema(spark.createDataset(Seq.empty[TsPacket]).schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir)
          .as[TsPacket]
          .transform(StreamingOps.sectionsStream)
          .writeStream
          .format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .start()
      }
      try q.processAllAvailable() finally q.stop()
    }
    // first run sees only half the stream — sections split across the
    // boundary stay buffered in state
    (0 until 3).foreach(addChunk)
    runUntilDrained()
    // "crash", deliver the rest, restart from the checkpoint
    (3 until 6).foreach(addChunk)
    runUntilDrained()
    (spark.read.parquet(outDir).as[PsiSection].collect(),
      new java.io.File(s"$ckpt/commits").list().count(!_.startsWith(".")))
  }

  test("section assembly survives a stop/restart via checkpoint") {
    import spark.implicits._
    val pkts = TsPipeline.packets(spark)
      .filter((p: TsPacket) => p.pid == 0 || p.pid == 66)
      .collect().sortBy(_.seq)
    val batchSecs = TsPipeline.psiSections(spark,
      spark.createDataset(pkts.toIndexedSeq)).collect()

    val streamed =
      acrossRestart(pkts.grouped(pkts.length / 6 + 1).toSeq.map(_.toSeq))._1
    assert(streamed.length == batchSecs.length,
      s"got ${streamed.length}, want ${batchSecs.length}")
    assert(streamed.map(s => (s.pid, s.versionNumber, s.sectionNumber,
        s.bytes.toSeq)).sortBy(_.toString).toSeq ==
      batchSecs.map(s => (s.pid, s.versionNumber, s.sectionNumber,
        s.bytes.toSeq)).sortBy(_.toString).toSeq)
  }

  test("capture-free: section assembly survives a stop/restart on a " +
    "fixed checkpoint") {
    import spark.implicits._
    // three versions of a PAT and four 3-packet PMTs, per-PID CC and one
    // global packet order, as a mux would carry them
    val pmtPids = 0x100 to 0x103
    var seq = 0L
    val cc = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
    def packets(pid: Int, bytes: Array[Byte]): Seq[TsPacket] = {
      val p = Fixtures.sectionToPackets(pid, bytes, seq, cc(pid))
      seq += p.length
      cc(pid) += p.length
      p
    }
    val pkts = (0 until 3).flatMap { v =>
      packets(0, PsiCodec.encodePat(pmtPids.zipWithIndex.map {
        case (pid, i) => PatRow(i + 1, pid) }, tsId = 1, version = v)) ++
        pmtPids.zipWithIndex.flatMap { case (pid, i) =>
          packets(pid, PsiCodec.encodePmt(PmtProgram(i + 1, 0x200 + i, Nil,
            (0 until 80).map(k => EsEntry(0x1B, 0x300 + 80 * i + k, Nil))),
            version = v))
        }
    }
    val batchSecs = TsPipeline.psiSections(spark,
      spark.createDataset(pkts)).collect()
    assert(batchSecs.length == 15)

    // the stop falls inside a PMT section: its first packets are in
    // state when the query stops, its last ones arrive after the restart
    val cut = pkts.indexWhere(!_.pusi, pkts.length / 2)
    val (streamed, committed) = acrossRestart(
      Seq(pkts.take(cut), pkts.drop(cut)).flatMap(h =>
        h.grouped(h.length / 3 + 1)))
    // three batches per run: the second run resumed from the checkpoint
    assert(committed == 6)
    def key(s: PsiSection) =
      (s.pid, s.versionNumber, s.sectionNumber, s.bytes.toSeq)
    assert(streamed.map(key).sortBy(_.toString).toSeq ==
      batchSecs.map(key).sortBy(_.toString).toSeq)
  }
}
