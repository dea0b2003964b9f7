package graft.perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

/** Ground-truth comparisons, kept free of Spark so the self-test can
  * exercise them directly. */
object Checks {

  def plantedCcErrors(truth: JsonNode): Long =
    truth.get("pids").elements().asScala.map(_.get("cc_errors").asLong).sum

  /** `rows` are the engine's (pid, payload packets, CC errors); every
    * non-null PID of the capture must appear with its planted count. */
  def ccAuditOk(rows: Seq[(Int, Long, Long)], truth: JsonNode): Boolean = {
    val want = truth.get("pids").elements().asScala
      .filter(_.get("pid").asInt != graft.ts.TsCodec.NullPid)
      .map(n => n.get("pid").asInt ->
        (n.get("n_packets").asLong - n.get("n_pcr").asLong,
          n.get("cc_errors").asLong)).toMap
    rows.length == want.size && rows.forall { case (pid, n, err) =>
      want.get(pid).contains((n, err))
    }
  }

  /** Marks bump k visible at `atNs` when the document shows its program
    * at its version or a later one, and the bump was already due. */
  def markVisible(visible: Array[Long], dueMs: Seq[Long], prog: Seq[Int],
      version: Seq[Int], shown: Map[Int, Int], atNs: Long): Unit = {
    val nowMs = atNs / 1000000L
    visible.indices.foreach { k =>
      if (visible(k) < 0 && dueMs(k) <= nowMs &&
        shown.get(prog(k)).exists(_ >= version(k))) visible(k) = atNs
    }
  }
}
