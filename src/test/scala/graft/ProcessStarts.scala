package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** The processes this JVM starts while a block runs, seen by an in-JVM
  * Flight Recorder recording of `jdk.ProcessStart` events (one per
  * `ProcessBuilder.start`, whichever thread calls it). */
object ProcessStarts {

  /** One process start: the starting thread's name and the command. */
  final case class Start(thread: String, command: String)

  /** Runs `f`; returns its value and every process started meanwhile. */
  def during[T](f: => T): (T, Seq[Start]) = {
    val r = new Recording()
    try {
      r.enable("jdk.ProcessStart")
      r.start()
      val out = try f finally r.stop()
      val file = Files.createTempFile("graft-process-starts", ".jfr")
      try {
        r.dump(file)
        (out, RecordingFile.readAllEvents(file).asScala.toSeq.map(e =>
          Start(Option(e.getThread).fold("?")(_.getJavaName),
            e.getString("command"))))
      } finally Files.deleteIfExists(file)
    } finally r.close()
  }
}
