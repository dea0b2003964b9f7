package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException,
  Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.ProcessStarts

/** The fork-free checkpoint file manager against Spark's default one
  * (`CheckpointFileManager.create` with no manager class set: the
  * `FileContext`-based manager over Hadoop's local file system). Needs
  * no session. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def freshDir(): Path =
    new Path(Files.createTempDirectory("graft-lcfm").toUri)

  private def local(dir: Path): CheckpointFileManager =
    new LocalCheckpointFileManager(dir, conf)

  private def default(dir: Path): CheckpointFileManager =
    CheckpointFileManager.create(dir, conf)

  private def write(fm: CheckpointFileManager, p: Path, bytes: Array[Byte],
      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(bytes)
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): Seq[Byte] = {
    val in = fm.open(p)
    try in.readAllBytes().toSeq finally in.close()
  }

  /** Every file under `dir`, checksum sidecars included, relative. */
  private def tree(dir: Path): Seq[String] = {
    val root = Paths.get(dir.toUri)
    val s = Files.walk(root)
    try s.toArray.toSeq.map(p => root.relativize(p.asInstanceOf[
      java.nio.file.Path]).toString).filter(_.nonEmpty).sorted
    finally s.close()
  }

  private def bytes(n: Int, seed: Int): Array[Byte] =
    Array.tabulate(n)(i => ((i * 31 + seed) & 0xFF).toByte)

  test("createAtomic without overwrite onto an existing file throws " +
    "FileAlreadyExistsException and keeps the old bytes") {
    val dir = freshDir()
    val fm = local(dir)
    val p = new Path(dir, "0")
    write(fm, p, bytes(100, 1))
    intercept[FileAlreadyExistsException](write(fm, p, bytes(50, 2)))
    assert(read(fm, p) == bytes(100, 1).toSeq)
  }

  test("createAtomic with overwrite replaces the file") {
    val dir = freshDir()
    val fm = local(dir)
    val p = new Path(dir, "0")
    write(fm, p, bytes(100, 1))
    write(fm, p, bytes(50, 2), overwrite = true)
    assert(read(fm, p) == bytes(50, 2).toSeq)
  }

  test("cancel() leaves no final file") {
    val dir = freshDir()
    val fm = local(dir)
    val p = new Path(dir, "0")
    val out = fm.createAtomic(p, false)
    out.write(bytes(100, 1))
    out.cancel()
    assert(!fm.exists(p))
    assert(tree(dir).isEmpty, tree(dir))
  }

  test("open, list, exists, delete and mkdirs match Spark's default " +
    "manager, sidecars included") {
    /** The same calls on `fm` under `dir`; what each one observed. */
    def script(fm: CheckpointFileManager, dir: Path): Seq[Any] = {
      val a = new Path(dir, "a")
      val b = new Path(a, "b")
      fm.mkdirs(b)
      write(fm, new Path(a, "1"), bytes(2048, 1))
      write(fm, new Path(b, "2.delta"), bytes(10, 2))
      write(fm, new Path(a, "3"), bytes(0, 0))
      def listing(p: Path): Seq[(String, Boolean, Long)] =
        fm.list(p).toSeq.map(s => (s.getPath.getName, s.isDirectory,
          if (s.isDirectory) 0L else s.getLen)).sorted
      val observed = Seq(
        listing(a), listing(b), listing(dir),
        fm.list(a, (p: Path) => p.getName.startsWith("1")).length,
        Seq(a, b, new Path(a, "1"), new Path(a, "9")).map(fm.exists),
        read(fm, new Path(a, "1")), read(fm, new Path(b, "2.delta")),
        read(fm, new Path(a, "3")), tree(dir))
      fm.delete(new Path(a, "1"))
      fm.delete(new Path(a, "9")) // absent: no error
      fm.mkdirs(b) // exists: no error
      observed ++ Seq(listing(a), fm.exists(new Path(a, "1")), tree(dir))
    }
    val mine = freshDir()
    val theirs = freshDir()
    assert(script(local(mine), mine) == script(default(theirs), theirs))
    assert(tree(mine).contains("a/.3.crc"), tree(mine))
  }

  test("a byte flipped in a written file fails the read: the .crc " +
    "sidecar is kept and checked") {
    val dir = freshDir()
    val fm = local(dir)
    val p = new Path(dir, "1.delta")
    write(fm, p, bytes(2048, 1))
    val raw = new File(p.toUri)
    val b = Files.readAllBytes(raw.toPath)
    b(1000) = (b(1000) ^ 0x40).toByte
    Files.write(raw.toPath, b)
    intercept[ChecksumException](read(fm, p))
  }

  test("a path that is not on the local file system fails in one line " +
    "that names it") {
    val p = new Path("hdfs://namenode:8020/ckpt/offsets")
    val e = intercept[IllegalArgumentException](local(p))
    assert(e.getMessage.contains(p.toString), e.getMessage)
    assert(!e.getMessage.contains("\n"), e.getMessage)
  }

  test("50 writes, lists and deletes start no process; the default " +
    "manager's do") {
    /** The starts made by this thread, which runs every call: other
      * threads of a shared test JVM may start processes meanwhile. */
    def starts(fm: CheckpointFileManager, dir: Path): Seq[String] = {
      def round(i: Int): Unit = {
        val p = new Path(dir, s"$i.delta")
        write(fm, p, bytes(2048, i))
        fm.list(dir)
        fm.delete(p)
      }
      round(-1) // warm-up: one-time class initialization may fork
      ProcessStarts.during((0 until 50).foreach(round))._2
        .filter(_.thread == Thread.currentThread.getName).map(_.command)
    }
    val theirs = freshDir()
    val forked = starts(default(theirs), theirs)
    assert(forked.nonEmpty, "the recording saw no fork of the default " +
      "manager, so it cannot show that the new one makes none")
    val mine = freshDir()
    val mineStarts = starts(local(mine), mine)
    assert(mineStarts.isEmpty,
      s"${mineStarts.length} process starts: ${mineStarts.distinct}")
  }
}
