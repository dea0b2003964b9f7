package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one per-(session, key) memo, and the owner of every pin the
  * engine makes (the one stated exception is
  * `TsPipeline.packetsWithRejects`, whose caller frees its own cache).
  * Entries: the TS lake, the LSH pair set, trained models, sub-relations
  * two queries share (a38/a44's contingency cells, a36/w35's sweep
  * deltas; handed over here, never found again by CacheManager plan
  * matching), and the lineage cuts one call's returned plan still reads
  * (w24's base relation, t35's scored relation).
  *
  * The memo OWNS the pin. A builder hands back a bare plan and the call
  * site states the storage, chosen by measurement:
  *  - [[cached]]: `.cache()`, the in-memory columnar cache. Lineage is
  *    kept, so a lost block is recomputed.
  *  - [[checkpointed]]: eager `localCheckpoint()`. The plan becomes a
  *    leaf with real size statistics and a cheap row re-read, but a
  *    lost block cannot be recomputed and there is no columnar cache.
  *  - [[local]]: no pin, for a relation the driver already holds.
  *  - [[rounds]]: the iterative operators' round loop, whose steps pin
  *    through its [[Pins]].
  * A key is the owner's name plus every build parameter.
  *
  * Lifecycle: entries whose session has stopped are purged on every
  * access (their blocks died with the session; the key would only pin
  * the session against GC). [[clearAll]] evicts every entry and frees
  * its pins: cached plans are unpersisted, and for a checkpoint the RDD
  * behind its `LogicalRDD` leaf is.
  *
  * Builds run under one reentrant lock, not `computeIfAbsent`: builders
  * nest (programs summary -> PAT/PMT/SDT -> latest tables) and a nested
  * computeIfAbsent on one map throws "Recursive update".
  */
object SessionMemo {

  /** A pinned value and how to free its pin; `stationary` only marks
    * a [[Pins]] relation that rounds read but no state does. */
  private final class Entry(val value: Dataset[_], val release: () => Unit,
      val stationary: Boolean = false)

  private val entries = new ConcurrentHashMap[(SparkSession, String), Entry]()

  def cached[T](s: SparkSession, owner: String, params: Any*)(
      build: => Dataset[T]): Dataset[T] =
    pinned(s, keyOf(owner, params), cacheOf(_))(build)

  def checkpointed[T](s: SparkSession, owner: String, params: Any*)(
      build: => Dataset[T]): Dataset[T] =
    pinned(s, keyOf(owner, params), checkpointOf(_))(build)

  def local[T](s: SparkSession, owner: String, params: Any*)(
      build: => Dataset[T]): Dataset[T] =
    pinned(s, keyOf(owner, params), new Entry(_, () => ()))(build)

  /** The pins of one [[rounds]] loop. A state pin is freed as soon as
    * the loop state no longer reads it: once the next round returns, or
    * on exit. A stationary pin (a relation every round reads but no
    * state does) lives until the loop exits. */
  final class Pins private[SessionMemo] () {
    private var held = List.empty[Entry]

    def cache(df: DataFrame, stationary: Boolean = false): DataFrame =
      hold(cacheOf(df, stationary))

    def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame =
      hold(checkpointOf(df, eager))

    private def hold(pin: Entry): DataFrame = {
      held ::= pin
      pin.value.asInstanceOf[DataFrame]
    }

    /** Frees every pin `value` does not read; a stationary one only on
      * `exit`. */
    private[SessionMemo] def freeUnread(value: Dataset[_],
        exit: Boolean): Unit = {
      val plan = value.queryExecution.analyzed
      val (keep, drop) = held.partition(p => (p.stationary && !exit) ||
        plan.find(_.sameResult(p.value.queryExecution.analyzed)).nonEmpty)
      drop.foreach(_.release())
      held = keep
    }

    private[SessionMemo] def freeAll(): Unit = {
      held.foreach(_.release())
      held = Nil
    }
  }

  /** The round loop of the iterative operators (g5, k-core, g8, the
    * min-label closure), an entry keyed `owner(params…, cap)`. Each
    * `step(state, round, pins)` returns the next state and whether it
    * is the fixpoint; after `cap` rounds without one the loop throws (a
    * silent cap would return a wrong result). After each round the pins
    * the new state does not read are freed; on exit, those `result`
    * does not read, and the entry holds the rest. */
  def rounds[T](s: SparkSession, owner: String, cap: Int, params: Any*)(
      seed: Pins => DataFrame)(
      step: (DataFrame, Int, Pins) => (DataFrame, Boolean))(
      result: DataFrame => Dataset[T]): Dataset[T] =
    memo(s, keyOf(owner, params :+ cap)) {
      val pins = new Pins
      def loop(state: DataFrame, round: Int): DataFrame = {
        if (round == cap) throw new IllegalStateException(
          s"$owner: not at fixpoint after $cap rounds; raise the cap")
        val (next, fixpoint) = step(state, round + 1, pins)
        pins.freeUnread(next, exit = false)
        if (fixpoint) next else loop(next, round + 1)
      }
      try {
        val out = result(loop(seed(pins), 0))
        pins.freeUnread(out, exit = true)
        new Entry(out, () => pins.freeAll())
      } catch {
        case e: Throwable => pins.freeAll(); throw e
      }
    }

  /** Evict every entry in the JVM and free its pins (Bench, Verify,
    * TimeOne and perfbench teardown; PlanSigSpec's fresh start). */
  def clearAll(): Unit = synchronized {
    entries.values.forEach { e =>
      try e.release() catch { case NonFatal(_) => () }
    }
    entries.clear()
  }

  /** The live keys, per session (for tests). */
  private[graft] def keys: Seq[(SparkSession, String)] =
    entries.keySet.asScala.toSeq

  private def keyOf(owner: String, params: Seq[Any]): String =
    params.mkString(s"$owner(", ", ", ")")

  private def memo[T](s: SparkSession, key: String)(
      build: => Entry): Dataset[T] = {
    purgeStopped()
    val k = (s, key)
    def locked = synchronized {
      Option(entries.get(k)).getOrElse {
        val fresh = build
        entries.put(k, fresh)
        fresh
      }
    }
    Option(entries.get(k)).getOrElse(locked).value.asInstanceOf[Dataset[T]]
  }

  /** An entry for the plan `build` returns, pinned by `pin`. The plan
    * is refused, naming the key, if it is already pinned and no entry
    * owns that pin (an entry may cache the same plan under another key:
    * z27 checkpoints the edges z23 caches). */
  private def pinned[T](s: SparkSession, key: String,
      pin: Dataset[_] => Entry)(build: => Dataset[T]): Dataset[T] =
    memo(s, key) {
      val df = build
      def entryPins = entries.asScala.exists { case ((es, _), e) =>
        (es eq s) && e.value.queryExecution.analyzed.sameResult(
          df.queryExecution.analyzed)
      }
      require((df.storageLevel == StorageLevel.NONE || entryPins) &&
        checkpointRdd(df).isEmpty,
        s"memo '$key': the builder returned a plan that is already " +
          "cached or checkpointed; the memo owns the pin, so drop " +
          "the builder's own .cache()/.localCheckpoint()")
      pin(df)
    }

  private def cacheOf(df: Dataset[_], stationary: Boolean = false)
      : Entry = {
    val c = df.cache()
    new Entry(c, () => c.unpersist(blocking = false), stationary)
  }

  private def checkpointOf(df: Dataset[_], eager: Boolean = true): Entry = {
    val c = df.localCheckpoint(eager)
    val rdd = checkpointRdd(c)
    new Entry(c, () => rdd.foreach(_.unpersist(blocking = false)))
  }

  /** The RDD behind a checkpointed plan: its root is a `LogicalRDD` leaf
    * whose RDD is persisted (local checkpoint) or checkpointed. */
  private def checkpointRdd(df: Dataset[_]): Option[RDD[_]] =
    df.queryExecution.logical match {
      case r: LogicalRDD if r.rdd.getStorageLevel != StorageLevel.NONE ||
          r.rdd.isCheckpointed => Some(r.rdd)
      case _ => None
    }

  private def purgeStopped(): Unit =
    entries.keySet.removeIf(_._1.sparkContext.isStopped)
}
