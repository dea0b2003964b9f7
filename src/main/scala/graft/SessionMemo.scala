package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one per-(session, key) memo for relations that outlive the call
  * that builds them: the TS lake, the LSH pair set, trained models, and
  * sub-relations two queries share (a38/a44's contingency cells, a36/
  * w35's sweep deltas). A relation a second query reads is handed over
  * through an entry here, never found again by CacheManager plan
  * matching; a pin that only one call needs is released by that call.
  *
  * The memo OWNS the pin. A builder hands back a bare plan and the call
  * site states the storage, chosen by measurement:
  *  - [[cached]]: `.cache()`, the in-memory columnar cache. Lineage is
  *    kept, so a lost block is recomputed.
  *  - [[checkpointed]]: eager `localCheckpoint()`. The plan becomes a
  *    leaf with real size statistics and a cheap row re-read, but a
  *    lost block cannot be recomputed and there is no columnar cache.
  *  - [[local]]: no pin, for a relation the driver already holds (a
  *    local relation built from collected rows).
  * A builder that returns a plan already cached or checkpointed is
  * refused, naming the key: the pin would have two owners.
  *
  * A key is the owner's name plus every build parameter, so two builds
  * that differ in any parameter never share an entry.
  *
  * Lifecycle: entries whose session has stopped are purged on every
  * access (their blocks died with the session; the key would only pin
  * the session against GC). [[clearAll]] evicts every entry and frees
  * its pin: cached plans are unpersisted, and for a checkpoint the RDD
  * behind its `LogicalRDD` leaf is.
  *
  * Builds run under one reentrant lock, not `computeIfAbsent`: builders
  * nest (programs summary -> PAT/PMT/SDT -> latest tables) and a nested
  * computeIfAbsent on one map throws "Recursive update".
  */
object SessionMemo {

  private final class Entry(val value: Dataset[_], val release: () => Unit)

  private val entries = new ConcurrentHashMap[(SparkSession, String), Entry]()

  def cached[T](s: SparkSession, owner: String, params: Any*)(
      build: => Dataset[T]): Dataset[T] =
    memo(s, keyOf(owner, params)) { (df: Dataset[T]) =>
      val c = df.cache()
      new Entry(c, () => c.unpersist(blocking = false))
    }(build)

  def checkpointed[T](s: SparkSession, owner: String, params: Any*)(
      build: => Dataset[T]): Dataset[T] =
    memo(s, keyOf(owner, params)) { (df: Dataset[T]) =>
      val c = df.localCheckpoint()
      val rdd = checkpointRdd(c)
      new Entry(c, () => rdd.foreach(_.unpersist(blocking = false)))
    }(build)

  def local[T](s: SparkSession, owner: String, params: Any*)(
      build: => Dataset[T]): Dataset[T] =
    memo(s, keyOf(owner, params))((df: Dataset[T]) =>
      new Entry(df, () => ()))(build)

  /** Evict every entry in the JVM and free its pin (Bench, Verify and
    * perfbench teardown; PlanSigSpec's fresh start). */
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
      pin: Dataset[T] => Entry)(build: => Dataset[T]): Dataset[T] = {
    purgeStopped()
    val k = (s, key)
    val hit = entries.get(k)
    val e =
      if (hit != null) hit
      else synchronized {
        val again = entries.get(k)
        if (again != null) again
        else {
          val df = build
          require(df.storageLevel == StorageLevel.NONE &&
            checkpointRdd(df).isEmpty,
            s"memo '$key': the builder returned a plan that is already " +
              "cached or checkpointed; the memo owns the pin, so drop " +
              "the builder's own .cache()/.localCheckpoint()")
          val fresh = pin(df)
          entries.put(k, fresh)
          fresh
        }
      }
    e.value.asInstanceOf[Dataset[T]]
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
