package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling utilities for hot-key joins (builder-prompt scale list:
  * "salting for skew"). AQE's skew-join handles sort-merge spills
  * automatically; explicit salting is the tool when a broadcast is too
  * big and a handful of keys dominate (a 100 TB PID-69-style key).
  *
  * `saltedJoin(fact, dim, key, salts)`: the fact side gets a uniform
  * random-free salt derived from a row hash (deterministic — repeatable
  * runs); the dim side is replicated `salts` times, so the join key
  * (key, salt) splits each hot key into `salts` partitions.
  */
object Skew {

  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      salts: Int, joinType: String = "inner"): DataFrame = {
    require(salts > 1, "salts must be > 1")
    // deterministic per-row salt: stable hash of all fact columns
    val factSalted = fact.withColumn("__salt",
      pmod(hash(fact.columns.map(col).toSeq: _*), lit(salts)))
    val dimReplicated = dim
      .withColumn("__salt",
        explode(sequence(lit(0), lit(salts - 1))))
    val out = factSalted.join(dimReplicated,
      Seq(key, "__salt"), joinType)
    out.drop("__salt")
  }

  /** Task-load census of a relation AS PRODUCED: tag every row with
    * the physical partition that computed it, then report the
    * max/mean-rows-per-task skew ratio. `spark_partition_id()` is
    * evaluated before the census shuffle, so the numbers describe the
    * measured stage (a join, a salted join), not the census itself. */
  private[graft] def taskLoad(df: DataFrame, variant: String)
      : DataFrame =
    df.groupBy(spark_partition_id().as("task"))
      .agg(count(lit(1)).as("n_rows"))
      .agg(lit(variant).as("variant"),
        count(lit(1)).as("n_tasks"),
        sum(col("n_rows")).as("total_rows"),
        max(col("n_rows")).as("max_task_rows"),
        (max(col("n_rows")) * lit(100L) * count(lit(1)) /
          sum(col("n_rows"))).cast("long").as("skew_pct_of_uniform"))

  /** z26 fixture — ADVERSARIAL HOT KEY: every even event collapses
    * onto ONE join key (~50% of the fact table), the rest spread over
    * the user domain. The dim side is one row per key. This is the
    * "one LSH band / one IVF list holds half the corpus" shape the
    * uniform z-probes never exercise. */
  private[graft] def hotFixture(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val fact = graft.Tables.events(s, d)
      .select(col("event_id"),
        when(col("event_id") % 2 === 0, lit(0L))
          .otherwise(col("user_id")).as("k"))
    val dim = fact.select(col("k")).distinct()
      .withColumn("payload", col("k") * 7L)
    (fact, dim)
  }

  /** Diag-only skew probes (z26): per-task load of the hot-key join
    * unsalted vs through [[saltedJoin]], and of the e9 pair stage with
    * one hot inverted list at fanout 1 vs 8. The salted/fanned rows
    * must show skew_pct_of_uniform collapsing toward ~100 (uniform)
    * from the hot run's n_tasks×~50%. */
  def diag: Map[String, (org.apache.spark.sql.SparkSession, String)
      => DataFrame] = Map(
    "z26_hotjoin_unsalted" -> ((s, d) => {
      val (fact, dim) = hotFixture(s, d)
      taskLoad(fact.join(dim.hint("SHUFFLE_HASH"), Seq("k")),
        "hotjoin_unsalted")
    }),
    "z26_hotjoin_salted" -> ((s, d) => {
      val (fact, dim) = hotFixture(s, d)
      taskLoad(saltedJoin(fact, dim.hint("SHUFFLE_HASH"), "k", 32),
        "hotjoin_salted32")
    }),
    "z26_e9_hotlist_f1" -> ((s, d) =>
      taskLoad(Similarity.semPairs(hotAssigned(s, d), 1)
        .select(col("x.vec_id")), "e9_hotlist_fanout1")),
    "z26_e9_hotlist_f8" -> ((s, d) =>
      taskLoad(Similarity.semPairs(hotAssigned(s, d), 8)
        .select(col("x.vec_id")), "e9_hotlist_fanout8")))

  /** One hot inverted list: half the vectors assigned to centroid 0. */
  private def hotAssigned(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    graft.Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        when(col("vec_id") % 2 === 0, lit(0))
          .otherwise(pmod(col("vec_id"), lit(16)).cast("int") + 1)
          .as("centroid_id"))

  /** Two-stage aggregation for skewed group keys: partial per (key,
    * salt), then final per key. For algebraic aggregates Spark's
    * map-side partials already do this; the explicit form is for
    * order-insensitive but non-algebraic buffers (e.g. HLL merge) or
    * when a single reducer key would overflow. */
  def saltedCount(df: DataFrame, key: Column, salts: Int): DataFrame =
    df
      // salt from the whole row, NOT the key — same-key rows must spread
      .groupBy(key.as("k"),
        pmod(hash(df.columns.map(col).toSeq: _*), lit(salts)).as("__salt"))
      .agg(count(lit(1)).as("partial"))
      .groupBy(col("k"))
      .agg(sum(col("partial")).as("cnt"))
}
