package graft

import org.apache.spark.sql.functions._

import graft.operators.Skew

class SkewSpec extends SparkSuite {

  test("salted join equals plain join on skewed data") {
    import spark.implicits._
    // 90% of fact rows share one hot key
    val fact = (0 until 10000)
      .map(i => (if (i % 10 == 0) i % 7 else 99, i.toLong))
      .toDF("k", "v")
    val dim = (0 until 100).map(i => (i, s"name_$i")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).select("k", "v", "name")
    val salted = Skew.saltedJoin(fact, dim, "k", salts = 8)
      .select("k", "v", "name")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("salted join preserves left-outer null rows") {
    import spark.implicits._
    val fact = Seq((1, 10L), (2, 20L), (777, 30L)).toDF("k", "v")
    val dim = Seq((1, "a"), (2, "b")).toDF("k", "name")
    val out = Skew.saltedJoin(fact, dim, "k", salts = 4, "left")
    assert(out.count() == 3)
    assert(out.filter(col("k") === 777 && col("name").isNull).count() == 1)
  }

  test("salted count equals plain count") {
    import spark.implicits._
    val df = (0 until 5000)
      .map(i => (if (i % 100 == 0) i else 42, i)).toDF("k", "v")
    val got = Skew.saltedCount(df, col("k"), 16)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = df.groupBy("k").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("z26 task-load census: totals conserved, variants labelled") {
    // the probes themselves run under TimeOne with AQE off (COVERAGE
    // row); here we pin their accounting invariant — the census must
    // partition the measured relation's rows exactly
    val (fact, dim) = Skew.hotFixture(spark, sf)
    val joined = fact.join(dim.hint("SHUFFLE_HASH"), Seq("k"))
    val row = Skew.taskLoad(joined, "t").collect().head
    assert(row.getAs[String]("variant") == "t")
    assert(row.getAs[Long]("total_rows") == joined.count())
    assert(row.getAs[Long]("max_task_rows") <=
      row.getAs[Long]("total_rows"))
    assert(row.getAs[Long]("n_tasks") >= 1)
  }

  test("z27 lineage-cut pagerank is bit-identical to the cached run") {
    import graft.operators.Graph
    val cached = Graph.diag("z23_g1_20x")(spark, sf).collect()
    val cut = Graph.diag("z27_g1_20x_lineagecut")(spark, sf).collect()
    assert(cached.map(_.toString).toSeq == cut.map(_.toString).toSeq)
    assert(cached.nonEmpty)
  }
}
