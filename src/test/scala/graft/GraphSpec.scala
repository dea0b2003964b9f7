package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** g1 PageRank: fixed-point invariants + determinism. */
class GraphSpec extends SparkSuite {

  test("g1 pagerank: integer fixed-point invariants hold") {
    val out = Graph.g1PageRank(spark, sf)
    val rows = out.collect()
    assert(rows.length == 20)
    assert(rows.map(_.getAs[String]("node_type")).toSet
      .subsetOf(Set("part", "supplier")))

    // every rank ≥ the teleport floor (incoming mass is non-negative)
    val n = Graph.edgesOf(spark, sf)
      .groupBy("src").agg(count(lit(1))).count()
    val teleport = (15L * (Graph.Scale / n)) / 100L
    assert(rows.forall(_.getAs[Long]("rank_fp") >= teleport),
      s"a rank fell below the teleport floor $teleport")

    // floor division only loses mass: ranks can never exceed SCALE
    assert(rows.forall(_.getAs[Long]("rank_fp") < Graph.Scale))

    // the readable double is exactly rank_fp / 1e12
    assert(rows.forall(r =>
      r.getAs[Double]("rank") == r.getAs[Long]("rank_fp") / 1e12))

    // descending by rank_fp (ties broken before the limit)
    val fps = rows.map(_.getAs[Long]("rank_fp"))
    assert(fps.zip(fps.tail).forall { case (a, b) => a >= b })

    // deterministic: an independent run produces identical rows
    val again = Graph.g1PageRank(spark, sf).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("g1 pagerank: hub nodes outrank leaf nodes") {
    // suppliers each touch many parts (bipartite fan-in), so with the
    // part side far larger than the supplier side, top ranks must
    // include suppliers (degree mass concentrates there)
    val top = Graph.g1PageRank(spark, sf).collect()
    assert(top.count(_.getAs[String]("node_type") == "supplier") > 0)
  }

  test("pageRankOfAdj rejects k = 0 (the fused loop always runs round 1)") {
    intercept[IllegalArgumentException] {
      Graph.pageRankOfAdj(Graph.adjBySrc(spark, sf), 0)
    }
  }
}
