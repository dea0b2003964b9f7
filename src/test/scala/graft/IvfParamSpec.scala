package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.Tables.embeddings
import graft.functions.VectorExprs.{vec_dot, vec_norm}

/** The IVF/PQ/SemDeDup scale knobs at NON-default settings — the oracle
  * rows pin the default configuration; these pin that the parameters
  * actually steer the operators and preserve their invariants. */
class IvfParamSpec extends SparkSuite {

  test("ivfAnn with nprobe = k (probe every list) equals brute-force e1") {
    // the recall dial's endpoint: scoring inside ALL inverted lists is
    // exactly the full-corpus scan, same kernel, same tie order
    val ivf = Similarity.ivfAnn(spark, sf, k = 8, nprobe = 8)
    val exact = Similarity.e1CosineTopK(spark, sf)
    assert(ivf.exceptAll(exact).count() == 0)
    assert(exact.exceptAll(ivf).count() == 0)
  }

  test("ivfAnn at non-default k still yields 5 ranked rows per query") {
    val df = Similarity.ivfAnn(spark, sf, k = 32, nprobe = 8)
    val counts = df.groupBy("query_id").count().collect()
    assert(counts.length == 10 && counts.forall(_.getLong(1) == 5))
  }

  test("ivfPqOf at non-default m/ks keeps the rank contract") {
    // m=4 → 16-dim subspaces; ks=8 codes — coarser codebooks, same shape
    val df = Similarity.ivfPqOf(embeddings(spark, sf),
      k = 16, nprobe = 4, m = 4, ks = 8)
    val counts = df.groupBy("query_id").count().collect()
    assert(counts.length == 10 && counts.forall(_.getLong(1) == 5))
    assert(df.filter(col("rnk") < 1 || col("rnk") > 5).count() == 0)
  }

  test("ivfPqOf rejects m that does not divide dim") {
    intercept[IllegalArgumentException] {
      Similarity.ivfPqOf(embeddings(spark, sf), m = 7)
    }
  }

  test("ivfPqOf rejects memoized PQ codes at non-default m") {
    intercept[IllegalArgumentException] {
      Similarity.ivfPqOf(embeddings(spark, sf), m = 4,
        codesOpt = Some(Similarity.pqCodesRel(spark, sf)))
    }
  }

  test("semDedupOf is fanout-invariant (salted pair-gen, same result)") {
    val assigned = Similarity.e9Assigned(spark, sf)
    val plain = Similarity.semDedupOf(assigned, fanout = 1)
    val salted = Similarity.semDedupOf(assigned, fanout = 4)
    assert(plain.exceptAll(salted).count() == 0)
    assert(salted.exceptAll(plain).count() == 0)
  }

  test("semDedupK grows with the corpus, floors at the oracle default") {
    assert(Similarity.semDedupK(500) == 16)
    assert(Similarity.semDedupK(2000) == 16)
    assert(Similarity.semDedupK(1000000) == 1953)
  }

  test("e12 with shortlist >= corpus equals brute-force e1 (the binary " +
    "prefilter's recall endpoint); default shortlist keeps the shape") {
    // same contract as nprobe = k above: when the Hamming shortlist
    // admits every candidate, the exact rerank IS e1's scan — kernel,
    // tie order and all
    val open = Similarity.e12SignTopK(spark, sf, shortlist = 1000)
      .select("query_id", "cand_id", "rnk")
    val exact = Similarity.e1CosineTopK(spark, sf)
    assert(open.exceptAll(exact).count() == 0)
    assert(exact.exceptAll(open).count() == 0)
    val df = Similarity.e12SignTopK(spark, sf).cache()
    try {
      val counts = df.groupBy("query_id").count().collect()
      assert(counts.length == 10 && counts.forall(_.getLong(1) == 5))
      assert(df.filter(col("hamming") < 0 || col("hamming") > 64)
        .count() == 0)
    } finally df.unpersist()
  }

  test("z13: in-cluster pair space at k=64 tracks N^2/k, not N^2") {
    // the diag query the 20x stress runs; at test SF the property is
    // identical — quadrupling k must shrink the candidate-pair space
    // decisively (clusters are data-dependent, so assert a 2x floor
    // rather than the ideal 4x)
    val rows = Similarity.diag("z13_e9_k64")(spark, sf)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(rows(16) > 0 && rows(64) > 0)
    assert(rows(64) * 2 < rows(16),
      s"k=64 pair space ${rows(64)} not well under k=16 ${rows(16)}")
  }

  test("e13 knn graph: gapless rank contract, top-1 matches brute force") {
    val g = Similarity.e13KnnGraph(spark, sf).cache()
    try {
      val per = g.groupBy("vec_id").agg(count(lit(1)).as("n"),
        min("rnk").as("mn"), max("rnk").as("mx"))
      assert(per.filter(col("mn") =!= 1 || col("mx") =!= col("n") ||
        col("n") > 3).count() == 0)
      // brute force inside the same buckets: best cosine (ties → lower
      // neighbor id) must be exactly e13's rnk=1 row, for EVERY vector
      val bv = Similarity.e2Buckets(spark, sf)
        .join(embeddings(spark, sf), Seq("vec_id"))
      val pairs = bv.as("x").join(bv.as("y"),
          col("x.bucket") === col("y.bucket") &&
            col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("cand"),
          (vec_dot(col("x.embedding"), col("y.embedding")) /
            (vec_norm(col("x.embedding")) * vec_norm(col("y.embedding"))))
            .as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("c").desc, col("cand"))
      val top1 = pairs.withColumn("r", row_number().over(w))
        .filter(col("r") === 1).select(col("vec_id"), col("cand"))
      val e13top1 = g.filter(col("rnk") === 1)
        .select(col("vec_id"), col("neighbor_id"))
      assert(e13top1.count() == top1.count())
      assert(e13top1.join(top1, Seq("vec_id"))
        .filter(col("neighbor_id") =!= col("cand")).count() == 0)
    } finally g.unpersist()
  }

  test("e14 rerank with a wide-open candidate set equals brute-force " +
    "e1; default candidates give 5 exact-ordered rows per query") {
    // the retrieve-then-rerank recall endpoint: when stage 1 admits
    // every non-self vector, stage 2's exact rerank IS e1's scan
    val emb = embeddings(spark, sf)
    val allCands = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"))
      .crossJoin(emb.select(col("vec_id").as("cand_id")))
      .filter(col("query_id") =!= col("cand_id"))
    val open = Similarity.rerankOf(emb, allCands)
    val exact = Similarity.e1CosineTopK(spark, sf)
    assert(open.exceptAll(exact).count() == 0)
    assert(exact.exceptAll(open).count() == 0)
    // default path: 5 rows per query, all drawn from the PQ candidates
    val df = Similarity.e14Rerank(spark, sf).cache()
    try {
      val counts = df.groupBy("query_id").count().collect()
      assert(counts.length == 10 && counts.forall(_.getLong(1) == 5))
      val cands = Similarity.e14Candidates(spark, sf)
      assert(df.join(cands, Seq("query_id", "cand_id"), "left_anti")
        .count() == 0)
    } finally df.unpersist()
  }

  test("e15 recall eval: 10 rows per method, hits bounded by n, and " +
    "exact rerank dominates PQ-order recall per query") {
    val df = Similarity.e15RecallEval(spark, sf).cache()
    try {
      val perMethod = df.groupBy("method").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(perMethod == Map("e5_ivf" -> 10L, "e8_pq" -> 10L,
        "e14_rerank" -> 10L))
      assert(df.filter(col("hits") < 0 || col("hits") > col("n") ||
        col("n") =!= 5).count() == 0)
      // any ground-truth member inside the candidate set must surface
      // in the exact-order top-5 (≤4 others can beat it globally), so
      // rerank recall ≥ PQ recall, query by query
      val pq = df.filter(col("method") === "e8_pq")
        .select(col("query_id"), col("hits").as("pq_hits"))
      val rr = df.filter(col("method") === "e14_rerank")
        .select(col("query_id"), col("hits").as("rr_hits"))
      assert(pq.join(rr, Seq("query_id"))
        .filter(col("rr_hits") < col("pq_hits")).count() == 0)
    } finally df.unpersist()
  }

  test("e16 matryoshka at full width equals brute-force e1; truncated " +
    "stage keeps the 5-rows-per-query contract") {
    val emb = embeddings(spark, sf)
    // dims = full width ⇒ stage 1 IS e1's scan; top-20 ⊇ top-5 and the
    // full-dim rerank restores exactly e1's order
    val full = Similarity.matryoshkaOf(emb, dims = 64, cand = 20)
    val exact = Similarity.e1CosineTopK(spark, sf)
    assert(full.exceptAll(exact).count() == 0)
    assert(exact.exceptAll(full).count() == 0)
    val df = Similarity.e16Matryoshka(spark, sf)
    val counts = df.groupBy("query_id").count().collect()
    assert(counts.length == 10 && counts.forall(_.getLong(1) == 5))
  }

  test("e17 filtered ann: every neighbor satisfies the predicate, " +
    "5 rows per query, and the filter demonstrably changes e5") {
    val df = Similarity.e17FilteredAnn(spark, sf).cache()
    try {
      val counts = df.groupBy("query_id").count().collect()
      assert(counts.length == 10 && counts.forall(_.getLong(1) == 5))
      val labels = embeddings(spark, sf)
        .select(col("vec_id").as("cand_id"), col("label"))
      assert(df.join(labels, Seq("cand_id"))
        .filter(col("label") % 2 =!= 0).count() == 0)
      // the unfiltered e5 surfaces odd-label neighbors on this corpus,
      // so the predicate must be doing real work
      val e5odd = Similarity.e5IvfAnn(spark, sf).join(labels, Seq("cand_id"))
        .filter(col("label") % 2 =!= 0).count()
      assert(e5odd > 0, "corpus must have odd-label neighbors in e5")
    } finally df.unpersist()
  }

  test("z20: m6 pair space under 20x cloning follows the exact " +
    "closed form (clone cliques + squared base pairs, nothing else)") {
    val base = graft.operators.Multimodal.m6MediaNearDup(spark, sf)
      .cache()
    try {
      val basePairs = base.count()
      val baseH0 = base.filter(col("hamming") === 0).count()
      val docs = graft.Tables.documents(spark, sf).count()
      val z = Similarity.diag("z20_m6_20x")(spark, sf).first()
      assert(z.getAs[Long]("pairs") == basePairs * 400 + docs * 190,
        s"pairs ${z.getAs[Long]("pairs")} != ${basePairs * 400 + docs * 190}")
      assert(z.getAs[Long]("exact_pairs") == baseH0 * 400 + docs * 190)
    } finally base.unpersist()
  }

  test("m6 media near-dup: exact payload copies pair at hamming 0, " +
    "all pairs ordered and within the 12-bit radius") {
    val df = graft.operators.Multimodal.m6MediaNearDup(spark, sf).cache()
    try {
      assert(df.filter(col("doc_a") >= col("doc_b")).count() == 0)
      assert(df.filter(col("hamming") < 0 || col("hamming") > 12)
        .count() == 0)
      // identical payloads → identical simhash → the pair MUST surface
      // with hamming 0 (banding can't miss an exact signature match):
      // plant clones (doc_id + 1e9) and require every clone pair
      val m = graft.operators.Multimodal.media(spark, sf)
      val planted = m.unionByName(
        m.withColumn("doc_id", col("doc_id") + lit(1000000000L)))
      val pairs = graft.operators.TextOps.bandedHammingPairs(
        graft.operators.Multimodal.m6SigsOf(planted))
      val nDocs = m.count()
      val clonePairs = pairs.filter(col("hamming") === 0 &&
        col("doc_b") === col("doc_a") + 1000000000L)
      assert(clonePairs.count() == nDocs,
        s"every planted clone must pair at hamming 0 ($nDocs docs)")
    } finally df.unpersist()
  }
}
