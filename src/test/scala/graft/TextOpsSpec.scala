package graft

import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextOps}

class TextOpsSpec extends SparkSuite {

  test("t1 exact dedup: keep_id is a real doc, copies sum to corpus size") {
    val df = TextOps.t1ExactDedup(spark, sf)
    val total = df.agg(sum("copies")).first().getLong(0)
    assert(total == Tables.documents(spark, sf).count())
  }

  test("t2 token stats: token counts positive, density sane") {
    val bad = TextOps.t2TokenStats(spark, sf)
      .filter(col("n_tokens") <= 0 || col("avg_token_len") <= 0)
    assert(bad.count() == 0)
  }

  test("t3 quality ratios within [0,1]") {
    val bad = TextOps.t3QualityScore(spark, sf).filter(
      col("stopword_ratio") < 0 || col("stopword_ratio") > 1 ||
        col("punct_ratio") < 0 || col("punct_ratio") > 1)
    assert(bad.count() == 0)
  }

  test("t4 lang id emits a label for every doc") {
    val df = TextOps.t4LangId(spark, sf)
    assert(df.filter(col("pred_lang").isNull).count() == 0)
    assert(df.count() == Tables.documents(spark, sf).count())
  }

  test("t6 jaccard pairs are symmetric-safe (a<b) and within (0,1]") {
    val df = TextOps.t6NgramJaccard(spark, sf)
    assert(df.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(df.filter(col("jaccard") > 1 || col("jaccard") < 0.5)
      .count() == 0)
  }

  test("t7 minhash-lsh candidates are a subset of exact jaccard pairs") {
    val exact = TextOps.t6NgramJaccard(spark, sf).select("doc_a", "doc_b")
    val lsh = TextOps.t7MinHashLsh(spark, sf).select("doc_a", "doc_b")
    assert(lsh.except(exact).count() == 0)
  }

  test("t8 simhash pairs respect the hamming bound") {
    val df = TextOps.t8SimHash(spark, sf)
    assert(df.filter(col("hamming") > 12).count() == 0)
  }

  test("t14 decontamination: eval docs never flag themselves, and a " +
    "planted clone is caught") {
    val df = TextOps.t14Decontaminate(spark, sf).cache()
    assert(df.filter(col("doc_id") < 10).count() == 0)
    assert(df.filter(col("eval_id") >= 10).count() == 0)
    assert(df.filter(col("n_shared") < 3).count() == 0)
    // the corpus has genuine overlap (shared shingles drive t6/t7) —
    // the scrub must find at least one contaminated pair at this sf
    assert(df.count() > 0)
    df.unpersist()
  }

  test("t23 fuzzy decontamination: cross-set subset of t7, catches the " +
    "known contaminated pair") {
    val df = TextOps.t23FuzzyDecontaminate(spark, sf).cache()
    // every flagged pair is a verified near-dup pair crossing the sets
    assert(df.filter(col("eval_id") >= 10).count() == 0)
    assert(df.filter(col("doc_id") < 10).count() == 0)
    val t7 = TextOps.t7MinHashLsh(spark, sf)
      .select(col("doc_a").as("eval_id"), col("doc_b").as("doc_id"))
    assert(df.select("eval_id", "doc_id").except(t7).count() == 0)
    // this corpus has genuine paraphrase-level contamination — at least
    // one eval×corpus near-dup must surface (vacuity guard)
    assert(df.count() > 0)
    df.unpersist()
  }

  test("t15 pii scrub: planted emails/phones counted and redacted") {
    val df = TextOps.t15PiiScrub(spark, sf).cache()
    assert(df.filter(col("doc_id") % 7 === 0 && col("n_emails") < 1)
      .count() == 0)
    assert(df.filter(col("doc_id") % 11 === 0 && col("n_phones") < 1)
      .count() == 0)
    // nothing PII-shaped survives the scrub
    assert(df.filter(col("scrubbed").rlike(
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")).count() == 0)
    assert(df.filter(col("scrubbed").rlike("\\+1-555-[0-9]{4}"))
      .count() == 0)
    assert(df.filter(col("doc_id") % 7 === 0 &&
      !col("scrubbed").contains("<EMAIL>")).count() == 0)
    df.unpersist()
  }

  test("t16 repetition: fractions in [0,1], degenerate docs score high") {
    import spark.implicits._
    val df = TextOps.t16Repetition(spark, sf)
    assert(df.filter(col("dup_trigram_frac") < 0 ||
      col("dup_trigram_frac") > 1).count() == 0)
    assert(df.filter(col("top_token_ratio") <= 0 ||
      col("top_token_ratio") > 1).count() == 0)
    // a synthetic all-same-token doc pins both signals at the ceiling:
    // 6 tokens -> 4 trigrams, 1 distinct -> dup_frac 0.75; top ratio 1.0
    val one = Seq((999999L, "spam spam spam spam spam spam"))
      .toDF("doc_id", "text")
    val deg = TextOps.repetitionOf(one).collect()(0)
    assert(deg.getAs[Double]("dup_trigram_frac") == 0.75)
    assert(deg.getAs[Double]("top_token_ratio") == 1.0)
  }

  test("t17 components: transitive chains merge, singletons self-label") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    // chain 1-2-3 has NO direct 1~3 pair — one-hop resolution (t10)
    // would leave 3 labeled 2; the closure must pull it to 1
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = TextOps.componentsOf(docs, pairs, Seq("TextOpsSpec.chain"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
    // and on the real corpus: labels are canonical (comp <= doc_id,
    // and every comp is itself labeled comp — a valid forest root)
    // t17's output is session-memoized and already cached — do NOT
    // cache/unpersist it here (unpersisting would evict the memo's
    // entry and flip the committed plan signature mid-suite)
    val real = TextOps.t17DupComponents(spark, sf)
    assert(real.filter(col("comp") > col("doc_id")).count() == 0)
    val roots = real.select(col("comp").as("doc_id")).distinct()
    val bad = roots.join(real, Seq("doc_id"))
      .filter(col("comp") =!= col("doc_id")).count()
    assert(bad == 0)
  }

  test("t17 components: a chain deeper than the cap fails LOUDLY, and " +
    "converges (through a lineage checkpoint) when the cap covers it") {
    import spark.implicits._
    // a 200-node path graph: diameter 199. With path halving each
    // round's label reach roughly doubles (hop + comp-of-comp), so 5
    // rounds cover ~2^5-scale distance — far short of 199 — and the
    // loop must fail LOUDLY at the cap
    val n = 200
    val docs = (0L until n.toLong).toDF("doc_id")
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1))
      .toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      TextOps.componentsOf(docs, pairs, Seq("TextOpsSpec.path"),
        maxIters = 5).count()
    }
    assert(e.getMessage.contains("not at fixpoint"))
    // with the cap above the diameter the whole chain collapses to 0
    // (and the loop crosses the every-5-rounds localCheckpoint path)
    val got = TextOps.componentsOf(docs, pairs, Seq("TextOpsSpec.path"),
      maxIters = 40)
    assert(got.filter(col("comp") =!= 0L).count() == 0)
  }

  test("t18 segment dedup: exact-duplicate docs have every segment " +
    "duplicated, unique-segment docs have none") {
    val df = TextOps.t18SegmentDedup(spark, sf).cache()
    assert(df.count() == Tables.documents(spark, sf).count())
    assert(df.filter(col("n_dup_segs") > col("n_segs")).count() == 0)
    // any doc that is a full-content clone of another must have ALL of
    // its segments flagged as cross-doc duplicates
    val clones = TextOps.t1ExactDedup(spark, sf)
      .filter(col("copies") >= 2).select(col("keep_id").as("doc_id"))
    val miss = df.join(clones, Seq("doc_id"))
      .filter(col("n_dup_segs") =!= col("n_segs")).count()
    assert(miss == 0)
    df.unpersist()
  }

  test("t49 incremental dedup: exact under a deliberately tiny bloom " +
    "(FP-heavy) and under the production size — the scrub is total") {
    // reference result: the pure exact semi-join, no bloom anywhere
    val segs = TextOps.tenTokenSegsOf(Tables.documents(spark, sf))
    val prior = segs.filter(col("doc_id") % 3 === 0)
      .select("seg_hash").distinct()
    val incoming = segs.filter(col("doc_id") % 3 =!= 0)
    val exact = incoming.join(prior, Seq("seg_hash"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_prior_dup_segs"))
    // production-size bloom
    val big = TextOps.t49IncrementalDedup(spark, sf)
    assert(big.count() ==
      incoming.select("doc_id").distinct().count())
    assert(big.filter(col("is_contaminated"))
      .select("doc_id", "n_prior_dup_segs")
      .except(exact.filter(col("n_prior_dup_segs") > 0)
        .select("doc_id", "n_prior_dup_segs")).count() == 0)
    // 1024-bit bloom: almost every probe is a false positive, so the
    // prefilter prunes nothing — but the confirm join must keep the
    // output bit-identical (exactness never depends on filter size)
    val tiny = TextOps.t49IncrementalDedup(spark, sf,
      items = 16, bits = 1024)
    assert(tiny.except(big).count() == 0 &&
      big.except(tiny).count() == 0)
    // sanity: contamination exists in this corpus (the test is live)
    assert(big.filter(col("is_contaminated")).count() > 0)
  }

  test("t19 tfidf: top-3 per doc, ranks dense, scores ordered") {
    val df = TextOps.t19Tfidf(spark, sf).cache()
    val perDoc = df.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), min("rnk").as("lo"), max("rnk").as("hi"))
    assert(perDoc.filter(col("n") > 3 || col("lo") =!= 1 ||
      col("hi") =!= col("n")).count() == 0)
    // rank order agrees with score order within each doc
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("rnk"))
    val disordered = df
      .withColumn("prev", lag(col("score"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") < col("score"))
    assert(disordered.count() == 0)
    assert(df.filter(col("score") <= 0).count() == 0)
    df.unpersist()
  }

  test("t20 stratified sample: buckets under the per-lang rate, " +
    "en downsampled below the rest") {
    val df = TextOps.t20StratifiedSample(spark, sf).cache()
    assert(df.filter(col("lang") === "en" && col("bucket") >= 100)
      .count() == 0)
    assert(df.filter(col("lang") === "zh" && col("bucket") >= 300)
      .count() == 0)
    assert(df.filter(col("bucket") >= 500).count() == 0)
    val total = Tables.documents(spark, sf)
      .groupBy("lang").count().withColumnRenamed("count", "n_all")
    val kept = df.groupBy("lang").count().withColumnRenamed("count", "n_kept")
    val frac = kept.join(total, Seq("lang"))
      .select(col("lang"),
        (col("n_kept").cast("double") / col("n_all")).as("f"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // binomial noise at this sf is wide; assert the ordering + coarse bands
    assert(frac("en") < 0.25)
    assert(frac("en") < frac("de") && frac("en") < frac("fr"))
    df.unpersist()
  }

  test("t21 unigram logprob: scores negative, model is a distribution") {
    val df = TextOps.t21UnigramLogprob(spark, sf).cache()
    assert(df.count() == Tables.documents(spark, sf).count())
    assert(df.filter(col("mean_logp") >= 0).count() == 0)
    // the model's probabilities sum to 1 (within decimal quantization):
    // sum(exp(logp)) over the vocab
    val mass = TextOps.t21Model(spark, sf)
      .agg(sum(exp(col("logp").cast("double")))).first().getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-6, s"model mass $mass")
    df.unpersist()
  }

  test("t35 perplexity tiers: exact terciles, matches a global sort") {
    val df = TextOps.t35PerplexityTiers(spark, sf).cache()
    val n = df.count()
    assert(n == Tables.documents(spark, sf).count())
    val byTier = df.groupBy("tier").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTier("head") == n / 3, s"head=${byTier("head")} n=$n")
    assert(byTier("middle") == 2 * n / 3 - n / 3)
    assert(byTier("tail") == n - 2 * n / 3)
    // the histogram two-pass cut must agree with a brute-force global
    // rank on every row, not just on the counts
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("mean_logp").desc, col("doc_id"))
    val brute = TextOps.t21UnigramLogprob(spark, sf)
      .select(col("doc_id"), col("mean_logp"))
      .withColumn("rk", row_number().over(w))
      .withColumn("expected",
        when(col("rk") <= lit(n / 3), "head")
          .when(col("rk") <= lit(2 * n / 3), "middle")
          .otherwise("tail"))
    assert(df.join(brute, Seq("doc_id"))
      .filter(col("tier") =!= col("expected")).count() == 0)
    df.unpersist()
  }

  test("t36 dup spans: interval union equals brute-force distinct positions") {
    val df = TextOps.t36DupSpans(spark, sf).cache()
    assert(df.count() == Tables.documents(spark, sf).count())
    assert(df.filter(col("covered_tokens") > col("n_tokens")).count() == 0)
    assert(df.filter(col("covered_tokens") > 0).count() > 0,
      "corpus must contain cross-doc duplicated spans")
    // independent algorithm: explode every dup window to its 8 token
    // positions, count distinct positions per doc — must equal the
    // running-max interval-union mass exactly
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
    val wins = toks.select(col("doc_id"), explode(expr(
        """CASE WHEN size(toks) >= 8 THEN
          |  transform(sequence(1, size(toks) - 7),
          |    p -> named_struct('p', p,
          |      'h', xxhash64(concat_ws(' ', slice(toks, p, 8)))))
          |ELSE CAST(array() AS ARRAY<STRUCT<p: INT, h: BIGINT>>)
          |END""".stripMargin)).as("w"))
      .select(col("doc_id"), col("w.p").as("p"), col("w.h").as("h"))
    val dup = wins.join(
      wins.groupBy("h").agg(count_distinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select("h"), Seq("h"))
    val brute = dup
      .select(col("doc_id"), explode(expr("sequence(p, p + 7)")).as("pos"))
      .groupBy("doc_id").agg(count_distinct(col("pos")).as("expected"))
    assert(df.join(brute, Seq("doc_id"))
      .filter(col("covered_tokens") =!= col("expected")).count() == 0)
    df.unpersist()
  }

  test("z19 dup-span stress: clone corpus is fully covered (closed form)") {
    // 20 replicas make every window cross-doc duplicated, so the
    // interval union must equal n_tokens on every >=8-token doc —
    // the stress aggregate has a closed form computable from the base
    val base = Tables.documents(spark, sf)
      .select(split(trim(col("text")), "\\s+").as("t"))
      .select(size(col("t")).as("n"))
      .agg(count(lit(1)).as("docs"),
        sum(when(col("n") >= 8, col("n")).otherwise(0L)).as("cov"),
        sum(col("n")).as("tok"),
        sum(when(col("n") >= 8, 1L).otherwise(0L)).as("full"))
      .first()
    val z = TextOps.diag("z19_t36_20x")(spark, sf).first()
    assert(z.getAs[Long]("docs") == 20L * base.getAs[Long]("docs"))
    assert(z.getAs[Long]("covered") == 20L * base.getAs[Long]("cov"))
    assert(z.getAs[Long]("tokens") == 20L * base.getAs[Long]("tok"))
    assert(z.getAs[Long]("fully_covered") == 20L * base.getAs[Long]("full"))
  }

  test("t37 boilerplate strip: token mass conserved, clean docs untouched") {
    val df = TextOps.t37BoilerplateStrip(spark, sf).cache()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
    assert(df.count() == docs.count())
    assert(df.filter(col("n_removed_segs") > 0).count() > 0,
      "corpus must contain >=3-doc boilerplate segments")
    // kept tokens + removed-segment tokens == original tokens: every
    // removed segment has 10 tokens except a possibly-short final one,
    // so bound from both sides instead of recomputing segment lengths
    val j = df.join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("n_removed_segs"), col("clean_text"),
        size(split(col("clean_text"), "\\s+")).as("n_clean"),
        size(col("toks")).as("n_orig"))
      .withColumn("removed", col("n_orig") -
        when(col("clean_text") === "", 0).otherwise(col("n_clean")))
    assert(j.filter(col("n_removed_segs") === 0 &&
      col("removed") =!= 0).count() == 0)
    assert(j.filter(col("n_removed_segs") > 0 &&
      (col("removed") > col("n_removed_segs") * 10 ||
        col("removed") < (col("n_removed_segs") - 1) * 10 + 1))
      .count() == 0)
    // untouched docs reconstruct verbatim (modulo whitespace collapse)
    val clean0 = df.filter(col("n_removed_segs") === 0)
      .join(docs, Seq("doc_id"))
      .filter(split(col("clean_text"), "\\s+") =!= col("toks"))
    assert(clean0.count() == 0)
    df.unpersist()
  }

  test("t38 upsample: epochs in [1,4], head lang stays at 1 epoch") {
    val df = TextOps.t38Upsample(spark, sf).cache()
    val perLang = df.groupBy("lang")
      .agg(count_distinct(col("epoch")).as("epochs"),
        count_distinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("rows"))
    assert(perLang.filter(col("epochs") < 1 || col("epochs") > 4)
      .count() == 0)
    // every (doc, epoch) emitted exactly once, rows = docs x epochs
    assert(df.count() == df.select("doc_id", "epoch").distinct().count())
    assert(perLang.filter(col("rows") =!= col("n_docs") * col("epochs"))
      .count() == 0)
    // the largest language needs no upsampling; low-resource langs do
    val byN = perLang.orderBy(col("n_docs").desc).collect()
    assert(byN.head.getAs[Long]("epochs") == 1L)
    assert(byN.exists(_.getAs[Long]("epochs") > 1L),
      "mix must actually upsample at least one language")
    df.unpersist()
  }

  test("t22 gopher gate: discriminates, booleans consistent, shuffle-free") {
    val df = TextOps.t22GopherFilter(spark, sf).cache()
    assert(df.count() == Tables.documents(spark, sf).count())
    // both keep classes present, else the gate is vacuous on this corpus
    assert(df.filter(col("keep")).count() > 0)
    assert(df.filter(!col("keep")).count() > 0)
    // keep agrees with the emitted signals it claims to summarize
    val bad = df.filter(col("keep") =!= (
      col("n_words") >= 50 && col("n_words") <= 100000 &&
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
        col("symbol_ratio") <= 0.1 && col("alpha_word_frac") >= 0.8 &&
        col("n_stopwords") >= 2))
    assert(bad.count() == 0)
    df.unpersist()
    // first-pass economics: the whole gate is one stage, no Exchange.
    // Walk the physical NODES (not the string rendering, which inlines
    // the session-pinned spread backbone's one-time build plan — that
    // shared exchange is not per-query work): the query itself must
    // add no shuffle above its scan leaf.
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: p.children.flatMap(nodes)
    val qn = nodes(
      TextOps.t22GopherFilter(spark, sf).queryExecution.sparkPlan)
    assert(!qn.exists(_.nodeName.contains("Exchange")),
      s"t22 must be shuffle-free: ${qn.map(_.nodeName).distinct}")
  }

  test("e9 semdedup: kept set pairwise-clean per cluster, drops justified") {
    import graft.functions.VectorExprs.{vec_dot, vec_norm}
    def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      vec_dot(a, b) / (vec_norm(a) * vec_norm(b))
    val kept = Similarity.e9SemDedup(spark, sf).cache()
    val emb = Tables.embeddings(spark, sf)
    assert(kept.count() > 0 && kept.count() < emb.count(),
      "semdedup must actually drop something on this corpus")
    val withVec = kept.join(emb, Seq("vec_id"))
    // no two KEPT vectors in one cluster are near-duplicates
    val dirty = withVec.as("x")
      .join(withVec.as("y"),
        col("x.centroid_id") === col("y.centroid_id") &&
          col("x.vec_id") < col("y.vec_id"))
      .filter(cos(col("x.embedding"), col("y.embedding")) >= 0.4)
    assert(dirty.count() == 0)
    // every dropped vector has a smaller-id near-dup in its cluster
    val losers = emb.select("vec_id")
      .join(kept.select("vec_id"), Seq("vec_id"), "left_anti")
    val all = Similarity.e9Assigned(spark, sf)
    val justified = losers.join(all.as("y"), Seq("vec_id"))
      .join(all.as("x"),
        col("x.centroid_id") === col("y.centroid_id") &&
          col("x.vec_id") < col("y.vec_id"))
      .filter(cos(col("x.embedding"), col("y.embedding")) >= 0.4)
      .select(col("y.vec_id")).distinct()
    assert(justified.count() == losers.count())
    kept.unpersist()
  }

  test("e1 cosine topk: 5 neighbors per query, no self-match") {
    val df = Similarity.e1CosineTopK(spark, sf)
    val counts = df.groupBy("query_id").count().collect()
    assert(counts.forall(_.getLong(1) == 5))
    assert(df.filter(col("query_id") === col("cand_id")).count() == 0)
  }

  test("e2 lsh ann returns plausible pairs (subset check vs exact)") {
    val lsh = Similarity.e2LshAnn(spark, sf)
    assert(lsh.filter(col("vec_a") >= col("vec_b")).count() == 0)
  }

  test("e6 trained-IVF: 5 ranked neighbors per query, model has k rows") {
    val model = Similarity.kmeansCentroids(spark, sf, k = 8, iters = 2)
    assert(model.length == 8 && model.forall(_.length == 64))
    val df = Similarity.e6IvfKmeans(spark, sf)
    val counts = df.groupBy("query_id").count().collect()
    assert(counts.length == 10 && counts.forall(_.getLong(1) == 5))
  }

  test("e8 ivf-pq: ranked neighbors per query, ADC agrees with exact " +
    "L2 ordering well above chance") {
    import org.apache.spark.sql.functions.{broadcast, row_number}
    import org.apache.spark.sql.expressions.Window
    val df = Similarity.e8IvfPqAnn(spark, sf).cache()
    val counts = df.groupBy("query_id").count().collect()
    assert(counts.length == 10 && counts.forall(_.getLong(1) == 5))
    assert(df.filter(col("query_id") === col("cand_id")).count() == 0)
    // recall floor vs EXACT squared-L2 top-5 over the full corpus: at
    // this 50-vector sf the probe misses dominate (4 of 16 lists ≈ a
    // dozen candidates per query), so the floor is modest — but chance
    // overlap is only ~6/50, so ≥10 still proves ADC ranks signal
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val exact = emb
      .select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
      .join(broadcast(q), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (graft.functions.VectorExprs.vec_dot(col("qv"), col("qv")) +
          graft.functions.VectorExprs.vec_dot(col("cv"), col("cv")) -
          lit(2.0) * graft.functions.VectorExprs.vec_dot(col("qv"),
            col("cv"))).as("d2"))
      .withColumn("rnk", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("d2").asc, col("cand_id"))))
      .filter(col("rnk") <= 5)
      .select("query_id", "cand_id")
    val hits = df.select("query_id", "cand_id")
      .intersect(exact).count()
    assert(hits >= 10, s"ADC recall vs exact L2 top-5: $hits/50")
    df.unpersist()
  }

  test("e11 sq8: 5 ranked neighbors per query, int8 quantization " +
    "preserves most of the exact top-5") {
    val df = Similarity.e11Sq8TopK(spark, sf).cache()
    try {
      val perQ = df.groupBy("query_id").count()
        .filter(col("count") =!= 5)
      assert(perQ.count() == 0)
      // SQ8 is lossy but int8 on 32-dim vectors is near-faithful: the
      // quantized top-5 should recover most of e1's exact float top-5
      // (wide floor — this guards gross rank inversions, not noise)
      val exact = Similarity.e1CosineTopK(spark, sf)
        .select("query_id", "cand_id")
      val hits = df.select("query_id", "cand_id").intersect(exact).count()
      assert(hits >= 30, s"SQ8 recall vs exact top-5: $hits/50")
    } finally df.unpersist()
  }

  test("e4 label centroid covers every label") {
    val df = Similarity.e4LabelCentroidDist(spark, sf)
    val labels = Tables.embeddings(spark, sf).select("label").distinct()
    assert(df.count() == labels.count())
  }

  test("t32 containment: dominates jaccard on shared pairs, gate " +
    "honored, exact-dup pairs score 1.0") {
    val df = TextOps.t32Containment(spark, sf).cache()
    try {
      assert(df.filter(col("containment") < 0.8 ||
        col("containment") > 1.0).count() == 0)
      // containment = inter/min >= inter/union = jaccard, so every t6
      // pair at jaccard >= 0.8 must reappear here
      val highJ = TextOps.t6NgramJaccard(spark, sf)
        .filter(col("jaccard") >= 0.8).select("doc_a", "doc_b")
      val missing = highJ.join(df.select("doc_a", "doc_b"),
        Seq("doc_a", "doc_b"), "left_anti")
      assert(missing.count() == 0)
      // exact content duplicates contain each other completely
      val dupPair = TextOps.t1ExactDedup(spark, sf)
        .filter(col("copies") >= 2).limit(1)
      if (dupPair.count() == 1)
        assert(df.filter(col("containment") === 1.0).count() > 0)
    } finally df.unpersist()
  }

  test("t33 prefix-filtered containment equals the naive t32 " +
    "definition row-for-row") {
    // the whole point of t33: an optimized candidate-pruned algorithm
    // whose OUTPUT is provably identical to the all-pairs definition
    val naive = TextOps.t32Containment(spark, sf)
      .select("doc_a", "doc_b", "inter", "n_small").cache()
    val pruned = TextOps.t33PrefixContainment(spark, sf)
      .select("doc_a", "doc_b", "inter", "n_small").cache()
    try {
      assert(naive.count() > 0, "t32 emitted no pairs — corpus drift")
      assert(naive.exceptAll(pruned).count() == 0,
        "prefix filter DROPPED qualifying pairs (completeness broken)")
      assert(pruned.exceptAll(naive).count() == 0,
        "prefix filter ADDED pairs (verify gate broken)")
    } finally { naive.unpersist(); pruned.unpersist() }
  }

  test("t34 winnowing: pairs share >= 2 fingerprints, and fingerprint " +
    "overlap never exceeds true shingle overlap") {
    val df = TextOps.t34Winnowing(spark, sf).cache()
    try {
      assert(df.count() > 0, "t34 emitted no pairs — corpus drift")
      assert(df.filter(col("n_shared") < 2 ||
        col("doc_a") >= col("doc_b")).count() == 0)
      // winnowed fingerprints are a SUBSET of a doc's shingle hashes,
      // so a pair can never share more fingerprints than it shares
      // distinct shingles (same 48-bit-md5 hash, recomputed here)
      val sh = Tables.documents(spark, sf)
        .select(col("doc_id"),
          split(trim(col("text")), "\\s+").as("toks"))
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(toks) >= 3 THEN
            |  array_distinct(transform(sequence(0, size(toks) - 3),
            |    i -> CAST(conv(substring(md5(concat_ws(' ', toks[i],
            |      toks[i + 1], toks[i + 2])), 1, 12), 16, 10)
            |      AS BIGINT)))
            |ELSE array() END""".stripMargin)).as("h"))
      val shared = sh.as("a")
        .join(sh.as("b"), col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"),
          col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shingles"))
      val viol = df.join(shared, Seq("doc_a", "doc_b"), "left_outer")
        .filter(col("n_shingles").isNull ||
          col("n_shared") > col("n_shingles"))
      assert(viol.count() == 0,
        "a pair shares more fingerprints than shingles")
    } finally df.unpersist()
  }

  test("t31 domain mix: kept sizes rebalance toward the smallest " +
    "source, keep flag matches the integer cross-multiplication") {
    val df = TextOps.t31DomainMix(spark, sf).cache()
    try {
      val counts = df.groupBy("source").agg(
        count(lit(1)).as("n_src"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
      val nMin = counts.agg(min("n_src")).first().getLong(0)
      // hash-rate sampling lands each source near n_min (deterministic
      // for a fixed corpus; band covers regeneration at ~3 sigma)
      val band = math.max(12L, nMin)
      val off = counts.filter(
        col("kept") > nMin + band || col("kept") < nMin - band)
      assert(off.count() == 0,
        s"sources outside n_min=$nMin ± $band: ${off.count()}")
      // wiring: keep is exactly the integer predicate
      val bad = df.join(counts.select("source", "n_src"), "source")
        .filter(col("keep") =!=
          (col("bucket").cast("long") * col("n_src") < nMin * 1000000L))
      assert(bad.count() == 0)
    } finally df.unpersist()
  }

  test("t39 bpe merge: learns the t30 argmax, fully consumes the pair, " +
    "and a second iteration learns a different pair") {
    val docs = Tables.documents(spark, sf)
    val one = TextOps.bpeMergeOf(docs, merges = 1,
      topK = Int.MaxValue).cache()
    try {
      val learned = one.select("last_merge").first().getString(0)
      val top = TextOps.t30BigramVocab(spark, sf, topK = 1)
        .first().getString(0)
      assert(learned == top, s"merge $learned != t30 argmax $top")
      // greedy replace consumes every (a,b) adjacency — the learned
      // pair must not survive in the post-merge counts
      assert(one.filter(col("bigram") === learned).count() == 0)
      // the merged supertoken appears in post-merge bigrams
      val merged = learned.replace(' ', '_')
      assert(one.filter(col("bigram").contains(merged)).count() > 0)
      val two = TextOps.bpeMergeOf(docs, merges = 2)
        .select("last_merge").first().getString(0)
      assert(two != learned, "second merge must learn a new pair")
    } finally one.unpersist()
  }

  test("t40 fasttext score: bounded by ±1000/token, keep wired to sign") {
    val df = TextOps.t40FasttextScore(spark, sf).cache()
    try {
      assert(df.count() == Tables.documents(spark, sf).count())
      assert(df.filter(abs(col("score_sum")) >
        col("n_tokens").cast("long") * 1000L).count() == 0)
      assert(df.filter(col("keep") =!= (col("score_sum") > 0L))
        .count() == 0)
      // both classes occur (hash weights are ~uniform in [-1000,1000])
      assert(df.filter(col("keep")).count() > 0)
      assert(df.filter(!col("keep")).count() > 0)
    } finally df.unpersist()
  }

  test("t41 dsir: target counts bounded by raw, both classes occur, " +
    "covers exactly the multi-token docs") {
    val df = TextOps.t41Dsir(spark, sf).cache()
    try {
      // per-feature cnt_t <= cnt_r summed over a doc preserves order
      assert(df.filter(col("score_num") > col("score_den")).count() == 0)
      assert(df.filter(col("score_den") <= 0).count() == 0)
      val multi = Tables.documents(spark, sf)
        .filter(size(split(trim(lower(col("text"))), "\\s+")) >= 2)
        .count()
      assert(df.count() == multi)
      assert(df.filter(col("keep")).count() > 0)
      assert(df.filter(!col("keep")).count() > 0)
    } finally df.unpersist()
  }

  test("t43 line dedup: planted repeats removed, first occurrence kept, " +
    "clean corpus untouched") {
    import spark.implicits._
    // 10-token segments A B A C: the second A must drop
    val segA = (1 to 10).map(i => s"a$i").mkString(" ")
    val segB = (1 to 10).map(i => s"b$i").mkString(" ")
    val segC = (1 to 10).map(i => s"c$i").mkString(" ")
    val planted = Seq(
      (1L, s"$segA $segB $segA $segC"),   // dup at segment 3
      (2L, s"$segB $segC"),               // no dups
      (3L, s"$segA $segA $segA")          // two dups of A
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.lineDedupOf(planted)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Int]("n_segs") == 4)
    assert(out(1L).getAs[Int]("n_dup_segs") == 1)
    assert(out(1L).getAs[String]("clean_text") == s"$segA $segB $segC")
    assert(out(2L).getAs[Int]("n_dup_segs") == 0)
    assert(out(2L).getAs[String]("clean_text") == s"$segB $segC")
    assert(out(3L).getAs[Int]("n_dup_segs") == 2)
    assert(out(3L).getAs[String]("clean_text") == segA)
    // the real corpus has no intra-doc repeats (checked): the pass must
    // be a verbatim no-op on every doc — the do-no-harm contract
    val df = graft.operators.TextOps.t43LineDedup(spark, sf).cache()
    try {
      assert(df.count() == Tables.documents(spark, sf).count())
      assert(df.filter(col("n_dup_segs") =!= 0).count() == 0)
      val mismatch = df.join(Tables.documents(spark, sf), Seq("doc_id"))
        .filter(split(col("clean_text"), "\\s+") =!=
          split(trim(col("text")), "\\s+"))
      assert(mismatch.count() == 0)
    } finally df.unpersist()
  }

  test("t46 exactsubstr rewrite: duplicated spans removed everywhere " +
    "but their global first occurrence, mass reconciles with t36") {
    val df = TextOps.t46ExactsubstrRewrite(spark, sf).cache()
    val t36 = TextOps.t36DupSpans(spark, sf).cache()
    try {
      assert(df.count() == Tables.documents(spark, sf).count())
      assert(df.filter(col("n_removed") < 0 ||
        col("n_removed") > col("n_tokens")).count() == 0)
      // kept + removed == original, and the rewritten text really has
      // n_tokens - n_removed tokens
      val bad = df.filter(col("n_removed") < col("n_tokens") &&
        size(split(col("clean_text"), "\\s+")) =!=
          col("n_tokens") - col("n_removed"))
      assert(bad.count() == 0)
      // planted corpus: A-span duplicated across docs 1/2 and WITHIN
      // doc 3 — the global first (doc 1, p 1) survives, every other
      // occurrence is cut, including the intra-doc repeat
      import spark.implicits._
      val span = (1 to 8).map(i => s"w$i").mkString(" ")
      val planted = Seq(
        (1L, s"$span tail1 tail2"),
        (2L, s"lead1 $span"),
        (3L, s"$span mid $span")
      ).toDF("doc_id", "text")
      val p = TextOps.exactsubstrRewriteOf(planted)
        .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(p(1L).getAs[Int]("n_removed") == 0)
      assert(p(1L).getAs[String]("clean_text") == s"$span tail1 tail2")
      assert(p(2L).getAs[Int]("n_removed") == 8)
      assert(p(2L).getAs[String]("clean_text") == "lead1")
      assert(p(3L).getAs[Int]("n_removed") == 16)
      assert(p(3L).getAs[String]("clean_text") == "mid")
      // removal is real somewhere (the corpus has cross-doc dup spans)
      assert(df.agg(sum("n_removed")).first().getLong(0) > 0)
      // global firsts survive: total removed strictly less than total
      // duplicated-window mass ⇒ at least one occurrence kept per span
      val removed = df.agg(sum("n_removed")).first().getLong(0)
      val covered = t36.agg(sum("covered_tokens")).first().getLong(0)
      assert(removed < covered || covered == 0,
        s"removed $removed must keep first occurrences (t36 cov $covered)")
    } finally { df.unpersist(); t36.unpersist() }
  }

  test("z21 exactsubstr stress: clone corpus removal follows the " +
    "closed form (base removals + 19 full cuts of every >=8-token doc)") {
    val base = TextOps.t46ExactsubstrRewrite(spark, sf).cache()
    try {
      val baseRemoved = base.agg(sum("n_removed")).first().getLong(0)
      val bigTokens = base.filter(col("n_tokens") >= 8)
        .agg(sum("n_tokens")).first().getLong(0)
      val nBig = base.filter(col("n_tokens") >= 8).count()
      val nDocs = base.count()
      val z = TextOps.diag("z21_t46_20x")(spark, sf).first()
      assert(z.getAs[Long]("docs") == 20L * nDocs)
      assert(z.getAs[Long]("removed") == baseRemoved + 19L * bigTokens,
        s"removed ${z.getAs[Long]("removed")} != " +
          s"${baseRemoved + 19L * bigTokens}")
      // every non-first >=8-token clone is cut entirely; base fully-
      // removed docs (if any) stay fully removed in the i=0 replica
      val baseFull = base
        .filter(col("n_removed") === col("n_tokens")).count()
      assert(z.getAs[Long]("fully_removed") == 19L * nBig + baseFull)
    } finally base.unpersist()
  }

  test("t44 vocab coverage: token mass conserved, oov bounded, vocab " +
    "members are never oov") {
    val df = TextOps.t44VocabCoverage(spark, sf).cache()
    try {
      assert(df.count() == Tables.documents(spark, sf).count())
      assert(df.filter(col("n_oov") < 0 ||
        col("n_oov") > col("n_tokens")).count() == 0)
      val mass = df.agg(sum("n_tokens")).first().getLong(0)
      val expect = Tables.documents(spark, sf)
        .agg(sum(size(split(trim(lower(col("text"))), "\\s+"))))
        .first().getLong(0)
      assert(mass == expect)
      // corpus has more distinct tokens than the vocab cut → some doc
      // must carry OOV tokens (guards the join wiring end-to-end)
      val distinctToks = Tables.documents(spark, sf)
        .select(explode(split(trim(lower(col("text"))), "\\s+"))
          .as("tok")).distinct().count()
      if (distinctToks > 1000)
        assert(df.agg(sum("n_oov")).first().getLong(0) > 0)
    } finally df.unpersist()
  }

  test("t45 batch padding: per-shard doc mass conserved, batches " +
    "bounded at 16, sorted strategy never wastes more in total") {
    val df = TextOps.t45BatchPadding(spark, sf).cache()
    try {
      assert(df.filter(col("n_docs") < 1 || col("n_docs") > 16)
        .count() == 0)
      assert(df.filter(col("waste") < 0).count() == 0)
      // each strategy partitions every shard's docs exactly once
      val perStrat = df.groupBy("strategy").agg(sum("n_docs").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val docs = Tables.documents(spark, sf).count()
      assert(perStrat == Map("arrival" -> docs, "sorted" -> docs))
      val waste = df.groupBy("strategy").agg(sum("waste").as("w"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(waste("sorted") <= waste("arrival"),
        s"sorted ${waste("sorted")} > arrival ${waste("arrival")}")
    } finally df.unpersist()
  }

  test("t30 bigram vocab: counts conserve adjacent-pair mass") {
    // every doc with m tokens contributes exactly m-1 bigrams
    val mass = TextOps.t30BigramVocab(spark, sf, topK = Int.MaxValue)
      .agg(sum("n")).first().getLong(0)
    val expect = Tables.documents(spark, sf)
      .select((size(split(trim(lower(col("text"))), "\\s+")) - 1)
        .as("m"))
      .agg(sum(when(col("m") > 0, col("m")).otherwise(0L)))
      .first().getLong(0)
    assert(mass == expect, s"bigram mass $mass != $expect")
  }

  test("t26 pack: offsets are exact shard prefix sums, bins monotone, " +
    "crossing flag consistent with offset arithmetic") {
    val df = TextOps.t26Pack(spark, sf).cache()
    assert(df.count() == Tables.documents(spark, sf).count())
    // offset = sum of preceding token counts, per shard in doc_id order
    val win = org.apache.spark.sql.expressions.Window
    val w = win.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(win.unboundedPreceding, -1)
    val bad = df.withColumn("expect",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("tok_offset") =!= col("expect"))
    assert(bad.count() == 0)
    // a doc crosses a bin boundary iff its span straddles a multiple of
    // the budget — re-derive from modular arithmetic, not division
    val badCross = df.filter(col("crosses_bin") =!=
      (col("tok_offset") % 2048 + col("n_tokens") > 2048))
    assert(badCross.count() == 0)
    df.unpersist()
  }

  test("t27 shuffle shard: positions are a 1..n permutation per shard " +
    "and the permutation is run-independent") {
    val df = TextOps.t27ShuffleShard(spark, sf).cache()
    val byShard = df.groupBy("shard")
      .agg(count(lit(1)).as("n"), max(col("pos")).as("mx"),
        countDistinct(col("pos")).as("d"))
      .filter(col("n") =!= col("mx") || col("n") =!= col("d"))
    assert(byShard.count() == 0, "pos must be a dense 1..n per shard")
    // determinism: a second evaluation (fresh plan) agrees row-for-row
    val again = TextOps.t27ShuffleShard(spark, sf)
    assert(df.exceptAll(again).count() == 0)
    df.unpersist()
  }

  test("t28 weighted sample: k per lang, units capped, and the lottery " +
    "favors heavier docs at the corpus level") {
    val df = TextOps.t28WeightedSample(spark, sf).cache()
    val perLang = df.groupBy("lang").agg(count(lit(1)).as("n"))
      .filter(col("n") > 10)
    assert(perLang.count() == 0)
    assert(df.filter(col("w_units") < 1 || col("w_units") > 64)
      .count() == 0)
    // min of w uniforms has mean 1/(w+1): sampled docs should skew
    // heavier than the corpus average weight (statistical, but wide —
    // top-10-of-hundreds by a weighted lottery clears it comfortably)
    val sampledAvg = df.agg(avg(col("w_units"))).first().getDouble(0)
    val corpusAvg = TextOps.t28WeightedSample(spark, sf,
        topK = Int.MaxValue).agg(avg(col("w_units"))).first().getDouble(0)
    assert(sampledAvg > corpusAvg,
      s"weighted sample avg $sampledAvg !> corpus avg $corpusAvg")
    df.unpersist()
  }
}
