package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.HyperplaneSig.hyperplane_sig
import graft.functions.VectorExprs.{vec_dot, vec_norm}

/** Similarity search over the `embeddings` table (`Array[Float]` vectors).
  *
  * Scale notes (100 TB design):
  *  - the dot/norm kernels are custom codegen'd Catalyst expressions
  *    (`graft.functions.VectorExprs`) — a tight primitive loop inside
  *    whole-stage codegen with strict left-to-right accumulation, so
  *    results are deterministic under any partitioning (the interpreted
  *    `aggregate(zip_with(...))` route is ~10× slower on all-pairs work);
  *  - brute-force top-k broadcasts the (small) query set against the full
  *    corpus — one scan, per-partition top-k, tiny global merge;
  *  - the LSH (random-hyperplane) variant bounds candidate generation to
  *    same-bucket pairs so the corpus×corpus product never materializes —
  *    planes derive deterministically from md5, no RNG state to ship.
  */
object Similarity {

  /** The corpus scan every e-query reads, spread across the session's
    * cores ([[graft.Tables.spread]] — a no-op on multi-split layouts):
    * the per-row vector kernels dominate these plans, so scan
    * parallelism IS the family's wall clock. Shadows the
    * `Tables._` import for every call site in this file. */
  private def embeddings(s: SparkSession, d: String): DataFrame =
    graft.Tables.spreadCached(s, d, "embeddings", col("vec_id"))

  /** The embedding corpus at `TextOps.stressReps`×: replica i offsets
    * every vec_id by i·10⁶, so clones have distinct ids and identical
    * vectors. */
  private def stressEmbeddings(s: SparkSession, d: String): DataFrame =
    (0 until TextOps.stressReps).map(i => embeddings(s, d)
        .select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
          col("embedding")))
      .reduce(_ unionByName _)

  private def cosine(a: Column, b: Column): Column =
    vec_dot(a, b) / (vec_norm(a) * vec_norm(b))

  /** Nearest-centroid assignment as a partial-aggregated `max_by`
    * (ties → lowest centroid id), NOT a `Window.partitionBy(vec_id)`
    * row_number: the window shuffles the full corpus×K sim relation,
    * the aggregate map-side-combines K rows per vector before one
    * corpus-keyed exchange. */
  private def assignToCentroids(emb: DataFrame, centroids: DataFrame)
      : DataFrame =
    emb.join(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("centroid_id"),
        cosine(col("embedding"), col("cv")).as("sim"))
      .groupBy("vec_id")
      .agg(
        first(col("embedding")).as("embedding"),
        max_by(col("centroid_id"),
          struct(col("sim"), (-col("centroid_id")).as("tie")))
          .as("centroid_id"))

  /** Brute-force exact cosine top-5 neighbors for query vectors
    * (vec_id < 10) against the whole corpus. Query side broadcast. */
  def e1CosineTopK(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 10).limit(10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val cands = emb
      .select(col("vec_id").as("cand_id"), col("embedding").as("c"))
    val sims = cands.join(broadcast(queries),
        col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosine(col("q"), col("c")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    sims
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("query_id", "cand_id", "rnk")
  }

  /** e22 — HARD-NEGATIVE MINING: per query, the top-5 most similar
    * vectors with a DIFFERENT label — the contrastive-training staple
    * (negatives that are hard precisely because they look like
    * positives). Same scale shape as e1: the bounded query set
    * broadcasts INTO the corpus scan (corpus never self-joins), the
    * label inequality prunes in the same codegen'd stage as the
    * cosine, and per-query ranking windows partition by query. At
    * index scale this composes with the IVF path exactly as e1 → e5
    * does; the brute form is the recall baseline. Ties break on
    * cand_id — id-only output, so no float crosses the oracle. */
  def e22HardNegatives(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 10).limit(10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        col("label").as("q_label"))
    val sims = emb
      .select(col("vec_id").as("cand_id"), col("embedding").as("c"),
        col("label").as("c_label"))
      .join(broadcast(queries), col("q_label") =!= col("c_label"))
      .select(col("query_id"), col("cand_id"),
        cosine(col("q"), col("c")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("query_id", "cand_id", "rnk")
  }

  /** The (vec_id, bucket) assignment — the engine-specific layer of e2.
    * Verify dumps it to parquet ([[graft.OpLake]]); the oracle re-derives
    * same-bucket pairs + exact cosine from the dump in SQL. */
  private[graft] def e2Buckets(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"),
      hyperplane_sig(col("embedding"), 12).as("bucket"))

  /** Random-hyperplane LSH bucketing + in-bucket exact cosine — the scale
    * path for ANN. 12-bit signatures; same-bucket pairs are scored
    * exactly, keeping pairs ≥ 0.2 cosine. Oracle: bucket dump + SQL
    * re-derivation of the pair generation and scoring. */
  def e2LshAnn(s: SparkSession, d: String): DataFrame =
    lshAnnOf(embeddings(s, d))

  private def lshAnnOf(emb: DataFrame): DataFrame = {
    val bucketed = emb.select(col("vec_id"), col("embedding"),
      hyperplane_sig(col("embedding"), 12).as("bucket"))
    bucketed.as("x")
      .join(bucketed.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(
        col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        cosine(col("x.embedding"), col("y.embedding")).as("cosine"))
      .filter(col("cosine") >= 0.2)
      .select("vec_a", "vec_b")
  }

  /** Embedding-cosine near-duplicate detection: all pairs with cosine
    * ≥ 0.4 (exact; at scale the e2 LSH pre-filter bounds the pair set —
    * threshold tuned so the synthetic corpus yields a non-empty answer). */
  def e3CosineNearDup(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        vec_norm(col("embedding")).as("nrm"))
    emb.as("x")
      .join(emb.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(
        col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        (vec_dot(col("x.embedding"), col("y.embedding")) /
          (col("x.nrm") * col("y.nrm"))).as("cosine"))
      .filter(col("cosine") >= 0.4)
      .select("vec_a", "vec_b")
  }

  /** e27 — SEMANTIC DECONTAMINATION (benchmark-anchored): flag corpus
    * vectors whose embedding is near-duplicate to any HELD-OUT
    * benchmark vector (every 50th id) — the embedding-level
    * train/test-overlap scrub that catches paraphrases t14/t23's
    * n-gram matching misses. Unlike e3's documented-baseline all-pairs
    * join, the comparison space is corpus × |benchmark|: the benchmark
    * side broadcasts (a fixed eval suite stays small while the corpus
    * grows to 100 TB), so the scan is shuffle-free and stays in
    * whole-stage codegen through the vec_dot/vec_norm expressions.
    * Output is integer-only (hit count + min matching benchmark id
    * per contaminated vector) — the float threshold uses the same
    * dot/norm sequence both engines share (the proven e3 contract). */
  def e27SemanticDecontam(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val bench = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("bench_id"),
        col("embedding").as("bv"), vec_norm(col("embedding")).as("bn"))
    emb.filter(col("vec_id") % 50 =!= 0)
      .select(col("vec_id"), col("label"), col("embedding"),
        vec_norm(col("embedding")).as("nrm"))
      .crossJoin(broadcast(bench))
      .filter(vec_dot(col("embedding"), col("bv")) /
        (col("nrm") * col("bn")) >= 0.4)
      .groupBy("vec_id", "label")
      .agg(count(lit(1)).as("n_bench_hits"),
        min(col("bench_id")).as("first_bench_id"))
  }

  /** Per-label corpus stats (the IVF coarse-assignment step: label plays
    * the centroid role). Norms rounded to 6 dp: raw double output needs a
    * precision cushion for the cross-engine oracle compare. */
  def e4LabelCentroidDist(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("label"),
        round(vec_norm(col("embedding")), 6).as("nrm"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n"),
        min(col("nrm")).as("min_norm"),
        max(col("nrm")).as("max_norm"))

  /** The first-k-corpus-vectors centroid table every fixed-centroid
    * variant shares (a deterministic stand-in for a trained model). */
  private[graft] def centroidsOf(emb: DataFrame, k: Int): DataFrame =
    // limit(k) after the filter is a no-op on content (vec_ids are
    // dense from 0) but makes the k-bound STRUCTURAL, so the plan
    // tripwire can prove every centroid-side broadcast is bounded
    emb.filter(col("vec_id") < k).limit(k)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))

  /** The STANDARD-PATH assignment relation (full corpus against the
    * fixed first-k centroids), memoized per (session, dir, k): e5, e8,
    * e20 and the e15 eval that composes them all consume the identical
    * corpus-wide assignment — one coarse-quantization pass per session
    * instead of one per query (and e20 used to run it twice in a
    * single plan: once for cell radii, once for the scan side). At
    * cluster scale this relation IS the index build — computed once,
    * persisted (e10), served many times. */
  private[graft] def assignedRel(s: SparkSession, d: String,
      k: Int = 16): DataFrame =
    graft.SessionMemo.cached(s, "Similarity.assigned", d, k)(
      assignToCentroids(embeddings(s, d),
        centroidsOf(embeddings(s, d), k)))

  /** The e21 per-vector audit relation: each corpus vector with its
    * assigned list and the fixed-point similarity to that list's
    * centroid (floor(cos·10⁶) — computed ONCE in Spark's
    * deterministic sequential-fold kernel, dumped by OpLake so the
    * oracle aggregates the identical values; the e-family
    * dump-and-recompute gate). Rides the memoized [[assignedRel]] —
    * no extra corpus pass beyond one broadcast centroid join. */
  private[graft] def e21AssignRel(s: SparkSession, d: String)
      : DataFrame =
    assignedRel(s, d)
      .join(broadcast(centroidsOf(embeddings(s, d), 16)),
        Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"),
        floor(cosine(col("embedding"), col("cv")) * lit(1e6))
          .as("sim_fp"))

  /** e21 — EMBEDDING OOD AUDIT: per inverted list, how healthy is the
    * cluster — member count, mean similarity to the centroid, how many
    * members sit far below the list mean (> 0.2 under it) and the
    * worst member. This is the curation pass that catches garbage
    * embeddings / mis-clustered shards before an index ships
    * (SemDeDup's quality-side complement). Fixed-point integers
    * end-to-end; the list stats are broadcast back into the corpus
    * scan, so the only corpus-scale exchange is the one partial-
    * aggregated rollup per pass. */
  def e21OodAudit(s: SparkSession, d: String): DataFrame = {
    val rel = e21AssignRel(s, d)
    val stats = rel.groupBy("centroid_id")
      .agg(count(lit(1)).as("n_vecs"), sum(col("sim_fp")).as("ssum"))
      .select(col("centroid_id"), col("n_vecs"),
        expr("ssum div n_vecs").as("mean_sim_fp"))
    rel.join(broadcast(stats), Seq("centroid_id"))
      .groupBy("centroid_id", "n_vecs", "mean_sim_fp")
      .agg(
        sum(when(col("sim_fp") < col("mean_sim_fp") - 200000L, 1L)
          .otherwise(0L)).as("n_ood"),
        min(col("sim_fp")).as("worst_sim_fp"))
  }

  /** Query-side probe selection shared by e5/e6/e8/e10: each query
    * vector ranks the (broadcast) centroid table and keeps its nprobe
    * closest lists. The window partitions by query — parallel across
    * the query set, K rows per partition. */
  private def probesOf(emb: DataFrame, centroids: DataFrame,
      nprobe: Int): DataFrame =
    emb.filter(col("vec_id") < 10).limit(10)
      .join(broadcast(centroids))
      .select(col("vec_id").as("query_id"), col("embedding").as("q"),
        col("centroid_id"),
        cosine(col("embedding"), col("cv")).as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("centroid_id"))))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("q"), col("centroid_id"))

  /** IVF-style ANN: coarse quantization against K fixed centroids,
    * inverted lists = bucket column, queries probe their nprobe closest
    * centroids and score exactly only within those lists. The
    * corpus×corpus product never materializes; at 100 TB the inverted
    * lists are the partitioning key. `k`/`nprobe` are the index's scale
    * knobs (a 100 TB index wants k in the thousands); the defaults are
    * the deterministic oracle configuration. With nprobe = k every list
    * is probed and the result provably equals brute-force e1 — the
    * recall dial's endpoint (asserted in IvfParamSpec). */
  def ivfAnn(s: SparkSession, d: String, k: Int = 16, nprobe: Int = 4)
      : DataFrame = {
    val emb = embeddings(s, d)
    val centroids = centroidsOf(emb, k)
    val assigned = assignedRel(s, d, k)
    val probes = probesOf(emb, centroids, nprobe)
    // exact scoring only within probed inverted lists
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(probes).join(assigned, Seq("centroid_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        cosine(col("q"), col("embedding")).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("query_id", "cand_id", "rnk")
  }

  def e5IvfAnn(s: SparkSession, d: String): DataFrame = ivfAnn(s, d)

  /** e7 — int8 symmetric quantization of the embedding column (the
    * vector-compression step of a large-scale ANN index build): per
    * vector, scale = 127/max|v|, q_i = floor(v_i·scale + 0.5). Reported
    * stats are integer-only so the cross-engine compare is exact;
    * floor(x+0.5) instead of round() keeps the half-way rule identical
    * across engines. Pure higher-order column functions, no UDF. */
  def e7Quantize(s: SparkSession, d: String): DataFrame = {
    val vd = transform(col("embedding"), x => x.cast("double"))
    val mx = greatest(array_max(transform(vd, x => abs(x))), lit(1e-30))
    val scale = lit(127.0) / mx
    val q = transform(vd, x => floor(x * scale + lit(0.5)).cast("int"))
    embeddings(s, d)
      .select(
        col("vec_id"),
        array_min(q).as("q_min"),
        array_max(q).as("q_max"),
        size(filter(q, x => x === 0)).as("q_zeros"))
  }

  /** e11 — SQ8-quantized top-k serving: brute-force ANN over the int8
    * codes e7 builds (scale = 127/max|v| per vector, floor(x·s + 0.5)),
    * ranked by the INTEGER code dot product. This is the memory-bound
    * serving variant: the scoring join moves 8-bit codes (dim bytes per
    * vector, 4× smaller than float32) and the kernel is integer
    * multiply-add — the symmetric-distance (SDC) counterpart of e8's
    * table-lookup ADC. All-integer scoring means the oracle replays it
    * bit-exactly (·/÷/floor are IEEE-exact cross-engine; no sqrt, no
    * cosine float compare). Only the query set broadcasts; the corpus
    * side never self-joins. */
  def e11Sq8TopK(s: SparkSession, d: String, topK: Int = 5)
      : DataFrame = {
    val vd = transform(col("embedding"), x => x.cast("double"))
    val mx = greatest(array_max(transform(vd, x => abs(x))), lit(1e-30))
    val q = transform(vd,
      x => floor(x * (lit(127.0) / mx) + lit(0.5)).cast("long"))
    val coded = embeddings(s, d).select(col("vec_id"), q.as("code"))
    val queries = coded
      .filter(col("vec_id") < 10).limit(10)
      .select(col("vec_id").as("query_id"), col("code").as("qc"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("qdot").desc, col("cand_id"))
    coded.join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        aggregate(zip_with(col("qc"), col("code"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("qdot"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
  }

  /** e12 — BINARY (sign-bit) quantization serving: 1 bit per dimension
    * (64× smaller than float32), Hamming-distance shortlist, exact
    * cosine rerank — the binary-embedding retrieval ladder's last rung
    * after e7 int8 / e11 SQ8. The 64 sign bits pack into TWO 32-bit
    * halves (a single 64-bit pack would put bit 63 in the sign
    * position, where the oracle's power-of-two sum can't follow), so
    * the shortlist kernel is two XOR+popcount ops per pair — the wire
    * format a 100 TB serving tier keeps in RAM. The Hamming top-`c`
    * per query is a rank-limit window (WindowGroupLimit pushes the
    * per-partition cut below the shuffle, as in t28); only the ≤ c
    * shortlisted rows ever touch float vectors for the exact rerank.
    * Ties break by cand_id at both stages, so the result is
    * deterministic and the oracle replays the whole pipeline. */
  def e12SignTopK(s: SparkSession, d: String, shortlist: Int = 50,
      topK: Int = 5): DataFrame = {
    def packHalf(off: Int): Column = expr(
      s"""aggregate(zip_with(slice(embedding, ${off + 1}, 32),
         |    sequence(0, 31),
         |    (x, i) -> IF(x >= 0, shiftleft(1L, i), 0L)),
         |  0L, (a, b) -> a + b)""".stripMargin)
    val packed = embeddings(s, d).select(col("vec_id"), col("embedding"),
      packHalf(0).as("lo"), packHalf(32).as("hi"))
    val queries = packed.filter(col("vec_id") < 10).limit(10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("lo").as("qlo"), col("hi").as("qhi"))
    val wHam = Window.partitionBy("query_id")
      .orderBy(col("hamming"), col("cand_id"))
    val wCos = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("cand_id"))
    packed.join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        col("embedding"), col("qv"),
        (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("hi").bitwiseXOR(col("qhi")))).as("hamming"))
      .withColumn("hrk", row_number().over(wHam))
      .filter(col("hrk") <= shortlist)
      .select(col("query_id"), col("cand_id"), col("hamming"),
        cosine(col("qv"), col("embedding")).as("cosine"))
      .withColumn("rnk", row_number().over(wCos))
      .filter(col("rnk") <= topK)
      .select("query_id", "cand_id", "hamming", "rnk")
  }

  /** Deterministic Lloyd's k-means over the embedding corpus: init from
    * the first k vectors (by id), `iters` rounds of distributed assign +
    * per-dimension mean. The model (k×dim doubles) is the one legitimate
    * driver-side collect — everything row-scale stays distributed. */
  def kmeansCentroids(s: SparkSession, d: String, k: Int, iters: Int)
      : Array[Array[Double]] = {
    import s.implicits._
    val vecs = embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    var centroids: Array[Array[Double]] = vecs
      .filter(_._1 < k).collect().sortBy(_._1)
      .map(_._2.map(_.toDouble))
    (0 until iters).foreach { _ =>
      val cents = centroids
      // per-dimension means via groupBy aggregation, NOT
      // groupByKey.mapGroups: mapGroups has no map-side combine, so it
      // would shuffle EVERY vector into k tasks (corpus/k rows through
      // one task each at scale); posexplode + sum/count partial-
      // aggregates per (centroid, dim) and only k×dim rows move
      val sums = vecs
        .mapPartitions { it =>
          it.map { case (_, v) =>
            var best = 0
            var bestD = Double.MaxValue
            var c = 0
            while (c < cents.length) {
              var acc = 0.0
              var i = 0
              while (i < v.length) {
                val diff = v(i) - cents(c)(i); acc += diff * diff; i += 1
              }
              if (acc < bestD) { bestD = acc; best = c }
              c += 1
            }
            (best, v)
          }
        }
        .toDF("cid", "v")
        .select(col("cid"), posexplode(col("v")))
        .groupBy("cid", "pos")
        .agg(sum(col("col").cast("double")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val dim = centroids.head.length
      val next = Array.fill(cents.length)(new Array[Double](dim))
      sums.foreach { r =>
        val cid = r.getAs[Int]("cid")
        next(cid)(r.getAs[Int]("pos")) =
          r.getAs[Double]("s") / r.getAs[Long]("n")
      }
      // empty clusters keep their previous centroid
      centroids = next.zipWithIndex.map { case (v, i) =>
        if (v.forall(_ == 0.0) && sums.forall(_.getAs[Int]("cid") != i))
          cents(i)
        else v
      }
    }
    centroids
  }

  /** The trained e6 centroid table (16 × dim floats), memoized per
    * (session, dir): e6 and the Verify-time dump ([[graft.OpLake]]) must
    * see the SAME model, and Lloyd's iterations shouldn't re-run per
    * consumer. Float32 — identical to what the assignment join sees.
    * The model is collected to the driver, so the entry pins nothing. */
  private[graft] def trainedCentroids(s: SparkSession, d: String)
      : DataFrame = graft.SessionMemo.local(s, "Similarity.kmeans", d) {
    import s.implicits._
    kmeansCentroids(s, d, k = 16, iters = 3).zipWithIndex
      .map { case (v, i) => (i, v.map(_.toFloat)) }.toSeq
      .toDF("centroid_id", "cv")
  }

  /** IVF with TRAINED centroids: k-means model → assignment → probe —
    * the full coarse-quantization path. Oracle: the trained centroids are
    * dumped to parquet and the e5 pipeline SQL re-derives assignment /
    * probe / scoring from them. */
  def e6IvfKmeans(s: SparkSession, d: String, nprobe: Int = 4)
      : DataFrame = {
    val centroids = trainedCentroids(s, d)
    val emb = embeddings(s, d)
    val assigned = assignToCentroids(emb, centroids)
    val probes = probesOf(emb, centroids, nprobe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(probes).join(assigned, Seq("centroid_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        cosine(col("q"), col("embedding")).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("query_id", "cand_id", "rnk")
  }

  /** Squared L2 distance composed from the codegen'd dot kernels —
    * the same primitives (and therefore the same double rounding) the
    * oracle SQL mirrors with `list_sum(list_transform(...))`. */
  private def l2sq(a: Column, b: Column): Column =
    vec_dot(a, a) + vec_dot(b, b) - lit(2.0) * vec_dot(a, b)

  /** e8 — IVF-PQ, the standard architecture for billion-scale ANN
    * (coarse inverted lists + product-quantization codes + asymmetric
    * distance): coarse quantization into e5's inverted lists; m=8
    * subspaces × 8 dims with ks=16 codes per subspace (codebooks =
    * the first 16 corpus vectors' subvectors — deterministic, like
    * e5's coarse centroids); every corpus vector encoded to m 4-bit
    * codes (nearest codebook entry per subspace, squared-L2); queries
    * score candidates inside their nprobe probed lists with a per-query
    * (m × ks) distance lookup table joined on (subspace, code) —
    * candidate raw vectors are never touched in the scoring path.
    *
    * 100 TB shape: the codes relation carries (vec_id, list, j, code) —
    * ints only, 8 bytes of code payload per vector instead of 256 bytes
    * of floats (pack the m codes into one BINARY column for storage);
    * codebooks (128 rows) and per-query dtabs (queries × 128) are
    * broadcast; scoring is a partial-aggregated sum behind the
    * inverted-list join, so the shuffle carries probed-list candidates
    * only, never the corpus product. */
  def e8IvfPqAnn(s: SparkSession, d: String): DataFrame =
    ivfPqOf(embeddings(s, d), assignedOpt = Some(assignedRel(s, d)),
      codesOpt = Some(pqCodesRel(s, d)))

  /** The (m, ks, dim) of [[pqCodesRel]]'s code table: its memo key,
    * its build and [[ivfPqOf]]'s check on a precomputed table read
    * this one triple. */
  private val pqCodesParams = (8, 16, 64)

  /** The STANDARD-PATH PQ code table (whole corpus encoded against the
    * fixed 16-entry-per-subspace codebooks), memoized per (session,
    * dir) like [[assignedRel]]: e8, e14's candidate stage and the
    * e15/e18/e26/e28 eval pins each re-ran the identical corpus-wide
    * encode — the single most expensive kernel of the family (m=8
    * subspace scans × ks=16 distance kernels per vector) — up to four
    * times per sweep (guide §1.2). At cluster scale this relation IS
    * the PQ index build: computed once, persisted, served many times.
    * Non-standard callers (the z9 20× probe, parameter sweeps) still
    * encode inline via `codesOpt = None`. */
  private[graft] def pqCodesRel(s: SparkSession, d: String): DataFrame = {
    val (m, ks, dim) = pqCodesParams
    graft.SessionMemo.cached(s, "Similarity.pqcodes", d, m, ks, dim)(
      pqCodesOf(assignedRel(s, d), pqCodebooksOf(embeddings(s, d), m, ks,
        dim), m, dim))
  }

  /** The per-subspace codebook table (code, j, cb, n2cb). Self-dots
    * are precomputed per side (n2 columns) so the per-pair encode work
    * is ONE dot kernel, not three: n2x + n2cb - 2·dot is the same
    * double arithmetic as l2sq term-for-term, so the oracle's
    * dot-composed L2 still matches bitwise. */
  private def pqCodebooksOf(emb: DataFrame, m: Int, ks: Int, dim: Int)
      : DataFrame = {
    val sub = dim / m
    val js = explode(sequence(lit(0), lit(m - 1))).as("j")
    emb.filter(col("vec_id") < ks).limit(ks)
      .select(col("vec_id").cast("int").as("code"), col("embedding"), js)
      .select(col("code"), col("j"),
        slice(col("embedding"), col("j") * sub + 1, lit(sub)).as("cb"))
      .withColumn("n2cb", vec_dot(col("cb"), col("cb")))
  }

  /** Encode: nearest codebook entry per (vector, subspace); ties →
    * lowest code, exactly the oracle's (d2 ASC, code ASC) row_number. */
  private def pqCodesOf(assigned: DataFrame, codebooks: DataFrame,
      m: Int, dim: Int): DataFrame = {
    val sub = dim / m
    val js = explode(sequence(lit(0), lit(m - 1))).as("j")
    assigned
      .select(col("vec_id"), col("centroid_id"), col("embedding"), js)
      .select(col("vec_id"), col("centroid_id"), col("j"),
        slice(col("embedding"), col("j") * sub + 1, lit(sub)).as("xj"))
      .withColumn("n2x", vec_dot(col("xj"), col("xj")))
      .join(broadcast(codebooks), Seq("j"))
      .select(col("vec_id"), col("centroid_id"), col("j"), col("code"),
        (col("n2x") + col("n2cb") -
          lit(2.0) * vec_dot(col("xj"), col("cb"))).as("d2"))
      .groupBy("vec_id", "centroid_id", "j")
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
  }

  /** `k`/`nprobe`/`m`/`ks` are the standard IVF-PQ tuning axes (list
    * count, probed lists, subspace count, codes per subspace); `dim` is
    * the embedding width (m must divide it). Defaults are the
    * deterministic oracle configuration; a 100 TB index raises k to the
    * thousands and ks to 256 (8-bit codes). */
  private[graft] def ivfPqOf(emb: DataFrame, k: Int = 16,
      nprobe: Int = 4, m: Int = 8, ks: Int = 16, dim: Int = 64,
      topK: Int = 5, assignedOpt: Option[DataFrame] = None,
      codesOpt: Option[DataFrame] = None)
      : DataFrame = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    // a precomputed code table carries no record of the (m, ks, dim)
    // it was encoded with; every caller passes pqCodesRel's
    require(codesOpt.isEmpty || (m, ks, dim) == pqCodesParams,
      s"precomputed PQ codes are (m, ks, dim) = $pqCodesParams, " +
        s"not ($m, $ks, $dim)")
    val sub = dim / m
    val centroids = centroidsOf(emb, k)
    val assigned =
      assignedOpt.getOrElse(assignToCentroids(emb, centroids))
    def subspaces(vecCol: String): Column =
      slice(col(vecCol), col("j") * sub + 1, lit(sub))
    val js = explode(sequence(lit(0), lit(m - 1))).as("j")
    val codebooks = pqCodebooksOf(emb, m, ks, dim)
    val codes = codesOpt.getOrElse(pqCodesOf(assigned, codebooks, m, dim))
    val probes = probesOf(emb, centroids, nprobe)
      .select("query_id", "centroid_id")
    val dtab = emb.filter(col("vec_id") < 10).limit(10)
      .select(col("vec_id").as("query_id"), col("embedding"), js)
      .select(col("query_id"), col("j"), subspaces("embedding").as("qj"))
      .join(broadcast(codebooks), Seq("j"))
      .select(col("query_id"), col("j"), col("code"),
        l2sq(col("qj"), col("cb")).as("dt"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("cand_id"))
    broadcast(probes)
      .join(codes, Seq("centroid_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .join(broadcast(dtab), Seq("query_id", "j", "code"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("dt")).as("adist"))
      .withColumnRenamed("vec_id", "cand_id")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select("query_id", "cand_id", "rnk")
  }

  /** The PQ-approximate top-20 candidate list per query — e14's first
    * stage, dumped by [[graft.OpLake]] so the oracle reranks the SAME
    * candidate set. */
  private[graft] def e14Candidates(s: SparkSession, d: String)
      : DataFrame =
    ivfPqOf(embeddings(s, d), topK = 20,
      assignedOpt = Some(assignedRel(s, d)),
      codesOpt = Some(pqCodesRel(s, d)))
      .select("query_id", "cand_id")

  /** e14 — two-stage RETRIEVE-then-RERANK (the FAISS
    * IndexIVFPQ + IndexRefineFlat serving shape, and the standard
    * production retrieval stack): stage 1 scores with 8-int PQ codes
    * only (ivfPqOf, top-20 approximate candidates); stage 2 joins JUST
    * those candidates back to their raw float vectors for an exact
    * cosine rerank to the final top-5. 100 TB shape: the expensive
    * float reads touch queries × 20 rows, never the corpus — the
    * candidate list is broadcast into the embedding scan, so the rerank
    * is one broadcast-semi-join + a queries-partitioned window; the
    * raw-vector payload crosses the wire only for candidates. Refines
    * e8's PQ-approximate ordering with exact distances (PQ error ⇒
    * orders can differ; the rerank restores the exact order within the
    * retrieved set). */
  def e14Rerank(s: SparkSession, d: String): DataFrame =
    rerankOf(embeddings(s, d), e14Candidates(s, d))

  /** Exact-cosine rerank of an arbitrary (query_id, cand_id) candidate
    * relation — stage 2 alone, so the spec can drive it with a
    * wide-open candidate set (every non-self vector) and assert the
    * refine equals brute-force e1 exactly: the recall endpoint of the
    * retrieve-then-rerank dial. */
  private[graft] def rerankOf(emb: DataFrame, cands: DataFrame)
      : DataFrame = {
    val queries = emb.filter(col("vec_id") < 10).limit(10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    emb.select(col("vec_id").as("cand_id"), col("embedding").as("c"))
      .join(broadcast(cands), Seq("cand_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("cand_id"),
        cosine(col("q"), col("c")).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("query_id", "cand_id", "rnk")
  }

  /** Sub-plan probes for hotspot/scale profiling (in `SparkEntry.diag`,
    * run with `graft.TimeOne` — not part of the driver-visible surface). */
  def diag: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ANN scale stress: the sf embedding corpus replicated 20× (every
    // vector gains 19 exact clones) through the LSH bucket path — clone
    // pairs share buckets by construction, so all n·C(20,2) of them
    // MUST surface (recall floor), while pair generation stays bounded
    // to same-bucket work
    "z7_e2_20x" -> ((s: SparkSession, d: String) =>
      lshAnnOf(stressEmbeddings(s, d))),
    // IVF-PQ at 20×: scoring cost must track probed-list candidate
    // count (codes only — 8 ints/vector through the ADC join), never
    // the corpus×corpus product or the raw float payload
    "z9_e8_20x" -> ((s: SparkSession, d: String) =>
      ivfPqOf(stressEmbeddings(s, d))),
    // SemDeDup at 20×: every vector gains 19 exact clones (cosine 1.0,
    // same cluster by construction), so the kept set must collapse to
    // exactly the 1× kept set — and the pair space stays bounded per
    // inverted list while every list is 20× hotter
    "z12_e9_20x" -> ((s: SparkSession, d: String) => {
      val reps = stressEmbeddings(s, d)
      semDedupOf(assignToCentroids(reps, centroidsOf(reps, 16)))
    }),
    // SemDeDup cluster-count scaling: in-cluster candidate-pair count
    // (Σ n·(n−1)/2 over clusters, computed from cluster sizes — no pair
    // materialization) at k=16 vs k=64 on the 20× corpus. The k=64 count
    // must track N²/k, i.e. land well under the k=16 count — the
    // property that makes corpus-derived k (semDedupK) the scale path.
    // m6 banded-hamming pair space under 20× cloning — the blow-up
    // mode of media near-dup: every asset gains 19 byte-identical
    // clones that share ALL four chunks. The pair count must follow
    // the exact closed form (base_pairs·20² + docs·C(20,2)) — growth
    // is clone-clique-bounded, never bucket-quadratic (asserted in
    // IvfParamSpec at test SF).
    "z20_m6_20x" -> ((s: SparkSession, d: String) => {
      val mediaReps = TextOps.stressDocuments(s, d).select(col("doc_id"),
        col("text").cast("binary").as("media"),
        length(col("text").cast("binary")).as("n_bytes"))
      TextOps.bandedHammingPairs(Multimodal.m6SigsOf(mediaReps))
        .agg(count(lit(1)).as("pairs"),
          sum(when(col("hamming") === 0, 1L).otherwise(0L))
            .as("exact_pairs"))
    }),
    "z13_e9_k64" -> ((s: SparkSession, d: String) => {
      val reps = stressEmbeddings(s, d)
      def pairSpace(k: Int): DataFrame =
        assignToCentroids(reps, centroidsOf(reps, k))
          .groupBy("centroid_id").agg(count(lit(1)).as("n"))
          .agg(sum(col("n") * (col("n") - lit(1)) / lit(2))
            .cast("long").as("pairs"))
          .select(lit(k).as("k"), col("pairs"))
      pairSpace(16).unionByName(pairSpace(64))
    }),
  )

  /** e9: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — SEMANTIC
    * deduplication: cluster the embedding space coarsely, then remove
    * cosine-near-duplicates WITHIN each cluster only, keeping the
    * min-id representative of every near-dup group. The clustering is
    * what makes it scale: the pair join is keyed on centroid_id, so the
    * quadratic work is bounded per inverted list (corpus²/K in
    * expectation) instead of e3's full corpus² — the same exact→bucketed
    * relationship as t6→t7. Assignment reuses the e5 coarse-quantize
    * path (broadcast centroids, max_by partial agg); the loser set is
    * corpus-scaled so the anti-join pins SHUFFLE_HASH like t11. */
  private[graft] def e9Assigned(s: SparkSession, d: String,
      k: Int = 16): DataFrame = {
    val emb = embeddings(s, d)
    assignToCentroids(emb, centroidsOf(emb, k))
  }

  /** Cluster count for SemDeDup at a given corpus size: ~512 vectors
    * per cluster (in-cluster pair work then grows linearly with the
    * corpus, N·512/2, not quadratically), floored at the deterministic
    * oracle default of 16 — which is what every test SF (500–2000
    * vectors) resolves to, so the fixed-centroid oracle SQL stays
    * valid while a 100 TB corpus gets k in the millions. */
  private[graft] def semDedupK(n: Long): Int =
    math.max(16, (n / 512L).toInt)

  def e9SemDedup(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    // ride the session-memoized assignment (same build as e9Assigned):
    // semDedupOf consumes the relation THREE times (both self-join
    // sides + the keep-side anti-join), so an unmaterialized input
    // re-ran the corpus×K coarse quantization thrice per call
    semDedupOf(assignedRel(s, d, semDedupK(emb.count())))
  }

  /** In-cluster near-dup removal behind the assignment. `fanout` > 1
    * salts the self-join: the y side keys on (centroid, vec_id mod
    * fanout) and the x side is replicated once per chunk, so ONE hot
    * inverted list fans across `fanout` independent tasks instead of
    * pinning a single reducer — the skew escape hatch when cluster
    * sizes are unbalanced at scale. Every unordered pair still appears
    * exactly once (x.vec_id < y.vec_id picks the chunk), so the result
    * is fanout-invariant (asserted in IvfParamSpec).
    *
    * `assigned` is referenced three times (both self-join sides + the
    * keep side), so an UNMATERIALIZED input re-runs the assignment
    * aggregate thrice. At corpus scale, materialize the assignment
    * first — that is exactly [[ivfIndexPath]]'s persisted
    * centroid-partitioned layout (the SemDeDup paper's own phase
    * split: cluster once, dedup within lists); at the oracle SFs the
    * triple agg over thousands of rows is cheaper than any write. */
  private[graft] def semDedupOf(assigned: DataFrame, fanout: Int = 1)
      : DataFrame = {
    // annotate norms BEFORE the pair join (guide §1.2 "don't compute
    // things twice"): each in-list pair needs dot/(‖x‖·‖y‖); computing
    // the norms per ROW (2·N kernels, below the exchange) instead of
    // per PAIR (2·Σ|list|²/2 kernels) cuts two-thirds of the stage's
    // float work. Same expression tree per pair — dot/(nx·ny) — so the
    // IEEE result is bit-identical.
    val ann = assigned
      .withColumn("nrm", vec_norm(col("embedding")))
    val pairs = semPairs(ann, fanout)
    val losers = pairs
      .filter(vec_dot(col("x.embedding"), col("y.embedding")) /
        (col("x.nrm") * col("y.nrm")) >= 0.4)
      .select(col("y.vec_id").as("vec_id"))
      .distinct()
    assigned.select("vec_id", "centroid_id")
      .join(losers.hint("SHUFFLE_HASH"), Seq("vec_id"), "left_anti")
  }

  /** The in-list pair-generation stage of [[semDedupOf]], exposed so
    * the z26 hot-list skew probe can measure ITS task-load
    * distribution directly (the stage salting exists to flatten). */
  private[graft] def semPairs(assigned: DataFrame, fanout: Int)
      : DataFrame = {
    if (fanout <= 1)
        // corpus self-join: SHUFFLE_HASH-pinned so warm cache stats
        // can never flip it to a (scale-fatal) corpus broadcast
        assigned.as("x").join(assigned.as("y").hint("SHUFFLE_HASH"),
          col("x.centroid_id") === col("y.centroid_id") &&
            col("x.vec_id") < col("y.vec_id"))
      else {
        val y = assigned
          .withColumn("chunk", pmod(col("vec_id"), lit(fanout.toLong)))
        val x = assigned.withColumn("chunk",
          explode(sequence(lit(0L), lit(fanout.toLong - 1L))))
        x.as("x").join(y.as("y"),
          col("x.centroid_id") === col("y.centroid_id") &&
            col("x.chunk") === col("y.chunk") &&
            col("x.vec_id") < col("y.vec_id"))
      }
  }

  /** e10: PERSISTED inverted-file index — the index-serving layout: the
    * assigned corpus is written ONCE to parquet partitioned by
    * centroid_id (one directory per inverted list, the disk analog of
    * FAISS's in-memory lists), and the query path joins its probed
    * centroids against the read-back table. The probe side broadcasts,
    * so Spark injects DYNAMIC PARTITION PRUNING into the list scan —
    * a probe touches only its nprobe list directories, which is the
    * property that makes a 100 TB index answer queries without reading
    * the corpus. Results must equal e5 (same algorithm, same data). */
  def e10IvfPersisted(s: SparkSession, d: String, k: Int = 16,
      nprobe: Int = 4): DataFrame = {
    val emb = embeddings(s, d)
    val centroids = centroidsOf(emb, k)
    val probes = probesOf(emb, centroids, nprobe)
      .withColumn("centroid_id", col("centroid_id").cast("int"))
    val lists = s.read.parquet(ivfIndexPath(s, d, k))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(probes).join(lists, Seq("centroid_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        cosine(col("q"), col("embedding")).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("query_id", "cand_id", "rnk")
  }

  private val ivfIndexWritten =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Write-once inverted-list layout for [[e10IvfPersisted]]:
    * hive-partitioned by centroid_id. Building an index is a batch job;
    * serving reads it pruned — the split the reference's
    * continuously-maintained PSI state also follows (build ≠ serve).
    * Keyed by an MD5 of the full data-dir string plus the list count —
    * distinct dirs (or k's) can never collide into one index the way a
    * 32-bit hashCode could. Base dir overridable via GRAFT_INDEX_DIR. */
  private[graft] def ivfIndexPath(s: SparkSession, d: String,
      k: Int = 16): String =
    ivfIndexWritten.computeIfAbsent(
        s"${graft.IndexDir.base}#$d#k=$k", { _ =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val base = graft.IndexDir.base
      val path = s"$base/$md5-k$k"
      e9Assigned(s, d, k)
        .write.mode("overwrite").partitionBy("centroid_id").parquet(path)
      path
    })

  /** e13 — k-NN GRAPH construction, LSH-bucket-bounded: every vector's
    * top-3 same-bucket neighbors by exact cosine (ties → lower
    * neighbor id). The k-NN graph is the substrate of graph-based
    * curation passes (SemDeDup's cluster graph, kNN-classifier
    * labeling, diversity sampling); building it all-pairs is O(N²), so
    * pair generation is bounded to shared hyperplane buckets exactly
    * like e2, and the per-vector top-k prunes to k rows per partition
    * BEFORE the final exchange (Spark's WindowGroupLimit rewrite of a
    * rank-filter — no global sort anywhere). Oracle: bucket dump +
    * full SQL re-derivation, the e2 pattern. */
  def e13KnnGraph(s: SparkSession, d: String): DataFrame = {
    val b = embeddings(s, d).select(col("vec_id"), col("embedding"),
      hyperplane_sig(col("embedding"), 12).as("bucket"))
    val pairs = b.as("x")
      .join(b.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"),
        col("y.vec_id").as("neighbor_id"),
        cosine(col("x.embedding"), col("y.embedding")).as("cosine"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    pairs.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("vec_id", "neighbor_id", "rnk")
  }

  /** e15 — ANN RECALL EVALUATION as a first-class query: per-query
    * recall@5 of the three serving paths (e5 IVF, e8 IVF-PQ, e14
    * retrieve-then-rerank) against the exact e1 ground truth. The eval
    * harness every index deployment runs before flipping traffic —
    * here it's just another DataFrame, and the oracle re-derives every
    * method AND the ground truth independently, so the driver gate
    * cross-checks the whole measurement. All-integer output (hits of
    * n); the joins touch queries×5 rows per method — eval cost is
    * O(queries), independent of corpus size. */
  /** The four served top-5 relations the eval family reads, pinned
    * once per (session, dir): e15 + e26 + e28 (+ e18 for the dense
    * leg) each re-planned and re-executed the SAME serving plans —
    * 4 corpus-kernel passes × 3 eval queries of duplicate work per
    * sweep (guide §1.2). Results are queries×k rows (≤ 50), so the
    * pin is O(1); the standalone e1/e5/e8/e14 bench rows keep their
    * own bare plans (and plan sigs) untouched. */
  private def servedTop(s: SparkSession, d: String, which: String)
      : DataFrame =
    graft.SessionMemo.cached(s, "Similarity.served", d, which)(which match {
      case "e1" => e1CosineTopK(s, d)
      case "e5" => e5IvfAnn(s, d)
      case "e8" => e8IvfPqAnn(s, d)
      case "e14" => e14Rerank(s, d)
    })

  def e15RecallEval(s: SparkSession, d: String): DataFrame = {
    val exact = servedTop(s, d, "e1").select("query_id", "cand_id")
      .withColumn("hit", lit(1))
    def scored(name: String, df: DataFrame): DataFrame =
      df.select(col("query_id"), col("cand_id"))
        .join(exact, Seq("query_id", "cand_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(col("hit")).as("hits"), count(lit(1)).as("n"))
        .select(lit(name).as("method"), col("query_id"),
          col("hits"), col("n"))
    scored("e5_ivf", servedTop(s, d, "e5"))
      .unionByName(scored("e8_pq", servedTop(s, d, "e8")))
      .unionByName(scored("e14_rerank", servedTop(s, d, "e14")))
  }

  /** e26 — MRR RANKING AUDIT: where does each serving path place the
    * single most-similar item (the exact top-1)? Recall@5 (e15) treats
    * rank 1 and rank 5 the same; MRR is the rank-sensitive companion
    * every retrieval deployment also tracks. Per (method, query): the
    * reciprocal rank of the exact top-1 in the method's top-5, scaled
    * by 60 (the lcm of ranks 1..5) so every value is an exact integer —
    * 60, 30, 20, 15, 12 or 0 — and the driver gate hashes bit-stable
    * integers, no float mean. Aggregating mean-MRR downstream is one
    * avg over this relation. Eval cost is O(queries), corpus-free:
    * three already-bounded top-5 plans joined on (query, cand). */
  def e26Mrr(s: SparkSession, d: String): DataFrame = {
    val top1 = servedTop(s, d, "e1").filter(col("rnk") === 1)
      .select(col("query_id"), col("cand_id"))
    def rr(name: String, df: DataFrame): DataFrame =
      top1.join(df.select(col("query_id"), col("cand_id"), col("rnk")),
          Seq("query_id", "cand_id"), "left")
        .select(lit(name).as("method"), col("query_id"),
          coalesce(expr("cast(60 div rnk as bigint)"), lit(0L))
            .as("rr_x60"))
    rr("e5_ivf", servedTop(s, d, "e5"))
      .unionByName(rr("e8_pq", servedTop(s, d, "e8")))
      .unionByName(rr("e14_rerank", servedTop(s, d, "e14")))
  }

  /** e29 — EMBEDDING-DRIFT MONITOR across ingest batches: the corpus
    * is sliced into ≤16 vec_id-derived batches (width = max_id/16 + 1,
    * the t68 ceiling-division trick, so the batch GRID is bounded at
    * any corpus size) and consecutive batch MEAN vectors are compared
    * by cosine² — the "did the embedding distribution move between
    * ingests" alarm a vector pipeline runs before trusting a new
    * shard. Exactness discipline: components quantize to milli-units
    * FIRST (floor(x·1000 + 0.5), the cents convention), per-(batch,
    * dim) integer sums are order-free, the mean floors via the
    * positive-mod form (sums go negative), and cosine² is the
    * sqrt-free integer ratio dot²·10⁶ div (‖a‖²·‖b‖²) — flooring the
    * means bounds every later product under DECIMAL(38,0)/HUGEINT at
    * ANY corpus size (means don't grow with batch row count). One
    * posexplode + two bounded rollups; dims × 16 rows shuffle, never
    * vectors. */
  def e29EmbeddingDrift(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val width = emb.agg(expr("(max(vec_id) div 16) + 1").as("w"))
    val q = emb.crossJoin(broadcast(width))
      .select(expr("vec_id div w").as("batch"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("batch"), col("dim"),
        // promote to double BEFORE scaling — float*1000 would round in
        // float precision and diverge from the oracle's DOUBLE math
        expr("cast(floor(cast(x as double) * 1000 + 0.5) as bigint)")
          .as("q"))
    val sums = q.groupBy("batch", "dim")
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      .withColumn("m", expr(
        "(sq - (((sq % n) + n) % n)) div n"))
    val pairs = sums.select(col("batch"), col("dim"), col("m"),
        col("n"))
      .as("a")
      .join(sums.select((col("batch") - 1).as("batch"),
        col("dim"), col("m").as("mb"), col("n").as("nb")).as("b"),
        Seq("batch", "dim"))
    pairs.groupBy(col("batch").as("batch_a"))
      .agg(max(col("n")).as("n_a"), max(col("nb")).as("n_b"),
        sum(expr("cast(m as decimal(38,0)) * mb")).as("dot"),
        sum(expr("cast(m as decimal(38,0)) * m")).as("na2"),
        sum(expr("cast(mb as decimal(38,0)) * mb")).as("nb2"))
      .select(col("batch_a"), (col("batch_a") + 1).as("batch_b"),
        col("n_a"), col("n_b"),
        expr("cast(case when dot > 0 then 1 when dot < 0 then -1 " +
          "else 0 end as int)").as("dot_sign"),
        expr("cast(dot * dot * 1000000 div " +
          "(greatest(na2, 1) * greatest(nb2, 1)) as bigint)")
          .as("cos2_ppm"))
  }

  /** e28 — nDCG@5 RANKING AUDIT: the graded companion to e26's MRR —
    * each serving path's top-5 scored against the exact ranking with
    * graded relevance (exact rank r ⇒ gain 6−r, non-top-5 ⇒ 0) and
    * position discounts. The 1/log2(r+1) discount is frozen as an
    * integer milli TABLE (1000, 631, 500, 431, 387) so no runtime log
    * enters either engine and the gate hashes exact integers; the
    * ideal DCG is the constant 10273 milli (Σ (6−r)·disc(r)), making
    * ndcg_ppm an exact integer ratio. O(queries) like e26: three
    * bounded top-5 plans left-joined to the exact top-5. */
  def e28Ndcg(s: SparkSession, d: String): DataFrame = {
    val exact = servedTop(s, d, "e1")
      .select(col("query_id"), col("cand_id"), col("rnk").as("ex_rnk"))
    val discount = expr("""CASE rnk WHEN 1 THEN 1000 WHEN 2 THEN 631
      WHEN 3 THEN 500 WHEN 4 THEN 431 ELSE 387 END""")
    def terms(name: String, df: DataFrame): DataFrame =
      df.select(col("query_id"), col("cand_id"), col("rnk"))
        .join(exact, Seq("query_id", "cand_id"), "left")
        .select(lit(name).as("method"), col("query_id"),
          (discount * coalesce(lit(6) - col("ex_rnk"), lit(0)))
            .as("term"))
    terms("e5_ivf", servedTop(s, d, "e5"))
      .unionByName(terms("e8_pq", servedTop(s, d, "e8")))
      .unionByName(terms("e14_rerank", servedTop(s, d, "e14")))
      .groupBy("method", "query_id")
      .agg(sum(col("term")).cast("long").as("dcg_milli"))
      .withColumn("ndcg_ppm",
        expr("cast(dcg_milli * 1000000 div 10273 as bigint)"))
  }

  /** e16 — MATRYOSHKA (truncated-dimension) two-stage retrieval
    * (Kusupati et al. 2022: MRL embeddings nest, so the FIRST d' dims
    * are themselves a valid embedding): stage 1 scores the whole corpus
    * on only the first 16 of 64 dims — 4× less compute and, at scale,
    * 4× less payload read, since a 100 TB store keeps the prefix as its
    * own column — then stage 2 reranks the top-20 on full dims via
    * [[rerankOf]]. The candidate set is exact-relational (no PQ codes,
    * no dump), so the oracle re-derives BOTH stages independently.
    * `dims` is the truncation knob; at dims = full width stage 1 is
    * e1's scan and the result provably equals e1 (pinned in spec). */
  def e16Matryoshka(s: SparkSession, d: String): DataFrame =
    matryoshkaOf(embeddings(s, d), dims = 16, cand = 20)

  private[graft] def matryoshkaOf(emb: DataFrame, dims: Int, cand: Int)
      : DataFrame = {
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"),
        slice(col("embedding"), 1, dims).as("tq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("tcos").desc, col("cand_id"))
    val cands = emb
      .select(col("vec_id").as("cand_id"),
        slice(col("embedding"), 1, dims).as("tc"))
      .join(broadcast(queries), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosine(col("tq"), col("tc")).as("tcos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cand)
      .select("query_id", "cand_id")
    rerankOf(emb, cands)
  }

  /** e17 — FILTERED vector search (metadata predicate ∧ ANN — the
    * vector-database hot path: "nearest neighbors WHERE label is
    * even"): the IVF index is shared with e5, but only candidates
    * satisfying the predicate are scored inside the probed lists.
    * Pre-filtering the candidate relation BEFORE coarse assignment is
    * equivalent to post-filtering the lists (assignment is
    * per-vector) and lets Catalyst push the predicate into the
    * parquet scan — at 100 TB the filter prunes the candidate payload
    * read, not just the scoring. Same probes, same kernel, same tie
    * order as e5; the oracle runs the identical pipeline SQL with the
    * predicate on the assigned CTE. */
  def e17FilteredAnn(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val centroids = centroidsOf(emb, 16)
    val assigned = assignToCentroids(
      emb.filter(col("label") % 2 === 0), centroids)
    val probes = probesOf(emb, centroids, 4)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(probes).join(assigned, Seq("centroid_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        cosine(col("q"), col("embedding")).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("query_id", "cand_id", "rnk")
  }

  /** e18 — HYBRID RETRIEVAL via Reciprocal Rank Fusion (Cormack et
    * al. 2009): fuse the lexical ranking (t50 BM25 over the inverted
    * index) with the dense ranking (e1 exact cosine) for the shared
    * query ids 0–4, score = Σ 1/(60 + rank). The production hybrid-
    * search shape: both rankers are already top-k-bounded, so the
    * fusion input is O(queries × k) — it would BROADCAST at any
    * corpus size; the heavy lifting stays inside the per-system
    * retrieval plans. RRF contributions are fixed-point integers
    * (1e9 // (60 + rank), the g1 discipline) so both engines rank
    * identically with no float summation anywhere. */
  def e18HybridRrf(s: SparkSession, d: String): DataFrame = {
    val lex = TextOps.t50Bm25(s, d)
      .select(col("q_id"), col("doc_id"), col("rank").as("lex_rank"))
    val dense = servedTop(s, d, "e1")
      .filter(col("query_id") < 5)
      .select(col("query_id").as("q_id"), col("cand_id").as("doc_id"),
        col("rnk").as("dense_rank"))
    lex.join(dense, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf_fp",
        coalesce(expr("1000000000 div (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("1000000000 div (60 + dense_rank)"), lit(0L)))
      .withColumn("fused_rank", row_number().over(
        Window.partitionBy("q_id")
          .orderBy(col("rrf_fp").desc, col("doc_id"))))
      .filter(col("fused_rank") <= 10)
      .select(col("q_id"), col("fused_rank").cast("int").as("fused_rank"),
        col("doc_id"), col("rrf_fp"), col("lex_rank"), col("dense_rank"))
  }

  /** Tomorrow's arrival batch, synthesized deterministically: every
    * fifth vector re-keyed into a disjoint id space. */
  private[graft] def newArrivals(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))

  private val incrIndexWritten =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** e19's index lifecycle: base assignment written once, then the
    * arrival batch assigned against the SAME centroids and APPENDED to
    * the partitioned layout — an index update that touches only the
    * new rows (no rebuild, no read of existing lists). Fixed coarse
    * quantizer ⇒ appending pointwise assignments is exactly
    * re-assigning the union corpus, which is what the oracle checks. */
  private[graft] def incrIndexPath(s: SparkSession, d: String,
      k: Int = 16): String =
    incrIndexWritten.computeIfAbsent(
        s"${graft.IndexDir.base}#$d#k=$k", { _ =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val base = graft.IndexDir.base
      val path = s"$base/incr-$md5-k$k"
      val emb = embeddings(s, d)
      val cents = centroidsOf(emb, k)
      // cluster by the layout key before the partitioned write (guide
      // §6): without it every upstream task writes one file per list it
      // touches — tasks × k small files instead of one per list
      assignToCentroids(emb.select(col("vec_id"), col("embedding")), cents)
        .repartition(col("centroid_id"))
        .write.mode("overwrite").partitionBy("centroid_id").parquet(path)
      assignToCentroids(newArrivals(emb), cents)
        .repartition(col("centroid_id"))
        .write.mode("append").partitionBy("centroid_id").parquet(path)
      path
    })

  /** e19 — INCREMENTAL IVF index maintenance + serve: top-k over the
    * base corpus PLUS an appended arrival batch, served from the
    * persisted lists after an append-only update (the lakehouse index
    * upkeep path — at 100 TB a rebuild is a non-starter; appending
    * partition files to the affected lists is the only shape that
    * works). Queries and probe selection are unchanged from e5/e10;
    * the oracle re-derives the full union-corpus assignment
    * independently, proving append ≡ rebuild under a fixed coarse
    * quantizer. */
  def e19IvfIncremental(s: SparkSession, d: String, k: Int = 16,
      nprobe: Int = 4): DataFrame = {
    val emb = embeddings(s, d)
    val centroids = centroidsOf(emb, k)
    val probes = probesOf(emb, centroids, nprobe)
      .withColumn("centroid_id", col("centroid_id").cast("int"))
    val lists = s.read.parquet(incrIndexPath(s, d, k))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(probes).join(lists, Seq("centroid_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        cosine(col("q"), col("embedding")).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("query_id", "cand_id", "rnk")
  }

  /** e20 — EXACT cosine radius search with provably-safe IVF cell
    * pruning: every corpus vector within cosine ≥ τ of each query, with
    * whole inverted lists skipped via the spherical triangle inequality
    * θ(q,x) ≥ θ(q,c) − θ(x,c). A cell with max member angle α can hold
    * a hit only if θ(q,c) ≤ acos(τ) + α, so cells failing that bound
    * are provably empty of results and are never scanned — unlike the
    * nprobe family (e5/e8), the answer here EQUALS brute force (the
    * DuckDB oracle is the e3-style exact pair SQL), the pruning only
    * cuts work. The ε cushion on the bound absorbs float slop in acos;
    * it can only make pruning weaker, never drop a true hit.
    *
    * Scale: per-cell α is one partial-aggregated groupBy over the
    * assignment relation (built once per index life, not per query);
    * the query×cell prune is a broadcast of K rows; the exact scan
    * shuffles only surviving (query, cell) probes into the inverted
    * lists — the radius analog of e10's DPP-pruned serving path. */
  def e20RangeSearch(s: SparkSession, d: String, k: Int = 16,
      tau: Double = 0.4, nQueries: Int = 50): DataFrame =
    rangeSearchOf(embeddings(s, d), k, tau, nQueries,
      Some(assignedRel(s, d, k)))

  private[graft] def rangeSearchOf(emb: DataFrame, k: Int,
      tau: Double, nQueries: Int,
      assignedOpt: Option[DataFrame] = None): DataFrame = {
    val centroids = centroidsOf(emb, k)
    val assigned =
      assignedOpt.getOrElse(assignToCentroids(emb, centroids))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    broadcast(survivorCellsOf(emb, k, tau, nQueries, assignedOpt)
        .join(queries, Seq("query_id")))
      .join(assigned, Seq("centroid_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .filter(cosine(col("q"), col("embedding")) >= tau)
      .select(col("query_id"), col("vec_id").as("cand_id"))
  }

  /** The (query, cell) pairs the range search scans — the pruning
    * audit surface. On tightly-clustered corpora (every real embedding
    * corpus the IVF family targets) this is far below queries × k; on
    * isotropic random vectors the spherical bound degenerates toward
    * no-pruning — the curse-of-dimensionality regime, where NO exact
    * metric index can prune (the spec pins both regimes). */
  private[graft] def survivorCellsOf(emb: DataFrame, k: Int,
      tau: Double, nQueries: Int,
      assignedOpt: Option[DataFrame] = None): DataFrame = {
    val centroids = centroidsOf(emb, k)
    // per-cell max member angle — the cell radius relation (built once
    // per index life at scale, alongside the assignment itself)
    val cellStats = assignedOpt
      .getOrElse(assignToCentroids(emb, centroids))
      .join(broadcast(centroids), Seq("centroid_id"))
      .select(col("centroid_id"),
        acos(least(lit(1.0), greatest(lit(-1.0),
          cosine(col("embedding"), col("cv"))))).as("theta_xc"))
      .groupBy("centroid_id")
      .agg(max(col("theta_xc")).as("alpha_max"))
    // keep (query, cell) iff the cell can possibly contain a hit
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
      .join(broadcast(centroids))
      .select(col("query_id"), col("centroid_id"),
        acos(least(lit(1.0), greatest(lit(-1.0),
          cosine(col("q"), col("cv"))))).as("theta_qc"))
      .join(broadcast(cellStats), Seq("centroid_id"))
      .filter(col("theta_qc") <=
        lit(math.acos(tau) + 1e-9) + col("alpha_max"))
      .select(col("query_id"), col("centroid_id"))
  }

  /** e23 — RECALL-vs-NPROBE CURVE: the index-tuning artifact — for
    * nprobe ∈ {1, 2, 4}, recall@5 of the e5 IVF path against e1 exact
    * ground truth, as ONE query (the dial as data: how much recall
    * each extra probed list buys). All three probe settings share the
    * session-memoized corpus assignment; only the tiny query-side
    * probe selection re-ranks per setting, so the added cost over one
    * e5 run is negligible. Integer ppm recall; id-only joins. */
  def e23RecallCurve(s: SparkSession, d: String): DataFrame = {
    val exact = e1CosineTopK(s, d).select(col("query_id"), col("cand_id"))
    Seq(1, 2, 4).map { np =>
      val approx = ivfAnn(s, d, 16, np)
        .select(col("query_id"), col("cand_id"), lit(1L).as("hit"))
      exact.join(broadcast(approx), Seq("query_id", "cand_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(lit(np).as("nprobe"), col("n_exact"), col("n_hit"),
          expr("n_hit * 1000000 div n_exact").as("recall_ppm"))
    }.reduce(_ unionByName _)
  }

  /** e24 — INVERTED-LIST BALANCE: the shard-skew report for the IVF
    * index — list count, min/max/avg size and the imbalance factor
    * (max·10⁶ div avg), the number that predicts the straggler list a
    * skewed probe pays for. One k-row aggregate over the memoized
    * assignment's list census; integer ppm. */
  def e24ListBalance(s: SparkSession, d: String): DataFrame =
    assignedRel(s, d)
      .groupBy("centroid_id").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_lists"), min(col("sz")).as("min_size"),
        max(col("sz")).as("max_size"), sum(col("sz")).as("n_vectors"))
      .select(col("n_lists"), col("min_size"), col("max_size"),
        col("n_vectors"),
        expr("n_vectors div n_lists").as("avg_size"),
        expr("max_size * 1000000 div (n_vectors div n_lists)")
          .as("imbalance_ppm"))

  /** e25 — PQ DISTORTION AUDIT: per-subspace reconstruction error of
    * e8's product-quantization codes — the codebook-quality report an
    * index build publishes (a subspace whose quantization error blows
    * up, or whose codes collapse onto a few entries, degrades every
    * e8 query silently; this is where you see it). The per-(vector,
    * subspace) squared-L2 error is the SAME n2x + n2cb − 2·dot
    * arithmetic as e8's encoder term-for-term (so the oracle's
    * dot-composed L2 matches bitwise), quantized to integer
    * micro-units per row BEFORE any sum — sums are then exact
    * integers, order-independent. Codebooks broadcast; the corpus is
    * touched once; output is m rows. */
  def e25PqDistortion(s: SparkSession, d: String, m: Int = 8,
      ks: Int = 16, dim: Int = 64): DataFrame = {
    val sub = dim / m
    val emb = embeddings(s, d)
    def subspaces(vecCol: String): Column =
      slice(col(vecCol), col("j") * sub + 1, lit(sub))
    val js = explode(sequence(lit(0), lit(m - 1))).as("j")
    val codebooks = emb.filter(col("vec_id") < ks).limit(ks)
      .select(col("vec_id").cast("int").as("code"), col("embedding"), js)
      .select(col("code"), col("j"), subspaces("embedding").as("cb"))
      .withColumn("n2cb", vec_dot(col("cb"), col("cb")))
    emb.select(col("vec_id"), col("embedding"), js)
      .select(col("vec_id"), col("j"), subspaces("embedding").as("xj"))
      .withColumn("n2x", vec_dot(col("xj"), col("xj")))
      .join(broadcast(codebooks), Seq("j"))
      .select(col("vec_id"), col("j"), col("code"),
        (col("n2x") + col("n2cb") -
          lit(2.0) * vec_dot(col("xj"), col("cb"))).as("d2"))
      .groupBy("vec_id", "j")
      .agg(min_by(struct(col("code"), col("d2")),
        struct(col("d2"), col("code"))).as("b"))
      .select(col("vec_id"), col("j"), col("b.code").as("code"),
        expr("cast(floor(b.d2 * 1000000 + 0.5) as bigint)")
          .as("err_micro"))
      .groupBy("j")
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("code")).as("codes_used"),
        sum(col("err_micro")).as("sum_err_micro"),
        max(col("err_micro")).as("max_err_micro"))
      .withColumn("mean_err_micro", expr("sum_err_micro div n_vecs"))
  }

  /** e30 — LATE-INTERACTION retrieval (ColBERT-style MaxSim): each
    * stored 64-dim vector is read as 4 token-level subvectors (the
    * fixed-stride 16-dim slices — the layout a multi-vector index
    * stores one row per document under), and the query–document score
    * is `Σ_i max_j cos(q_i, d_j)`: every query token matches its best
    * document token, summed. This is the retrieval family single-vector
    * cosine (e1) cannot express — a document scores high if it covers
    * ALL query aspects, not just the average one.
    *
    * Scale shape = e1's: the bounded query set (8 docs × 4 subvectors,
    * plan-visible via `limit`) broadcasts INTO the one corpus scan; all
    * 16 slice cosines and the 4-way max/sum fold live in a single
    * codegen projection (slice norms computed once per row, dots via
    * the codegen'd `vec_dot`); per-query top-k prunes to k rows per
    * partition before the only exchange (WindowGroupLimit). Nothing
    * about the plan changes at 100 TB — corpus×queries is linear in
    * the corpus, and the slice layout means no payload inflation (the
    * 4 subvectors are views of the one stored array). Ties break on
    * cand_id; ids-only output so no float crosses the oracle. */
  def e30Maxsim(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    def parts(src: String, p: String): Seq[Column] =
      (0 until 4).flatMap { i =>
        val sl = slice(col(src), 1 + 16 * i, 16)
        Seq(sl.as(s"$p$i"), vec_norm(sl).as(s"${p}n$i"))
      }
    val q = emb.filter(col("vec_id") < 8).limit(8)
      .select(col("vec_id").as("query_id") +: parts("embedding", "q"): _*)
    val c = emb
      .select(col("vec_id").as("cand_id") +: parts("embedding", "c"): _*)
    def cos(i: Int, j: Int): Column =
      vec_dot(col(s"q$i"), col(s"c$j")) / (col(s"qn$i") * col(s"cn$j"))
    // per query subvector, the best-matching candidate subvector;
    // summed left-to-right so the IEEE fold order matches the oracle
    val score = (0 until 4)
      .map(i => greatest(cos(i, 0), cos(i, 1), cos(i, 2), cos(i, 3)))
      .reduceLeft(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cand_id"))
    c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), score.as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("query_id", "cand_id", "rnk")
  }

  /** e31 — MMR DIVERSIFIED TOP-K (maximal marginal relevance): the
    * serving-side answer to "the top-5 are five copies of the same
    * thing" — greedily picks k results maximizing
    * `λ·sim(q,c) − (1−λ)·max_{s∈picked} sim(c,s)` (λ = 0.7), so each
    * pick is relevant AND far from what's already shown. The
    * redundancy the e9/SemDeDup family removes from the CORPUS, this
    * removes from each RESULT LIST at query time.
    *
    * Scale shape: candidate generation is the e1 corpus-scan shape
    * (bounded query set broadcast in, WindowGroupLimit top-20); every
    * greedy round then runs on broadcast-scale relations — the
    * candidate set is queries×20 rows and the pairwise-sim relation
    * queries×20×19, both independent of corpus size, which is what
    * makes MMR viable at serving time at all. The k rounds are
    * UNROLLED (the g1 fixed-iteration discipline), so Catalyst sees
    * one static DAG — no driver-side loop over collected rows. Ties
    * break to the lowest cand_id; ids-only output. */
  def e31Mmr(s: SparkSession, d: String, k: Int = 5,
      nCand: Int = 20): DataFrame = {
    val emb = embeddings(s, d)
    val q = emb.filter(col("vec_id") < 8).limit(8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("simq").desc, col("cand_id"))
    // queries×nCand rows, re-read by every greedy round — without the
    // memo pin each unrolled round (and each union branch) replays
    // the corpus scan, the round-5 "composition × union" plan
    // explosion (402 parquet scans at k=5). Bounded + many-consumer =
    // exactly the pin the house rule allows.
    val cands = graft.SessionMemo.cached(s, "Similarity.e31cands", d,
        nCand) {
      emb
        .select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
        .join(broadcast(q), col("query_id") =!= col("cand_id"))
        .select(col("query_id"), col("cand_id"), col("cv"),
          cosine(col("qv"), col("cv")).as("simq"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= nCand)
        .select("query_id", "cand_id", "cv", "simq")
        // queries×nCand rows: one partition is the right layout for
        // the greedy rounds (at production query volumes, partition
        // by query batch instead) — leaving the corpus scan's 32
        // partitions in place made every round a 32-task shuffle of
        // near-empty tasks
        .coalesce(1)
    }
    val pairSim = graft.SessionMemo.cached(s, "Similarity.e31pairsim", d,
        nCand) {
      cands
        .select(col("query_id"), col("cand_id").as("a"),
          col("cv").as("av"))
        .join(cands.select(col("query_id"), col("cand_id").as("b"),
          col("cv").as("bv")), Seq("query_id"))
        .filter(col("a") =!= col("b"))
        .select(col("query_id"), col("a"), col("b"),
          cosine(col("av"), col("bv")).as("sim"))
    }
    val base = cands.select("query_id", "cand_id", "simq")
    // round t references round t−1 THREE times (redundancy join,
    // anti-join, union), so a bare recurrence hands Catalyst a
    // 3^k-node TREE — at k=5 the driver spends ~6 s per action just
    // canonicalizing/planning it, caching included (cache lookup
    // canonicalizes too; 31 s rows in the first sweep). Each round's
    // pick relation is queries×1 ROWS, so an eager localCheckpoint
    // truncates the lineage to a leaf for ~nothing: rounds become k
    // constant-size jobs over the two pinned relations and the plan
    // the next round sees is always depth-1. Memoized per (session,
    // dir) like the relations themselves.
    var picks = graft.SessionMemo.checkpointed(s, "Similarity.e31pick", d,
        nCand, 1)(
      base.groupBy("query_id")
        .agg(max_by(col("cand_id"),
          struct(col("simq"), (-col("cand_id")).as("t"))).as("sel_id"))
        .select(col("query_id"), col("sel_id"), lit(1).as("pick")))
    for (t <- 2 to k) {
      val prev = picks
      val next = graft.SessionMemo.checkpointed(s, "Similarity.e31pick", d,
          nCand, t) {
        val maxSel = pairSim
          .join(prev.select(col("query_id"), col("sel_id").as("b")),
            Seq("query_id", "b"))
          .groupBy(col("query_id"), col("a"))
          .agg(max(col("sim")).as("maxsel"))
        base
          .join(prev.select(col("query_id"),
            col("sel_id").as("cand_id"), lit(true).as("taken")),
            Seq("query_id", "cand_id"), "left")
          .filter(col("taken").isNull)
          .join(maxSel.withColumnRenamed("a", "cand_id"),
            Seq("query_id", "cand_id"))
          .select(col("query_id"), col("cand_id"),
            (lit(0.7) * col("simq") - lit(0.3) * col("maxsel"))
              .as("score"))
          .groupBy("query_id")
          .agg(max_by(col("cand_id"),
            struct(col("score"), (-col("cand_id")).as("t")))
            .as("sel_id"))
          .withColumn("pick", lit(t))
          .unionByName(prev)
      }
      picks = next
    }
    picks.select(col("query_id"), col("pick"), col("sel_id").as("cand_id"))
  }

  /** e32 — MULTI-PROBE LSH ANN: each query probes its own 12-bit
    * hyperplane bucket PLUS the 12 Hamming-distance-1 neighbors (one
    * sign-bit flip each — the perturbation most likely to hold a
    * near-neighbor that fell on the other side of one hyperplane),
    * then exact-cosine-reranks the union to top-5. The classic
    * index-size/recall trade: probing 13 buckets recovers most of
    * what 13 independent hash TABLES would, while storing the corpus
    * ONCE — at 100 TB that is 13× less index, bought with 13
    * equi-join lookups per query (Lv et al., VLDB'07 shape).
    *
    * Scale shape: the probe fan-out is queries×13 INTEGER keys (a
    * generator on the bounded query set, broadcast into the bucket
    * join); probes are distinct buckets so no candidate dedup is
    * needed; candidate floats are read only for matched rows; per-
    * query top-k prunes before the exchange (WindowGroupLimit). The
    * bucket relation is the SAME one e2 dumps, so the oracle
    * re-derives probes/candidates/rerank from that dump verbatim. */
  def e32Multiprobe(s: SparkSession, d: String, nBits: Int = 12,
      topK: Int = 5): DataFrame = {
    val emb = embeddings(s, d)
    val bucketed = emb.select(col("vec_id"), col("embedding"),
      hyperplane_sig(col("embedding"), nBits).as("bucket"))
    val probes = bucketed.filter(col("vec_id") < 10).limit(10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("bucket"),
        explode(expr(s"sequence(-1, ${nBits - 1})")).as("flip"))
      .select(col("query_id"), col("qv"),
        when(col("flip") === -1, col("bucket"))
          .otherwise(expr("bucket ^ shiftleft(1, flip)")).as("pb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    bucketed
      .join(broadcast(probes),
        col("pb") === col("bucket") && col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        cosine(col("qv"), col("embedding")).as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
      .select("query_id", "cand_id", "rnk")
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e30_maxsim" -> e30Maxsim _,
    "e31_mmr" -> ((s: SparkSession, d: String) => e31Mmr(s, d)),
    "e32_multiprobe" ->
      ((s: SparkSession, d: String) => e32Multiprobe(s, d)),
    "e26_mrr" -> e26Mrr _,
    "e28_ndcg" -> e28Ndcg _,
    "e29_embedding_drift" -> e29EmbeddingDrift _,
    "e27_semantic_decontam" -> e27SemanticDecontam _,
    "e25_pq_distortion" -> ((s: SparkSession, d: String) =>
      e25PqDistortion(s, d)),
    "e24_list_balance" -> e24ListBalance _,
    "e23_recall_curve" -> e23RecallCurve _,
    "e22_hard_negatives" -> e22HardNegatives _,
    "e21_ood_audit" -> e21OodAudit _,
    "e20_range_search" ->
      ((s: SparkSession, d: String) => e20RangeSearch(s, d)),
    "e19_ivf_incremental" ->
      ((s: SparkSession, d: String) => e19IvfIncremental(s, d)),
    "e18_hybrid_rrf" -> e18HybridRrf _,
    "e17_filtered_ann" -> e17FilteredAnn _,
    "e16_matryoshka" -> e16Matryoshka _,
    "e15_recall_eval" -> e15RecallEval _,
    "e9_semdedup" -> e9SemDedup _,
    "e10_ivf_persisted" ->
      ((s: SparkSession, d: String) => e10IvfPersisted(s, d)),
    "e5_ivf_ann" -> e5IvfAnn _,
    "e6_ivf_kmeans" ->
      ((s: SparkSession, d: String) => e6IvfKmeans(s, d)),
    "e1_cosine_topk" -> e1CosineTopK _,
    "e2_lsh_ann" -> e2LshAnn _,
    "e3_cosine_near_dup" -> e3CosineNearDup _,
    "e4_label_centroid" -> e4LabelCentroidDist _,
    "e7_quantize" -> e7Quantize _,
    "e11_sq8_topk" ->
      ((s: SparkSession, d: String) => e11Sq8TopK(s, d)),
    "e12_sign_topk" ->
      ((s: SparkSession, d: String) => e12SignTopK(s, d)),
    "e8_ivf_pq" -> e8IvfPqAnn _,
    "e13_knn_graph" -> e13KnnGraph _,
    "e14_rerank" -> e14Rerank _,
  )
}
