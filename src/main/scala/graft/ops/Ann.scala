package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Similarity

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (exact, the FAISS-flat analog —
  * reference indexer/main.py:300-304 exact scan). Scale path: sign-LSH
  * bucketing (random-hyperplane sketch) with multi-probe — candidates
  * share a bucket, then exact rescoring inside buckets, mirroring the
  * reference's hnsw-then-exact-rescore pattern (indexer/main.py:304-317).
  */
object Ann {

  /** Exact top-k neighbors for each query vector. queries/corpus:
    * (id, vec). Deterministic tie-break (cos desc, corpus id asc).
    * Broadcast the smaller side (queries) — one pass over the corpus.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Similarity.cosineCol(col("qv"), col("cv")))
    // two-stage top-k: map-side combine keeps only k rows per query per
    // partition; shuffle volume = queries x k, not queries x corpus
    TopK.topKPerKey(scored, Seq("query_id"), "cos", "neighbor_id", k)
      .select("query_id", "neighbor_id", "cos", "rnk")
  }

  /** Max members per LSH bucket before the within-bucket self-join is
    * refined (same rule as NilCluster.BlockCap): a skewed sign pattern —
    * e.g. embeddings concentrated in one orthant — otherwise makes the
    * bucket join quadratic (10^6 members -> 10^12 pairs). Buckets above
    * the cap are split by a SECOND sign level (the next `dims` coords /
    * next `planes` hyperplanes); refined buckets still above the cap are
    * dropped from pair generation (graceful recall loss, never a blowup).
    * The LSH kernels take it as a defaulted parameter so a test can
    * exercise the cap on a small input.
    */
  val BucketCap: Int = 10000

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * murmur-based in [-1, 1).
    */
  private def planeComponent(plane: Int, dim: Int): Float = {
    val h = scala.util.hashing.MurmurHash3.productHash((plane, dim), 0x2545f491)
    (h.toDouble / Int.MaxValue).toFloat
  }

  /** Sign bucket over hyperplanes [offset, offset+planes). */
  private val bucketUdf = udf((v: Seq[Float], planes: Int, offset: Int) => {
    var b = 0
    var p = 0
    while (p < planes) {
      var s = 0.0
      var i = 0
      while (i < v.length) { s += v(i) * planeComponent(offset + p, i); i += 1 }
      b = (b << 1) | (if (s >= 0) 1 else 0)
      p += 1
    }
    b
  })

  /** Self-join of `b` (id, vec, bucket, bucket2) within buckets, with the
    * BucketCap skew guard: level-1 buckets above the cap join within
    * their level-2 refinement instead; refined buckets still above the
    * cap are dropped. Sub-cap buckets pair EXACTLY as an uncapped join
    * (refinement key pinned to -1 on both sides), so small-scale output
    * is unchanged. Pair volume is bounded by cap^2 per surviving bucket.
    *
    * Shape: both cap counts attach as WINDOW counts, not joins against
    * re-aggregates of `b` — the join form re-executed the banding scan
    * once per branch (isnotnull-pushdown breaks exchange-reuse
    * canonicalization; see TextAnalysis.bigramLm), measured 4 corpus
    * scans for e2. The windows shuffle by the same keys those joins
    * did (identical skew exposure, which the cap itself bounds), and
    * the final self-join sides are identical subtrees partitioned by
    * (bucket, bkey), so one exchange serves both.
    */
  private def cappedBucketPairs(b: DataFrame, cap: Int): DataFrame = {
    val capped = b
      .withColumn("n1", count(lit(1)).over(Window.partitionBy(col("bucket"))))
      .withColumn("bkey", when(col("n1") > cap, col("bucket2")).otherwise(lit(-1)))
      .withColumn("n2",
        count(lit(1)).over(Window.partitionBy(col("bucket"), col("bkey"))))
      .filter(col("n2") <= cap)
    val l = capped.select(col("bucket"), col("bkey"),
      col("id").as("query_id"), col("vec").as("qv"))
    val r = capped.select(col("bucket"), col("bkey"),
      col("id").as("neighbor_id"), col("vec").as("cv"))
    l.join(r, Seq("bucket", "bkey"))
      .filter(col("query_id") =!= col("neighbor_id"))
  }

  /** Axis-aligned sign-LSH top-k: bucket = sign pattern of the leading
    * `dims` coordinates (the degenerate random-hyperplane case where the
    * planes are coordinate axes). Same bucketed shape as [[lshTopK]] but
    * the bucket function is a pure column expression — SQL-expressible
    * for the correctness oracle AND whole-stage-codegen'd (no UDF).
    * Hot buckets are refined/capped (see [[BucketCap]]).
    */
  def signLshTopK(vectors: DataFrame, k: Int, dims: Int = 8,
                  bucketCap: Int = BucketCap): DataFrame = {
    def signBits(from: Int): org.apache.spark.sql.Column =
      (0 until dims).map { j =>
        // past-the-end coords (short vectors) contribute bit 0. `get` is
        // 0-based and returns NULL out of bounds even under ANSI mode
        // (Spark 4 default) — element_at would THROW there, so any
        // vector shorter than 2*dims would crash the refinement bits.
        when(get(col("vec"), lit(from + j)) >= 0f, lit(1 << j))
          .otherwise(lit(0))
      }.reduce(_ + _)
    val b = vectors.select(col("id"), col("vec"))
      .withColumn("bucket", signBits(0))
      .withColumn("bucket2", signBits(dims))
    val scored = cappedBucketPairs(b, bucketCap)
      .withColumn("cos", Similarity.cosineCol(col("qv"), col("cv")))
    TopK.topKPerKey(scored, Seq("query_id"), "cos", "neighbor_id", k)
      .select("query_id", "neighbor_id", "cos", "rnk")
  }

  /** IVF (inverted-file) ANN: every corpus vector is assigned to its
    * nearest of `nlist` seed centroids (the nlist smallest-id corpus
    * vectors — IVF over sampled training points without the k-means
    * refinement, so the index structure is deterministic and exactly
    * reproducible in SQL for the correctness oracle); each query probes
    * its `nprobe` nearest centroid lists and rescoring is exact cosine
    * within the probed lists. Expected scan fraction ~ nprobe/nlist of
    * the corpus — the pruning FAISS's IVF gives single-node (the
    * reference uses flat/hnsw indexes, indexer/main.py:300-317; IVF is
    * the analog that distributes, because lists shard by centroid id).
    *
    * Scale shape: centroids are tiny (nlist rows) — broadcast into both
    * the assignment pass and the probe pass; nearest-centroid is a
    * map-side-combining argmax (no window, one shuffle keyed by vector
    * id); the only large join is candidates keyed by centroid id, then
    * two-stage top-k. A hot list degrades toward the brute-force cost
    * for the queries probing it (never super-linear); salt via
    * SkewJoin.saltedJoin if list sizes skew at scale.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nlist: Int = 64, nprobe: Int = 4): DataFrame = {
    // cents and q are tiny but each has TWO consumers (assignment +
    // probe passes; probe + candidate hydrate) — persisted so neither
    // branch re-runs its derivation scan over the corpus. Seed and
    // assignment are the SHARED k-means kernel (graft.cluster.KMeans),
    // so the index uses exactly the contract its training step trains.
    val cents = graft.cluster.KMeans.seed(corpus, nlist).persist()
    val assign = graft.cluster.KMeans
      .assign(corpus.select(col("id"), col("vec")), cents)
      .select(col("cid"), col("id").as("neighbor_id"), col("vec").as("nv"))
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"))
      .persist()
    val probes = TopK.topKPerKey(
        q.crossJoin(broadcast(cents))
          .withColumn("cos", Similarity.cosineCol(col("qv"), col("cv"))),
        Seq("query_id"), "cos", "cid", nprobe)
      .select(col("query_id"), col("cid"))
    val cand = probes.join(q, Seq("query_id"))
      .join(assign, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", Similarity.cosineCol(col("qv"), col("nv")))
    TopK.topKPerKey(cand, Seq("query_id"), "cos", "neighbor_id", k)
      .select("query_id", "neighbor_id", "cos", "rnk")
  }

  def lshTopK(vectors: DataFrame, k: Int, planes: Int = 6,
              bucketCap: Int = BucketCap): DataFrame = {
    val b = vectors.select(col("id"), col("vec"))
      .withColumn("bucket", bucketUdf(col("vec"), lit(planes), lit(0)))
      .withColumn("bucket2", bucketUdf(col("vec"), lit(planes), lit(planes)))
    val scored = cappedBucketPairs(b, bucketCap)
      .withColumn("cos", Similarity.cosineCol(col("qv"), col("cv")))
    TopK.topKPerKey(scored, Seq("query_id"), "cos", "neighbor_id", k)
      .select("query_id", "neighbor_id", "cos", "rnk")
  }
}
