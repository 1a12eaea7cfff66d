package graft.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Similarity
import graft.link.Embed

/** NIL-mention clustering — new-entity discovery. Spark re-expression of
  * the reference's 3-stage single-linkage agglomerative clustering
  * (nilcluster/main.py:175-309):
  *
  *   stage 1: surface-string clustering, Damerau-Levenshtein metric with
  *            short-token penalty, threshold 0.2 (main.py:197-205);
  *   stage 2: semantic sub-clustering within each string cluster, cosine
  *            threshold 0.036 (main.py:227-236);
  *   stage 3: centroid-level regrouping, cosine threshold 0.05
  *            (main.py:262-273);
  *   breakup: clusters with > 25 distinct lowercase mentions re-cluster
  *            at a tighter string threshold (main.py:287-303);
  *   centers: 1-medoid per final cluster (TimeEvolving.py:135-143).
  *
  * Single-linkage + threshold == connected components of the eps-graph.
  *
  * SCALE DESIGN. Clustering runs over DISTINCT lowercase surfaces, never
  * raw mentions: 10^12 mentions collapse to the surface vocabulary first
  * (one distinct + one broadcast-join back). The surface set is usually
  * small enough to cluster on the driver (deterministic union-find over
  * BLOCKED candidate pairs — same blocking as the distributed path, no
  * all-pairs); above `LocalLimit` surfaces the identical stages run
  * distributed: blocked pair join + [[ConnectedComponents]] min-id
  * label propagation. Both paths share the blocking, the metrics, and
  * the min-surface component key, so they produce identical clusters
  * (property-tested).
  */
object NilCluster {

  // Stage-1 string threshold transfers from the reference unchanged
  // (same metric, same normalization). The stage-2/3 cosine thresholds
  // are RE-DERIVED for the hashed trigram embedding space: the
  // reference's 0.036 / 0.05 assume 1024-d BERT vectors where
  // same-entity mentions are near-identical; in trigram space a
  // one-char typo pair sits at cosine distance ~0.3. Mapping documented
  // in FIXTURES.md: 0.036 -> 0.5 (keep string-cluster members together
  // unless semantically far), 0.05 -> 0.15 (centroid merge only for
  // near-identical clusters).
  val Stage1Threshold = 0.2
  val Stage2Threshold = 0.5
  val Stage3Threshold = 0.15
  val BreakupSize = 25
  val BreakupThreshold = 0.1

  /** Max members per blocking key before the block is dropped from pair
    * generation. A head token ("the"-class surface token) otherwise makes
    * the within-block pair join quadratic (10^6 members -> 10^12 pairs).
    * Surfaces in an overfull block still pair through their OTHER keys
    * (remaining tokens + 2-char prefix), so recall degrades gracefully
    * and identically on the local and distributed paths. The surface
    * clusterers take it as a defaulted parameter so a test can exercise
    * the cap on a small input.
    */
  val BlockCap: Int = 5000

  /** Max distinct surfaces for the driver-side path. ~100k surfaces x
    * 64-d float = ~26 MB — comfortably driver-sized; beyond that the
    * distributed path takes over.
    */
  val LocalLimit = 100000L

  // ---------------------------------------------------------------------
  // shared pure kernels
  // ---------------------------------------------------------------------

  /** Blocking keys of a surface: its cleaned tokens + 2-char prefix. */
  def blockKeys(surface: String): Seq[String] =
    (surface.split("\\s+").filter(_.nonEmpty) :+ surface.take(2)).distinct.toSeq

  /** Sign-LSH bucket over the leading 8 dims (stage-3 blocking). A
    * centroid pair with cosine distance < 0.05 is near-parallel, so its
    * leading-dim signs almost surely agree; documented approximation of
    * the reference's all-pairs stage 3.
    */
  def signBucket(v: Array[Float]): Int = {
    var b = 0
    var i = 0
    while (i < 8 && i < v.length) { b = (b << 1) | (if (v(i) >= 0) 1 else 0); i += 1 }
    b
  }

  /** Banded sign-LSH for stage-2 pair generation inside OVERSIZE stage-1
    * components (both paths use the same rule, keeping local/distributed
    * clusters identical). One axis-aligned 8-bit bucket is far too
    * selective for the 0.5-cosine stage-2 threshold (θ<60° ⇒ per-plane
    * collision ≥ 1−θ/π ≈ 2/3, so an 8-plane bucket collides with
    * probability ≈ (2/3)^8 ≈ 4%). Instead: `SubBands` independent bands
    * of `SubBandPlanes` seeded random hyperplanes each — a true pair
    * shares ≥1 band with probability ≥ 1−(1−(2/3)^4)^8 ≈ 0.83, and
    * component transitivity (union-find / connected components) recovers
    * most of the remainder through chains. Per-band buckets above
    * BlockCap are still dropped, so pair volume stays ≤ bands·cap² per
    * component.
    */
  val SubBands = 8
  val SubBandPlanes = 4
  def signBand(v: Array[Float], band: Int): Int = {
    var b = 0
    var p = 0
    while (p < SubBandPlanes) {
      var s = 0.0
      var i = 0
      while (i < v.length) {
        // deterministic ±1 hash of (band, plane, coordinate)
        var h = band * 0x9E3779B9 + p * 0x85EBCA6B + i * 0xC2B2AE35
        h ^= h >>> 16; h *= 0x45D9F3B; h ^= h >>> 16
        s += (if ((h & 1) == 0) v(i) else -v(i))
        i += 1
      }
      b = (b << 1) | (if (s >= 0) 1 else 0)
      p += 1
    }
    b
  }

  // ---------------------------------------------------------------------
  // driver-side path (surface set fits on driver)
  // ---------------------------------------------------------------------

  /** Pure local clustering of surfaces -> Map(surface -> (clusterKey,
    * center)). Deterministic: input order-independent (surfaces sorted,
    * min-id union-find, explicit tie-breaks).
    */
  def clusterSurfacesLocal(surfacesIn: Seq[String],
      blockCap: Int = BlockCap): Map[String, (String, Array[Float])] = {
    val surfaces = surfacesIn.distinct.sorted.toArray
    val n = surfaces.length
    if (n == 0) return Map.empty
    val embs = surfaces.map(Embed.embed(_))

    def blockedPairs(idx: Seq[Int]): Iterator[(Int, Int)] = {
      val byKey = scala.collection.mutable.HashMap.empty[String, List[Int]]
      idx.foreach { i =>
        blockKeys(surfaces(i)).foreach(k => byKey(k) = i :: byKey.getOrElse(k, Nil))
      }
      byKey.valuesIterator
        .filter(_.size <= blockCap) // same hot-block cap as distributed
        .flatMap { is =>
          val v = is.sorted.toArray
          for (a <- v.indices.iterator; b <- (a + 1) until v.length)
            yield (v(a), v(b))
        }
    }

    // stage 1: string eps-graph over blocked pairs
    val uf1 = new UnionFind(n)
    blockedPairs(0 until n).foreach { case (a, b) =>
      if (uf1.find(a) != uf1.find(b) &&
          Similarity.damLevNorm(surfaces(a), surfaces(b)) < Stage1Threshold)
        uf1.union(a, b)
    }
    val c1 = uf1.labels

    // stage 2: cosine sub-clusters within each string cluster. Oversize
    // components (> BlockCap) generate pairs through banded sign-LSH
    // ([[signBand]]) instead of all-pairs — the SAME rule as the
    // distributed path, so both paths enumerate the same pair set.
    val uf2 = new UnionFind(n)
    c1.zipWithIndex.groupBy(_._1).values.foreach { members =>
      val ms = members.map(_._2).sorted
      val pairs: Iterator[(Int, Int)] =
        if (ms.length <= blockCap)
          for (x <- ms.indices.iterator; y <- (x + 1) until ms.length)
            yield (ms(x), ms(y))
        else
          (0 until SubBands).iterator.flatMap { g =>
            ms.groupBy(i => signBand(embs(i), g)).toSeq.sortBy(_._1)
              .iterator.map(_._2)
              .filter(_.length <= blockCap)
              .flatMap { grp =>
                val v = grp.sorted
                for (x <- v.indices.iterator; y <- (x + 1) until v.length)
                  yield (v(x), v(y))
              }
          }
      pairs.foreach { case (a, b) =>
        if (uf2.find(a) != uf2.find(b) &&
            Similarity.cosineDist(embs(a), embs(b)) < Stage2Threshold)
          uf2.union(a, b)
      }
    }
    // sub-cluster id respects stage-1 boundaries by construction
    val c2 = uf2.labels

    // stage 3: centroid regrouping across sub-clusters (sign buckets)
    val subIds = c2.distinct.sorted
    val centroid: Map[Int, Array[Float]] = subIds.map { s =>
      val ms = (0 until n).filter(c2(_) == s)
      val acc = new Array[Double](embs(ms.head).length)
      ms.foreach { m => var i = 0; while (i < acc.length) { acc(i) += embs(m)(i); i += 1 } }
      s -> Embed.l2(acc.map(x => (x / ms.size).toFloat))
    }.toMap
    val ufSub = new UnionFind(n) // union on representative indices
    subIds.groupBy(s => signBucket(centroid(s))).values.foreach { group =>
      val g = group.sorted
      for (x <- g.indices; y <- (x + 1) until g.length) {
        val (a, b) = (g(x), g(y))
        if (Similarity.cosineDist(centroid(a), centroid(b)) < Stage3Threshold)
          ufSub.union(a, b)
      }
    }
    var c3 = (0 until n).map(i => ufSub.find(c2(i))).toArray

    // breakup of oversize clusters at the tighter string threshold
    val bySize = c3.zipWithIndex.groupBy(_._1)
    bySize.values.filter(_.length > BreakupSize).foreach { members =>
      val ms = members.map(_._2).sorted
      val local = new UnionFind(n)
      blockedPairs(ms.toIndexedSeq).foreach { case (a, b) =>
        if (local.find(a) != local.find(b) &&
            Similarity.damLevNorm(surfaces(a), surfaces(b)) < BreakupThreshold)
          local.union(a, b)
      }
      ms.foreach(i => c3(i) = local.find(i))
    }

    // final components; key = min surface; center = 1-medoid (A4)
    val comps = c3.zipWithIndex.groupBy(_._1).values.map(_.map(_._2).sorted)
    comps.flatMap { ms =>
      val key = surfaces(ms.head) // ms sorted, surfaces sorted => min surface
      val center =
        if (ms.length == 1) embs(ms.head)
        else {
          // medoid: min summed cosine distance, tie-break surface asc
          var best = ms.head
          var bestD = Double.MaxValue
          ms.foreach { i =>
            var d = 0.0
            ms.foreach { j => if (i != j) d += Similarity.cosineDist(embs(i), embs(j)) }
            if (d < bestD - 1e-12 ||
                (math.abs(d - bestD) <= 1e-12 && surfaces(i) < surfaces(best))) {
              best = i; bestD = d
            }
          }
          embs(best)
        }
      ms.map(i => surfaces(i) -> (key, center))
    }.toMap
  }

  // ---------------------------------------------------------------------
  // distributed path (huge surface vocabularies)
  // ---------------------------------------------------------------------

  private val damLevNormUdf = udf((a: String, b: String) => Similarity.damLevNorm(a, b))
  private val cosDistUdf =
    udf((a: Seq[Float], b: Seq[Float]) => Similarity.cosineDist(a.toArray, b.toArray))
  private val embedUdf = udf((s: String) => Embed.embed(s))
  private val signBucketUdf = udf((v: Seq[Float]) => signBucket(v.toArray))
  private val signBandUdf = udf((v: Seq[Float], g: Int) => signBand(v.toArray, g))

  private def blockedPairsDF(surfaces: DataFrame, blockCap: Int): DataFrame = {
    val withKeys = surfaces
      .withColumn("bkey", explode(array_union(
        array_distinct(split(col("surface"), "\\s+")),
        array(substring(col("surface"), 1, 2)))))
    // hot-block cap (same rule/constant as the local path): drop keys
    // whose membership exceeds BlockCap BEFORE the self-join — one tiny
    // aggregate instead of a quadratic blowup on stop-token blocks
    val keyCounts = withKeys.groupBy("bkey")
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= blockCap)
      .select("bkey")
    val capped = withKeys.join(keyCounts, Seq("bkey"))
    val a = capped.select(col("bkey"), col("surface").as("src"))
    val b = capped.select(col("bkey"), col("surface").as("dst"))
    a.join(b, Seq("bkey"))
      .filter(col("src") < col("dst"))
      .select("src", "dst").distinct()
  }

  /** Distributed surface clustering -> DataFrame(surface, cluster_key,
    * center). Same stages/metrics/keys as the local path.
    */
  def clusterSurfacesDistributed(spark: SparkSession, surfacesDf: DataFrame,
      blockCap: Int = BlockCap): DataFrame = {
    val surfaces = surfacesDf.select("surface").distinct()
      .withColumn("emb", embedUdf(col("surface"))).cache()

    val e1 = blockedPairsDF(surfaces, blockCap)
      .filter(damLevNormUdf(col("src"), col("dst")) < Stage1Threshold)
    val cc1 = ConnectedComponents.run(spark,
      surfaces.select(col("surface").as("id")), e1)
      .withColumnRenamed("id", "surface").withColumnRenamed("comp", "c1")
    val s1 = surfaces.join(cc1, Seq("surface"))

    // Stage-2 guard: the within-c1 self-join is quadratic in the largest
    // stage-1 component, and a transitive chain of near-dup surfaces can
    // grow a component without limit — BlockCap on the BLOCKS does not
    // bound it. Components above BlockCap generate pairs through banded
    // sign-LSH ([[signBand]]: ~0.83 per-pair recall at the stage-2
    // threshold plus CC transitivity, vs ~4% for one 8-bit bucket);
    // per-band buckets still above the cap are dropped — never a
    // quadratic blowup, pair volume ≤ bands·cap² per component. Sub-cap
    // components keep the exact all-pairs join (band/sub pinned to -1),
    // and the local path applies the identical rule, so both paths
    // enumerate the same pair set.
    val c1Sizes = s1.groupBy("c1").agg(count(lit(1)).as("c1n"))
    val s1k = s1.join(c1Sizes, Seq("c1"))
    val s1smallK = s1k.filter(col("c1n") <= blockCap)
      .withColumn("band", lit(-1)).withColumn("sub", lit(-1))
    val s1bigK = s1k.filter(col("c1n") > blockCap)
      .withColumn("band", explode(array((0 until SubBands).map(lit): _*)))
      .withColumn("sub", signBandUdf(col("emb"), col("band")))
    val s1kb = s1smallK.unionByName(s1bigK)
    val subOk = s1kb.groupBy("c1", "band", "sub").agg(count(lit(1)).as("subn"))
      .filter(col("subn") <= blockCap).select("c1", "band", "sub")
    val s1c = s1kb.join(subOk, Seq("c1", "band", "sub"))
    val l = s1c.select(col("c1"), col("band"), col("sub"),
      col("surface").as("src"), col("emb").as("eA"))
    val r = s1c.select(col("c1"), col("band"), col("sub"),
      col("surface").as("dst"), col("emb").as("eB"))
    val e2 = l.join(r, Seq("c1", "band", "sub")).filter(col("src") < col("dst"))
      // a pair can collide in several bands: dedup BEFORE the cosine UDF
      .dropDuplicates("src", "dst")
      .filter(cosDistUdf(col("eA"), col("eB")) < Stage2Threshold)
      .select("src", "dst")
    val cc2 = ConnectedComponents.run(spark,
      s1.select(col("surface").as("id")), e2)
      .withColumnRenamed("id", "surface").withColumnRenamed("comp", "c2raw")
    val s2 = s1.join(cc2, Seq("surface"))
      .withColumn("c2", concat_ws("|", col("c1"), col("c2raw")))

    val cent = s2.groupBy(col("c2"))
      .agg(VectorAgg.meanVec(col("emb")).as("centroid"))
      .withColumn("bucket", signBucketUdf(col("centroid")))
    val cl3 = cent.select(col("bucket"), col("c2").as("src"), col("centroid").as("cA"))
    val cr3 = cent.select(col("bucket"), col("c2").as("dst"), col("centroid").as("cB"))
    val e3 = cl3.join(cr3, Seq("bucket")).filter(col("src") < col("dst"))
      .filter(cosDistUdf(col("cA"), col("cB")) < Stage3Threshold)
      .select("src", "dst")
    val cc3 = ConnectedComponents.run(spark,
      cent.select(col("c2").as("id")), e3)
      .withColumnRenamed("id", "c2").withColumnRenamed("comp", "c3")

    val s3 = s2.join(cc3, Seq("c2"))
      .withColumn("cluster_key",
        min(col("surface")).over(Window.partitionBy(col("c3"))))

    // breakup: distributed variant regroups oversize clusters by the
    // tighter threshold (same rule as local path)
    val sizes = s3.groupBy("cluster_key").agg(countDistinct("surface").as("nsurf"))
    val flagged = s3.join(sizes, Seq("cluster_key"))
    val small = flagged.filter(col("nsurf") <= BreakupSize)
    val bigPart = flagged.filter(col("nsurf") > BreakupSize).cache()
    val result =
      if (bigPart.isEmpty) small
      else {
        val bigSurf = bigPart.select(col("cluster_key").as("pk"), col("surface")).distinct()
        // breakup pair guard: oversize-cluster groups (> BlockCap) switch
        // from all-pairs to token/prefix blocking within the group (the
        // breakup criterion is STRING distance, so near pairs share
        // token or 2-char-prefix keys), capped like blockedPairsDF;
        // sub-cap groups keep the exact all-pairs join
        val pkSizes = bigSurf.groupBy("pk").agg(count(lit(1)).as("pn"))
        val pkSmall = bigSurf.join(
          pkSizes.filter(col("pn") <= blockCap).select("pk"), Seq("pk"))
        val pkHuge = bigSurf.join(
          pkSizes.filter(col("pn") > blockCap).select("pk"), Seq("pk"))
        val ebSmall = pkSmall.select(col("pk"), col("surface").as("src"))
          .join(pkSmall.select(col("pk"), col("surface").as("dst")), Seq("pk"))
          .filter(col("src") < col("dst"))
          .select("src", "dst")
        val hugeKeyed = pkHuge.withColumn("bkey", explode(array_union(
          array_distinct(split(col("surface"), "\\s+")),
          array(substring(col("surface"), 1, 2)))))
        val hugeOk = hugeKeyed.groupBy("pk", "bkey")
          .agg(count(lit(1)).as("bn"))
          .filter(col("bn") <= blockCap).select("pk", "bkey")
        val hugeCapped = hugeKeyed.join(hugeOk, Seq("pk", "bkey"))
        val ebHuge = hugeCapped.select(col("pk"), col("bkey"), col("surface").as("src"))
          .join(hugeCapped.select(col("pk"), col("bkey"), col("surface").as("dst")),
            Seq("pk", "bkey"))
          .filter(col("src") < col("dst"))
          .select("src", "dst").distinct()
        val eb = ebSmall.unionByName(ebHuge)
          .filter(damLevNormUdf(col("src"), col("dst")) < BreakupThreshold)
        val ccb = ConnectedComponents.run(spark,
          bigSurf.select(col("surface").as("id")), eb)
          .withColumnRenamed("id", "surface").withColumnRenamed("comp", "new_key")
        val rebuilt = bigPart.drop("cluster_key").join(ccb, Seq("surface"))
          .withColumnRenamed("new_key", "cluster_key")
        small.unionByName(rebuilt.select(small.columns.map(col): _*))
      }

    // medoid center per final cluster. The exact medoid needs an
    // all-pairs distance sum — quadratic in cluster size, so it is
    // gated to clusters <= BlockCap; above the cap the center is the
    // member nearest the centroid (O(n), deterministic tie-break) — the
    // standard scale approximation, and within-tolerance for the NIL
    // center's only consumer (new-entity embedding).
    val fin = result.select("surface", "emb", "cluster_key").cache()
    val finSizes = fin.groupBy("cluster_key").agg(count(lit(1)).as("fn"))
    val finSmall = fin.join(
      finSizes.filter(col("fn") <= blockCap).select("cluster_key"), Seq("cluster_key"))
    val finBig = fin.join(
      finSizes.filter(col("fn") > blockCap).select("cluster_key"), Seq("cluster_key"))

    val fa = finSmall.select(col("cluster_key"), col("surface").as("sA"), col("emb").as("eA"))
    val fb = finSmall.select(col("cluster_key"), col("surface").as("sB"), col("emb").as("eB"))
    val sums = fa.join(fb, Seq("cluster_key"))
      .filter(col("sA") =!= col("sB"))
      .withColumn("d", cosDistUdf(col("eA"), col("eB")))
      .groupBy(col("cluster_key"), col("sA")).agg(sum(col("d")).as("sumd"))
    val medSmall = finSmall
      .join(sums.withColumnRenamed("sA", "surface"), Seq("cluster_key", "surface"), "left")
      .withColumn("sumd", coalesce(col("sumd"), lit(0.0)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster_key")).orderBy(col("sumd").asc, col("surface").asc)))
      .filter(col("rn") === 1)
      .select(col("cluster_key"), col("emb").as("center"))

    val centroids = finBig.groupBy(col("cluster_key"))
      .agg(VectorAgg.meanVec(col("emb")).as("centroid"))
    val medBig = finBig.join(centroids, Seq("cluster_key"))
      .withColumn("d", cosDistUdf(col("emb"), col("centroid")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster_key")).orderBy(col("d").asc, col("surface").asc)))
      .filter(col("rn") === 1)
      .select(col("cluster_key"), col("emb").as("center"))

    val med = medSmall.unionByName(medBig)
    fin.select("surface", "cluster_key").join(med, Seq("cluster_key"))
      .select("surface", "cluster_key", "center")
  }

  // ---------------------------------------------------------------------
  // entry point
  // ---------------------------------------------------------------------

  /** Full clustering result. `surfaceMap` (surface -> cluster_key) is
    * vocabulary-sized — the collapse that makes 10^12 mentions
    * clusterable — and `isLocal` says whether it is a driver-built
    * LocalRelation (broadcastable for free). Downstream joins that only
    * need a mention's cluster should go through surfaceMap by SURFACE,
    * not through `assignments` by annotation key: the assignments frame
    * is mention-sized, and joining it back to the linked frame was
    * measured flipping to a spilling sort-merge join at 240k docs
    * (15.7 -> 276.6 core-s for the resolve stage, 1.5x input).
    */
  final case class ClusterResult(assignments: DataFrame, clusters: DataFrame,
                                 surfaceMap: DataFrame, isLocal: Boolean)

  /** Cluster NIL mentions. Input columns required:
    * (doc_id, annset, ann_id, mention, mention_type). Returns
    * (assignments, clusters):
    *   assignments: doc_id, annset, ann_id, cluster_key
    *   clusters: cluster_key, title, cluster_type, nelements, n_surfaces,
    *             center(array<float>)
    */
  def cluster(spark: SparkSession, nilMentions: DataFrame,
              localLimit: Long = LocalLimit): (DataFrame, DataFrame) = {
    val r = clusterFull(spark, nilMentions, localLimit)
    (r.assignments, r.clusters)
  }

  def clusterFull(spark: SparkSession, nilMentions: DataFrame,
                  localLimit: Long = LocalLimit): ClusterResult = {
    import spark.implicits._
    // ONE mention-scale pass (r5): collapse to the (surface, case-form,
    // type) vocabulary FIRST — a map-side-combining aggregate — and
    // derive everything downstream (surface set, titles, types, sizes)
    // from that vocabulary-scale frame. The previous shape persisted the
    // mention-scale frame TWICE (normalized + assigned) and scanned the
    // assigned persist three more times (two mode aggregates + sizes),
    // each a separate job with its own window/join stages: ~4 s of
    // per-level serial stage dispatch on the bench ladder for aggregates
    // whose true output is vocabulary-sized. Counts are exact, so mode /
    // nelements / n_surfaces are unchanged (sum of per-form counts ==
    // count over mentions).
    val counts = nilMentions
      .groupBy(lower(col("mention")).as("surface"),
        col("mention"), col("mention_type"))
      .agg(count(lit(1)).as("cnt"))
      .persist(graft.Ckpt.storage(spark))

    // one job decides the path AND feeds the local path: take(limit+1)
    // instead of count()+collect() halves the eager-job count here
    val surfacesDf = counts.select("surface").distinct()
    val head = surfacesDf.as[String].take(localLimit.toInt + 1)
    val isLocal = head.length <= localLimit

    val surfToCluster: DataFrame =
      if (isLocal) {
        val local = clusterSurfacesLocal(head.toSeq)
        local.toSeq.map { case (s, (k, c)) => (s, k, c) }
          .toDF("surface", "cluster_key", "center")
      } else {
        clusterSurfacesDistributed(spark, surfacesDf)
      }

    // broadcast hint ONLY on the local path (a driver-built LocalRelation
    // bounded by localLimit); the distributed path's surface map is
    // unbounded — hinting broadcast there would ship the whole
    // vocabulary to every executor. AQE picks the join there.
    val surfKey = surfToCluster.select("surface", "cluster_key")

    // title (A1) / type (A2) mode with (count desc, value asc) tie-break,
    // nelements, n_surfaces — ONE vocabulary-scale aggregate over the
    // keyed counts ([[clusterAggUdf]]; value order matches Spark's
    // UTF8String binary ordering, which the previous orderBy used).
    val withKey = counts.join(
      if (isLocal) broadcast(surfKey) else surfKey, Seq("surface"))
    val agg = withKey.groupBy(col("cluster_key"))
      .agg(clusterAggUdaf(col("surface"), col("mention"),
        col("mention_type"), col("cnt")).as("m"))
      .select(col("cluster_key"), col("m._1").as("title"),
        col("m._2").as("cluster_type"), col("m._3").as("nelements"),
        col("m._4").as("n_surfaces"))
    val centers = surfToCluster.select("cluster_key", "center")
      .dropDuplicates("cluster_key")
    val clusters = agg.join(
      if (isLocal) broadcast(centers) else centers, Seq("cluster_key"))

    // mention-scale assignments stay LAZY and unpersisted: Pipeline.run
    // resolves by surface (surfaceMap) and never consumes them; API
    // callers that fan out over assignments should checkpoint first.
    val assignments = nilMentions
      .withColumn("surface", lower(col("mention")))
      .join(if (isLocal) broadcast(surfKey) else surfKey, Seq("surface"))
      .select("doc_id", "annset", "ann_id", "cluster_key")
    ClusterResult(assignments, clusters, surfKey, isLocal)
  }

  /** Cluster-record aggregate over keyed (surface, mention, mention_type,
    * cnt) rows: (title, cluster_type, nelements, n_surfaces). Mode
    * tie-break = (count desc, value asc) in UTF-8 BYTE order — identical
    * to the `orderBy(cnt.desc, value.asc)` window it replaces, because
    * Spark's UTF8String comparison is unsigned byte-wise. A null value
    * sorts FIRST (smallest), matching Spark's nulls-first ascending
    * ordering (ADVICE r5: the previous UDF NPEd on null mention/type,
    * which the window it replaced tolerated).
    */
  private def utf8Less(a: String, b: String): Boolean = {
    if (a == null) return b != null // null < any non-null; null == null
    if (b == null) return false
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val m = math.min(x.length, y.length)
    while (i < m) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  private def weightedMode(m: scala.collection.Map[String, Long]): String = {
    var best: String = null
    var bestC = -1L
    m.foreach { case (v, c) =>
      if (c > bestC || (c == bestC && utf8Less(v, best))) { best = v; bestC = c }
    }
    best
  }

  /** Mutable buffer of the typed cluster aggregate (Kryo-encoded between
    * partial and merge phases).
    */
  final case class ClusterAggBuf(
      byMention: scala.collection.mutable.HashMap[String, Long],
      byType: scala.collection.mutable.HashMap[String, Long],
      surfaces: scala.collection.mutable.HashSet[String],
      var n: Long)

  /** Typed map-side-combining Aggregator replacing the r5
    * collect_list + UDF shape (VERDICT r5 #5): the per-cluster
    * vocabulary never materializes as one array — partial buffers hold
    * (value -> count) maps that merge associatively, so the plan is a
    * partial/final ObjectHashAggregate like every other aggregate here.
    * Mode/tie-break semantics identical (weightedMode at finish; counts
    * sum associatively, so the result is independent of merge order).
    */
  private val clusterAgg = new org.apache.spark.sql.expressions.Aggregator[
      (String, String, String, Long), ClusterAggBuf,
      (String, String, Long, Long)] {
    def zero: ClusterAggBuf = ClusterAggBuf(
      scala.collection.mutable.HashMap.empty,
      scala.collection.mutable.HashMap.empty,
      scala.collection.mutable.HashSet.empty, 0L)
    def reduce(b: ClusterAggBuf, x: (String, String, String, Long)): ClusterAggBuf = {
      val (s, mn, t, c) = x
      b.byMention(mn) = b.byMention.getOrElse(mn, 0L) + c
      b.byType(t) = b.byType.getOrElse(t, 0L) + c
      b.surfaces += s
      b.n += c
      b
    }
    def merge(a: ClusterAggBuf, b: ClusterAggBuf): ClusterAggBuf = {
      b.byMention.foreach { case (k, v) =>
        a.byMention(k) = a.byMention.getOrElse(k, 0L) + v }
      b.byType.foreach { case (k, v) =>
        a.byType(k) = a.byType.getOrElse(k, 0L) + v }
      a.surfaces ++= b.surfaces
      a.n += b.n
      a
    }
    def finish(b: ClusterAggBuf): (String, String, Long, Long) =
      (weightedMode(b.byMention), weightedMode(b.byType), b.n,
        b.surfaces.size.toLong)
    def bufferEncoder: org.apache.spark.sql.Encoder[ClusterAggBuf] =
      org.apache.spark.sql.Encoders.kryo[ClusterAggBuf]
    def outputEncoder: org.apache.spark.sql.Encoder[(String, String, Long, Long)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong)
  }

  private lazy val clusterAggUdaf =
    org.apache.spark.sql.functions.udaf(clusterAgg)
}
