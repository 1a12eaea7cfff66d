package graft.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
  * (one distinct + one broadcast-join back). Only stage 1 is global, and
  * it is the only stage with two drivers: union-find on the driver up to
  * `LocalLimit` vocabulary rows, [[ConnectedComponents]] min-id label
  * propagation above it. Both take their candidate pairs from one rule
  * ([[blockKeys]] blocks, blocks above `BlockCap` dropped: [[blockPairs]])
  * and one metric ([[stringLink]]).
  *
  * Every later stage is ONE pure kernel over one group, written once and
  * run by both paths — in memory on the driver path, inside
  * `groupByKey(...).flatMapGroups` on the distributed path:
  *   [[stage2]]  one stage-1 component -> cosine sub-clusters;
  *   [[stage3]]  one [[signBucket]] of sub-cluster centroids -> merges;
  *   [[finish]]  one final cluster -> breakup, key (min surface), center;
  *   [[clusterRecord]]  one keyed cluster's vocabulary -> its record.
  * So the two paths give identical keys, centers, records and — numbered
  * in one key order — nil ids (tested).
  *
  * Scale bound of the distributed path: a group must fit in one task —
  * one stage-1 component, one sign bucket of centroids, or one final
  * cluster. The pair count stays bounded: a component or cluster above
  * `BlockCap` members switches from all pairs to banded sign-LSH
  * (stage 2) or blocking (breakup), with buckets and blocks above the
  * cap dropped, and its center to the member nearest the centroid.
  * Stage 3 compares all centroid pairs within one bucket.
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

  /** Max members per group before all-pairs work is replaced by a
    * bounded rule. For stage-1 blocks: a block above the cap is dropped
    * from pair generation — a head token ("the"-class surface token)
    * otherwise makes the within-block pairs quadratic (10^6 members ->
    * 10^12 pairs); surfaces in an overfull block still pair through their
    * OTHER keys (remaining tokens + 2-char prefix). The surface
    * clusterers take it as a defaulted parameter so a test can exercise
    * the cap on a small input.
    */
  val BlockCap: Int = 5000

  /** Max (surface, mention, mention_type) vocabulary rows for the
    * driver-side path — every distinct surface has at least one, so this
    * also bounds the surfaces the driver embeds (~100k x 64-d float =
    * ~26 MB) and, unlike a distinct-surface count, the rows it holds for
    * the cluster records. Beyond it the distributed path takes over.
    */
  val LocalLimit = 100000L

  // ---------------------------------------------------------------------
  // shared pure kernels
  // ---------------------------------------------------------------------

  /** Blocking keys of a surface: its cleaned tokens + 2-char prefix. */
  def blockKeys(surface: String): Seq[String] =
    (surface.split("\\s+").filter(_.nonEmpty) :+ surface.take(2)).distinct.toSeq

  /** Stage-1 candidate rule for ONE block: all pairs (a < b) of its
    * members, or none if it holds more than `cap`. Reads at most cap+1
    * members, so a hot block costs O(cap) memory.
    */
  private def blockPairs[T: Ordering](block: Iterator[T], cap: Int): Iterator[(T, T)] = {
    val v = block.take(cap + 1).toVector
    if (v.length > cap) Iterator.empty else allPairs(v.sorted)
  }

  /** Stage-1 link test, the one metric both drivers apply. */
  private def stringLink(a: String, b: String): Boolean =
    Similarity.damLevNorm(a, b) < Stage1Threshold

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
    * components. One axis-aligned 8-bit bucket is far too selective for
    * the 0.5-cosine stage-2 threshold (θ<60° ⇒ per-plane collision ≥
    * 1−θ/π ≈ 2/3, so an 8-plane bucket collides with probability ≈
    * (2/3)^8 ≈ 4%). Instead: `SubBands` independent bands of
    * `SubBandPlanes` seeded random hyperplanes each — a true pair shares
    * ≥1 band with probability ≥ 1−(1−(2/3)^4)^8 ≈ 0.83, and component
    * transitivity (union-find) recovers most of the remainder through
    * chains. Per-band buckets above BlockCap are still dropped, so pair
    * volume stays ≤ bands·cap² per component.
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

  private def allPairs[T](v: IndexedSeq[T]): Iterator[(T, T)] =
    for (a <- v.indices.iterator; b <- (a + 1) until v.length) yield (v(a), v(b))

  /** Single linkage over candidate pairs of `n` items -> label per item
    * (min member index). `near` runs only for pairs not yet joined.
    */
  private def link(n: Int, pairs: Iterator[(Int, Int)])(
      near: (Int, Int) => Boolean): Array[Int] = {
    val uf = new UnionFind(n)
    pairs.foreach { case (a, b) => if (uf.find(a) != uf.find(b) && near(a, b)) uf.union(a, b) }
    uf.labels
  }

  /** Member indices of each label, ascending within a group. */
  private def groups(labels: Array[Int]): Iterable[IndexedSeq[Int]] =
    labels.indices.groupBy(labels(_)).values

  /** Candidate pairs (indices) of a surface set under the stage-1 rule. */
  private def blockedPairs(surfaces: IndexedSeq[String], cap: Int): Iterator[(Int, Int)] = {
    val byKey = scala.collection.mutable.HashMap.empty[String, List[Int]]
    surfaces.indices.foreach { i =>
      blockKeys(surfaces(i)).foreach(k => byKey(k) = i :: byKey.getOrElse(k, Nil))
    }
    byKey.valuesIterator.flatMap(b => blockPairs(b.iterator, cap))
  }

  /** L2-normalized mean, summed in member order. */
  private def centroid(embs: IndexedSeq[Array[Float]]): Array[Float] = {
    val acc = new Array[Double](embs.head.length)
    embs.foreach { e => var i = 0; while (i < acc.length) { acc(i) += e(i); i += 1 } }
    Embed.l2(acc.map(x => (x / embs.length).toFloat))
  }

  /** Stage 2 over ONE stage-1 component (members sorted by surface) ->
    * sub-cluster label per member. All pairs up to `cap` members; above
    * it, pairs sharing a [[signBand]] bucket, buckets above `cap` dropped.
    */
  private def stage2(embs: IndexedSeq[Array[Float]], cap: Int): Array[Int] = {
    val idx = embs.indices
    val pairs =
      if (idx.length <= cap) allPairs(idx)
      else (0 until SubBands).iterator.flatMap { g =>
        idx.groupBy(i => signBand(embs(i), g)).valuesIterator
          .filter(_.length <= cap).flatMap(allPairs)
      }
    link(idx.length, pairs)((a, b) =>
      Similarity.cosineDist(embs(a), embs(b)) < Stage2Threshold)
  }

  /** Stage 3 over ONE sign bucket of sub-cluster centroids -> merge label
    * per centroid (all pairs: a bucket holds centroids, not surfaces).
    */
  private def stage3(centroids: IndexedSeq[Array[Float]]): Array[Int] =
    link(centroids.length, allPairs(centroids.indices))((a, b) =>
      Similarity.cosineDist(centroids(a), centroids(b)) < Stage3Threshold)

  /** ONE final cluster (members sorted by surface) -> (surface, key,
    * center) per member. Above `BreakupSize` members it re-clusters at
    * the breakup threshold: all pairs up to `cap` (the reference's rule),
    * stage-1 blocking above it. Key = min surface of each part; center =
    * exact 1-medoid (min summed cosine distance, ties to the smaller
    * surface) up to `cap` members, else the member nearest the centroid.
    */
  private def finish(surfaces: IndexedSeq[String], embs: IndexedSeq[Array[Float]],
      cap: Int): Iterator[(String, String, Array[Float])] = {
    val n = surfaces.length
    val parts =
      if (n <= BreakupSize) Iterable(surfaces.indices)
      else groups(link(n,
        if (n <= cap) allPairs(surfaces.indices) else blockedPairs(surfaces, cap)
      )((a, b) => Similarity.damLevNorm(surfaces(a), surfaces(b)) < BreakupThreshold))
    parts.iterator.flatMap { ms =>
      val center =
        if (ms.length == 1) embs(ms.head)
        else if (ms.length <= cap) embs(ms.map { i =>
          var d = 0.0
          ms.foreach { j => if (i != j) d += Similarity.cosineDist(embs(i), embs(j)) }
          (d, i)
        }.reduceLeft((best, c) => if (c._1 < best._1 - 1e-12) c else best)._2)
        else {
          val c = centroid(ms.map(embs))
          embs(ms.minBy(i => Similarity.cosineDist(embs(i), c)))
        }
      ms.iterator.map(i => (surfaces(i), surfaces(ms.head), center))
    }
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
    val surfaces = surfacesIn.distinct.sorted.toIndexedSeq
    val embs = surfaces.map(Embed.embed(_))
    val c1 = link(surfaces.length, blockedPairs(surfaces, blockCap))((a, b) =>
      stringLink(surfaces(a), surfaces(b)))
    // sub-clusters as ascending global indices, then their centroids
    val subs = groups(c1).toIndexedSeq.flatMap { comp =>
      groups(stage2(comp.map(embs), blockCap)).map(_.map(comp))
    }
    val cents = subs.map(s => centroid(s.map(embs)))
    val finals = subs.indices.groupBy(i => signBucket(cents(i))).values.iterator
      .flatMap { bucket =>
        groups(stage3(bucket.map(cents))).map(_.flatMap(j => subs(bucket(j))).sorted)
      }
    finals.flatMap(ms => finish(ms.map(surfaces), ms.map(embs), blockCap))
      .map { case (s, k, c) => s -> (k, c) }.toMap
  }

  // ---------------------------------------------------------------------
  // distributed path (huge surface vocabularies)
  // ---------------------------------------------------------------------

  /** Distributed surface clustering -> DataFrame(surface, cluster_key,
    * center). Stage 1 by label propagation, then the same kernels as the
    * local path, one group per `flatMapGroups` call.
    */
  def clusterSurfacesDistributed(spark: SparkSession, surfacesDf: DataFrame,
      blockCap: Int = BlockCap): DataFrame = {
    import spark.implicits._
    val surfaces = surfacesDf.select("surface").distinct().as[String]

    val e1 = surfaces.flatMap(s => blockKeys(s).map(k => (k, s)))
      .groupByKey(_._1).flatMapGroups((_, block) => blockPairs(block.map(_._2), blockCap))
      .distinct().filter(p => stringLink(p._1, p._2))
      .toDF("src", "dst")
    val c1 = ConnectedComponents.run(spark, surfaces.toDF("id"), e1).as[(String, String)]

    // stage 2 per component: (surface, sub-cluster id = its min surface,
    // centroid on the sub-cluster's first row only)
    val s2 = c1.groupByKey(_._2).flatMapGroups { (_, rows) =>
      val ms = rows.map(_._1).toVector.sorted
      val embs = ms.map(Embed.embed(_))
      groups(stage2(embs, blockCap)).iterator.flatMap { g =>
        val cent = centroid(g.map(embs))
        g.iterator.map(i => (ms(i), ms(g.head), if (i == g.head) Some(cent) else None))
      }
    }.cache()

    // stage 3 per sign bucket: sub-cluster id -> final cluster id
    val c3 = s2.flatMap { case (_, sub, cent) => cent.map(c => (sub, c)) }
      .groupByKey(r => signBucket(r._2)).flatMapGroups { (_, rows) =>
        val subs = rows.toVector.sortBy(_._1)
        val lab = stage3(subs.map(_._2))
        subs.indices.iterator.map(i => (subs(i)._1, subs(lab(i))._1))
      }.toDF("sub", "c3")

    s2.map(r => (r._1, r._2)).toDF("surface", "sub").join(c3, "sub")
      .select("surface", "c3").as[(String, String)]
      .groupByKey(_._2).flatMapGroups { (_, rows) =>
        val ms = rows.map(_._1).toVector.sorted
        finish(ms, ms.map(Embed.embed(_)), blockCap)
      }.toDF("surface", "cluster_key", "center")
  }

  // ---------------------------------------------------------------------
  // entry point
  // ---------------------------------------------------------------------

  /** Full clustering result, NIL clusters already numbered.
    *   assignments: doc_id, annset, ann_id, cluster_key
    *   clusters: cluster_key, title, cluster_type, nelements, n_surfaces,
    *             center(array<float>), nil_id
    *   surfaceMap: surface, cluster_key, nil_id, title, cluster_type
    * `surfaceMap` is vocabulary-sized — the collapse that makes 10^12
    * mentions clusterable — and already carries the broadcast hint on
    * the driver path (`isLocal`), where it is a LocalRelation bounded by
    * `LocalLimit`. Downstream joins that only need a mention's cluster
    * should go through surfaceMap by SURFACE, not through `assignments`
    * by annotation key: the assignments frame is mention-sized, and
    * joining it back to the linked frame was measured flipping to a
    * spilling sort-merge join at 240k docs (15.7 -> 276.6 core-s for the
    * resolve stage, 1.5x input).
    */
  final case class ClusterResult(assignments: DataFrame, clusters: DataFrame,
                                 surfaceMap: DataFrame, isLocal: Boolean)

  /** One numbered NIL cluster: the `clusters` row of [[ClusterResult]]. */
  final case class ClusterRec(cluster_key: String, title: String,
      cluster_type: String, nelements: Long, n_surfaces: Long,
      center: Array[Float], nil_id: Long)

  /** Cluster NIL mentions (columns doc_id, annset, ann_id, mention,
    * mention_type) and number the clusters: nil_id = idBase + 1, 2, ...
    * in cluster_key order (UTF-8 byte order on both paths; reference
    * indexer/main.py:408-411). Two paths, one record kernel
    * ([[clusterRecord]]): up to `localLimit` (surface, mention,
    * mention_type) rows everything after the one gating `take` runs on
    * the driver into local tables; above it the surfaces cluster
    * distributed, the kernel runs per `groupByKey(cluster_key)` group
    * and the ids come from a range sort + zipWithIndex.
    */
  def clusterFull(spark: SparkSession, nilMentions: DataFrame,
                  localLimit: Long = LocalLimit, idBase: Long = 0L): ClusterResult = {
    import spark.implicits._
    // ONE mention-scale pass: collapse to the (surface, case-form, type)
    // vocabulary FIRST — a map-side-combining aggregate — and derive
    // everything downstream (surface set, titles, types, sizes) from
    // that vocabulary-scale frame. Counts are exact, so mode / nelements
    // / n_surfaces equal their mention-level definitions.
    val counts = nilMentions
      .groupBy(lower(col("mention")).as("surface"),
        col("mention"), col("mention_type"))
      .agg(count(lit(1)).as("cnt"))
      .as[(String, String, String, Long)]
      // a LAZY local checkpoint, not a persist: the take below fills it
      // and the distributed path reads it again, but its blocks belong
      // to the RDD (released with it), so no cache entry outlives the
      // call and no job is added
      .localCheckpoint(false, graft.Ckpt.storage(spark))

    // one job decides the path AND feeds the whole local path
    val head = counts.take(localLimit.toInt + 1)
    val isLocal = head.length <= localLimit

    val (clusters, surfaceMap) =
      if (isLocal) {
        val bySurface = clusterSurfacesLocal(head.map(_._1).toSeq)
        val recs = head.toSeq.groupBy(r => bySurface(r._1)._1).toSeq
          .sortWith((a, b) => utf8Less(a._1, b._1)).zipWithIndex
          .map { case ((key, rows), i) =>
            clusterRecord(key, bySurface(rows.head._1)._2, rows, idBase + i + 1L)
          }
        val byKey = recs.map(c => c.cluster_key -> c).toMap
        val sm = bySurface.toSeq.map { case (s, (k, _)) =>
          val c = byKey(k)
          (s, k, c.nil_id, c.title, c.cluster_type)
        }
        (recs.toDF(), broadcast(sm.toDF(SurfaceMapCols: _*)))
      } else {
        val surf = clusterSurfacesDistributed(spark, counts.toDF())
        val recs = counts.toDF().join(surf, Seq("surface"))
          .as[(String, String, String, Long, String, Array[Float])]
          .groupByKey(_._5).mapGroups { (key, it) =>
            val rows = it.toSeq
            clusterRecord(key, rows.head._6, rows.map(r => (r._1, r._2, r._3, r._4)), 0L)
          }
        // a global Window.orderBy would funnel every row through ONE
        // partition; range sort + zipWithIndex keeps the numbering
        // parallel and deterministic
        val numbered = graft.Ckpt(recs.sort("cluster_key").rdd.zipWithIndex
          .map { case (c, i) => c.copy(nil_id = idBase + i + 1L) }.toDF())
        // no broadcast hint: this map is unbounded, AQE picks the join
        val sm = surf.select("surface", "cluster_key")
          .join(numbered.select("cluster_key", "nil_id", "title", "cluster_type"),
            Seq("cluster_key"))
          .select(SurfaceMapCols.map(col): _*)
        (numbered, sm)
      }

    // mention-scale assignments stay LAZY and unpersisted: Pipeline.run
    // resolves by surface (surfaceMap) and never consumes them; API
    // callers that fan out over assignments should checkpoint first.
    val assignments = nilMentions
      .withColumn("surface", lower(col("mention")))
      .join(surfaceMap.select("surface", "cluster_key"), Seq("surface"))
      .select("doc_id", "annset", "ann_id", "cluster_key")
    ClusterResult(assignments, clusters, surfaceMap, isLocal)
  }

  private val SurfaceMapCols =
    Seq("surface", "cluster_key", "nil_id", "title", "cluster_type")

  /** ONE cluster's record from its (surface, mention, mention_type, cnt)
    * vocabulary rows: title (A1) / type (A2) = count-weighted mode with
    * (count desc, value asc) tie-break, nelements = mention count,
    * n_surfaces = distinct surfaces. The one kernel both paths run.
    */
  private def clusterRecord(key: String, center: Array[Float],
      rows: Seq[(String, String, String, Long)], nilId: Long): ClusterRec =
    ClusterRec(key,
      weightedMode(rows.groupMapReduce(_._2)(_._4)(_ + _)),
      weightedMode(rows.groupMapReduce(_._3)(_._4)(_ + _)),
      rows.map(_._4).sum, rows.map(_._1).distinct.size.toLong, center, nilId)

  /** Value order of the mode tie-break and of the cluster numbering:
    * UTF-8 BYTE order, i.e. Spark's UTF8String comparison (so the
    * distributed path's `sort` gives the same ids). A null value sorts
    * FIRST (smallest), matching Spark's nulls-first ascending ordering.
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
}
