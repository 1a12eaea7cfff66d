package graft

import graft.cluster.NilCluster
import org.apache.spark.sql.functions._

class NilClusterSpec extends SparkTestBase {
  import spark.implicits._

  private val surfaces = Seq(
    "fast key", "fast kay",      // typo pair -> same string cluster
    "slow part", "slow parts",   // near pair
    "big value",                 // singleton
    "spark engine", "sperk engine") // typo pair

  test("local path: typo pairs cluster, distant surfaces do not") {
    val got = NilCluster.clusterSurfacesLocal(surfaces)
    assert(got("fast key")._1 == got("fast kay")._1)
    assert(got("slow part")._1 == got("slow parts")._1)
    assert(got("spark engine")._1 == got("sperk engine")._1)
    assert(got("fast key")._1 != got("slow part")._1)
    assert(got("big value")._1 == "big value") // singleton, own key
    // cluster key is the min member surface
    assert(got("fast kay")._1 == "fast kay")
  }

  test("local path is input-order independent") {
    val a = NilCluster.clusterSurfacesLocal(surfaces)
    val b = NilCluster.clusterSurfacesLocal(scala.util.Random.shuffle(surfaces.toList))
    assert(a.view.mapValues(_._1).toMap == b.view.mapValues(_._1).toMap)
  }

  // 30 surfaces, one stage-1 cluster above BreakupSize. "xbcdefghijkl"
  // is within the breakup threshold of "abcdefghijkl" but shares no
  // blocking key with it, so a breakup over blocked pairs only would
  // split it off where the all-pairs breakup keeps it.
  private val breakupSurfaces = {
    val base = "abcdefghijkl"
    (base +: ('a' to 'z').map(c => s"$base$c")) ++
      Seq(s"$base p", "xbcdefghijkl p", "xbcdefghijkl")
  }

  test("distributed path produces identical cluster keys") {
    Seq(surfaces, breakupSurfaces).foreach { input =>
      val dist = NilCluster.clusterSurfacesDistributed(spark, input.toDF("surface"))
        .select("surface", "cluster_key", "center").collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getSeq[Float](2))).toMap
      val local = NilCluster.clusterSurfacesLocal(input)
        .view.mapValues { case (k, c) => (k, c.toSeq) }.toMap
      assert(dist.view.mapValues(_._1).toMap == local.view.mapValues(_._1).toMap)
      assert(dist == local, "centers differ between paths")
    }
  }

  test("forced distributed path equals the local path end-to-end, no forced broadcast") {
    val mentions = (surfaces ++ surfaces).zipWithIndex.map { case (s, i) =>
      (s"d$i", "m", 1, s, "PRODUCT")
    }.toDF("doc_id", "annset", "ann_id", "mention", "mention_type")
    // localLimit=2 < 7 distinct surfaces -> distributed path
    val dist = NilCluster.clusterFull(spark, mentions, localLimit = 2)
    val NilCluster.ClusterResult(clD, smD, _) = dist
    val NilCluster.ClusterResult(clL, smL, _) = NilCluster.clusterFull(spark, mentions)
    // every mention resolves through the surface map: equal maps assign
    // every mention the same cluster on both paths
    def keyOf(df: org.apache.spark.sql.DataFrame) = df
      .select("surface", "cluster_key").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(keyOf(smD) == keyOf(smL))
    assert(keyOf(smL).map(_._1) == surfaces.map(_.toLowerCase).toSet)
    assert(clD.select("cluster_key").collect().map(_.getString(0)).toSet ==
           clL.select("cluster_key").collect().map(_.getString(0)).toSet)
    // the surface->cluster map must NOT be broadcast-hinted when distributed
    assert(!smD.queryExecution.optimizedPlan.toString.contains("ResolvedHint"),
      "no broadcast hint on the distributed surface map")
  }

  test("hot-block cap drops overfull blocks identically on both paths") {
    // every surface shares token "the" AND prefix "th" -> two 3-member
    // blocks. Default cap: the typo pair clusters through them. Cap=2:
    // both hot blocks are dropped, the remaining 1-member token blocks
    // yield no pairs -> all singletons. Both paths must agree either way.
    val stopSurfaces = Seq("the fastkey", "the fastkay", "the unrelated")
    def localKeys(cap: Int) = NilCluster.clusterSurfacesLocal(stopSurfaces, cap)
      .view.mapValues(_._1).toMap
    def distKeys(cap: Int) = NilCluster.clusterSurfacesDistributed(spark,
        stopSurfaces.toDF("surface"), cap)
      .select("surface", "cluster_key").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

    val unCapped = localKeys(NilCluster.BlockCap)
    assert(unCapped("the fastkey") == unCapped("the fastkay"))
    assert(unCapped("the unrelated") != unCapped("the fastkey"))
    assert(distKeys(NilCluster.BlockCap) == unCapped)

    val capped = localKeys(2)
    assert(capped.values.toSet.size == 3, "hot blocks dropped -> singletons")
    assert(distKeys(2) == capped, "distributed path honors the same cap")
  }

  test("mega stage-1 cluster passes stage-2/breakup/medoid in bounded pairs") {
    // Build ONE stage-1 component far above the cap out of many sub-cap
    // blocks: groups share a head token ("x$g …", block size = group
    // size) and consecutive groups are chained by a shared tail token
    // ("… aaaa$i", block size 2). All blocking keys stay <= cap, yet the
    // component grows to groups x members — exactly the unbounded-chain
    // shape the stage-2 guard must sub-block instead of self-joining.
    val groups = 10
    val members = 4
    val surfaces = (0 until groups).flatMap { g =>
      (0 until members).map(i => f"x$g%d aaaa${g * members + i}%02d") :+
        // chain link: shares tail token with the NEXT group's first member
        f"x$g%d aaaa${(g + 1) * members}%02d"
    }.distinct
    val df = surfaces.toDF("surface")
    val out = NilCluster.clusterSurfacesDistributed(spark, df, blockCap = 5)
      .select("surface", "cluster_key", "center").collect()
    assert(out.map(_.getString(0)).toSet == surfaces.toSet,
      "every surface survives the capped stages")
    assert(out.forall(_.get(2) != null), "every cluster gets a center")
    val again = NilCluster.clusterSurfacesDistributed(spark, df, blockCap = 5)
      .select("surface", "cluster_key").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val first = out.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again == first, "capped path is deterministic")
  }

  test("oversize component: banded stage-2 keeps local and distributed identical") {
    // same chained-component construction as the mega-cluster test: ONE
    // stage-1 component above the cap. Both paths must fall back to the
    // SAME banded sign-LSH pair generation, so cluster keys stay equal —
    // the path-equivalence property must survive the guard.
    val groups = 8
    val members = 4
    val surfs = (0 until groups).flatMap { g =>
      (0 until members).map(i => f"x$g%d aaaa${g * members + i}%02d") :+
        f"x$g%d aaaa${(g + 1) * members}%02d"
    }.distinct
    val local = NilCluster.clusterSurfacesLocal(surfs, blockCap = 5)
      .view.mapValues(_._1).toMap
    val dist = NilCluster.clusterSurfacesDistributed(spark,
        surfs.toDF("surface"), blockCap = 5)
      .select("surface", "cluster_key").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(dist == local, "banded stage-2 must not diverge between paths")
    // the banded rule must still MERGE near-dup surfaces inside the
    // oversize component (an over-selective sub-key would leave them
    // all separate): some cluster has more than one member
    assert(local.values.toSeq.distinct.size < surfs.size,
      "stage 1+2 must merge at least one near-dup pair under the guard")
  }

  test("end-to-end cluster(): assignments, mode title, deterministic") {
    val mentions = Seq(
      ("d1", "m", 1, "Fast Key", "PRODUCT"),
      ("d2", "m", 1, "fast key", "PRODUCT"),
      ("d2", "m", 2, "fast key", "PRODUCT"),
      ("d3", "m", 1, "slow part", "PRODUCT"))
      .toDF("doc_id", "annset", "ann_id", "mention", "mention_type")
    val NilCluster.ClusterResult(cl, sm, _) = NilCluster.clusterFull(spark, mentions)
    val clusters = cl.collect()
    assert(clusters.length == 2)
    val fk = clusters.find(_.getAs[String]("cluster_key") == "fast key").get
    // mode with (count desc, value asc): "fast key" x2 beats "Fast Key" x1
    assert(fk.getAs[String]("title") == "fast key")
    assert(fk.getAs[Long]("nelements") == 3)
    // every input mention resolves: its lower(mention) has a surface row
    val mapped = sm.select("surface").collect().map(_.getString(0)).toSet
    assert(mentions.select(lower(col("mention"))).collect().map(_.getString(0))
      .forall(mapped))
  }

  test("typed cluster aggregate: partial-merge invariant and null tolerance (r6)") {
    // the cluster record must be identical under any partitioning and on
    // both paths (one record kernel: in memory on the driver path, per
    // groupByKey group on the distributed one), and a null mention_type
    // must behave like the nulls-first ascending window ordering the r5
    // UDF replaced (ADVICE r5: it NPEd before)
    val rows = Seq(
      ("d1", "m", 1, "Acme Co", "ORG"),
      ("d2", "m", 1, "acme co", "ORG"),
      ("d3", "m", 1, "acme co", null.asInstanceOf[String]),
      ("d4", "m", 1, "Acme Co", "ORG"))
    val df1 = rows.toDF("doc_id", "annset", "ann_id", "mention", "mention_type")
    val df8 = df1.repartition(8)
    val c1 = NilCluster.clusterFull(spark, df1).clusters.collect()
    val c8 = NilCluster.clusterFull(spark, df8).clusters.collect()
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("cluster_key"), r.getAs[String]("title"),
        r.getAs[String]("cluster_type"), r.getAs[Long]("nelements"),
        r.getAs[Long]("n_surfaces"))
    assert(c1.map(key).sortBy(_.toString).toSeq ===
      c8.map(key).sortBy(_.toString).toSeq)
    def keyId(r: org.apache.spark.sql.Row) = (key(r), r.getAs[Long]("nil_id"))
    val cD = NilCluster.clusterFull(spark, df8, localLimit = 0).clusters.collect()
    assert(cD.map(keyId).sortBy(_.toString).toSeq ===
      c1.map(keyId).sortBy(_.toString).toSeq, "both paths give equal records")
    // 2x "Acme Co" vs 2x "acme co": count tie -> byte-order asc picks "Acme Co";
    // types: 3x ORG beats 1x null
    val r = c1.head
    assert(r.getAs[String]("title") == "Acme Co")
    assert(r.getAs[String]("cluster_type") == "ORG")
    assert(r.getAs[Long]("nelements") == 4)
  }

  test("nil ids follow one key order on both paths (UTF-8 bytes, not UTF-16)") {
    // a key led by a supplementary character (an emoji: surrogate pair
    // D83D DE00) sorts before fullwidth x (FF58) in UTF-16 code units but
    // after it in UTF-8 bytes; the ids must not depend on which path ran
    val mentions = Seq("\uD83D\uDE00x", "\uFF58", "plain key").zipWithIndex
      .map { case (m, i) => (s"d$i", "m", 1, m, "PRODUCT") }
      .toDF("doc_id", "annset", "ann_id", "mention", "mention_type")
    def ids(limit: Long) = NilCluster.clusterFull(spark, mentions, limit, idBase = 10L)
      .clusters.select("cluster_key", "nil_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val local = ids(NilCluster.LocalLimit)
    assert(local.size == 3 && local.values.toSet == Set(11L, 12L, 13L))
    assert(ids(0) == local)
    assert(local("\uFF58") < local("\uD83D\uDE00x"))
  }
}
