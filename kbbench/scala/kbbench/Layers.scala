package kbbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import graft.{Ckpt, Pipeline}
import graft.cluster.NilCluster
import graft.core.InputDoc
import graft.link.Linker
import graft.merge.MergeAnnsets
import graft.ner.{RegexNer, TrieNer}

/** The traced layer-by-layer pass over one input: each public layer call
  * runs in its own span on an input materialized before the span opens,
  * and its output is materialized inside the span, so a span's wall time
  * and task metrics belong to that layer alone.
  */
object Layers {

  /** Rows produced by the widest join of an executed plan. */
  def maxJoinRows(plan: SparkPlan): Long = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    nodes(plan).collect { case j: BaseJoinExec => j }
      .flatMap(_.metrics.get("numOutputRows")).map(_.value)
      .maxOption.getOrElse(0L)
  }

  /** Run every layer once and record the per-layer counters. Returns the
    * summed wall time of the layer spans that partition a pipeline run
    * (ner + merge + link + cluster; link contains embed and link_cand).
    */
  def trace(run: Run, spark: SparkSession, docsIn: Dataset[InputDoc],
            registry: DataFrame, regRows: Long): Double = {
    val tr = run.tracer
    val docs = Ckpt(docsIn)
    val nDocs = docs.count().toDouble
    val text = Ckpt(Pipeline.docText(spark, docs))

    val (trie, regex) = tr.span(spark, "ner") {
      (Ckpt(TrieNer.mentions(spark, docs)), Ckpt(RegexNer.mentions(spark, docs)))
    }
    val nMentions = (trie.count() + regex.count()).toDouble
    val merged = tr.span(spark, "merge") {
      Ckpt(MergeAnnsets.merge(spark, Seq(trie, regex)))
    }
    val nMerged = merged.count().toDouble
    val emb = tr.span(spark, "embed") {
      Ckpt(Linker.withEmbeddingsDF(spark, merged, text, keepCtx = false))
    }
    val linkable = Ckpt(emb.filter(!col("skip")))
    val nLinkable = linkable.count().toDouble
    val candsLazy = Linker.candidates(spark, linkable, registry,
      registryRows = Some(regRows))
    val cands = tr.span(spark, "link_cand")(Ckpt(candsLazy))
    val joinRows = maxJoinRows(candsLazy.queryExecution.executedPlan).toDouble
    val kept = cands.count().toDouble

    val (linked, _) = tr.span(spark, "link") {
      val (l, c) = Linker.linkWithCandidates(spark, merged, text, registry,
        registryRows = Some(regRows))
      (Ckpt(l), Ckpt(c))
    }
    val lr = linked.agg(count(lit(1)),
      sum(when(col("entity_id") >= 0, 1).otherwise(0)),
      sum(when(!col("skip"), 1).otherwise(0)),
      sum(when(!col("skip") && col("is_nil"), 1).otherwise(0))).collect()(0)
    val nil = Ckpt(linked.filter(col("is_nil") && col("mention_type") =!= "DATE"))

    val (clusters, surfaces, isLocal) = tr.span(spark, "cluster") {
      val r = NilCluster.clusterFull(spark, nil)
      (Ckpt(r.clusters), Ckpt(r.surfaceMap), r.isLocal)
    }
    val nClusters = clusters.count().toDouble
    val maxMembers = if (nClusters == 0) 0.0
      else clusters.agg(max(col("nelements"))).collect()(0).getAs[Number](0).doubleValue

    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    run.metric("ner.mentions_per_doc", ratio(nMentions, nDocs))
    run.metric("merge.keep_ratio", ratio(nMerged, nMentions))
    run.metric("link_cand.join_rows", joinRows)
    run.metric("link_cand.pairs", kept)
    run.metric("link_cand.useful_ratio", ratio(kept, joinRows))
    run.metric("link_cand.per_mention", ratio(joinRows, nLinkable))
    run.metric("link.link_rate", ratio(lr.getLong(1).toDouble, lr.getLong(0).toDouble))
    run.metric("link.nil_rate", ratio(lr.getLong(3).toDouble, lr.getLong(2).toDouble))
    run.metric("cluster.surfaces", surfaces.count().toDouble)
    run.metric("cluster.clusters", nClusters)
    run.metric("cluster.max_members", maxMembers)
    run.metric("cluster.local_path", if (isLocal) 1.0 else 0.0)

    Seq("ner", "merge", "link", "cluster").map(tr.totals(_).wallS).sum
  }
}
