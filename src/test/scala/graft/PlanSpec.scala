package graft

import org.apache.spark.sql.functions._

/** Plan-shape gates for the scan/topk promises the docs make: filters
  * and projections must reach the parquet scan, and bounded top-k must
  * never plan a global sort. These are the properties that decide
  * whether a 100 TB scan reads 100 TB or 2 columns of a pruned subset —
  * asserting them in CI keeps a refactor from silently regressing the
  * physical plan while the row-level oracles still pass.
  */
class PlanSpec extends SparkTestBase {

  test("parquet scan: filter pushed down, unused columns pruned") {
    val q = spark.read.parquet(s"$sfUnit/documents.parquet")
      .filter(col("lang") === "en")
      .select("doc_id")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"), scan)
    // ReadSchema carries only the projected + filtered columns; the wide
    // text column must not be read
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id"), scan)
    assert(!readSchema.contains("text"), scan)
  }

  test("bm25 top-k plans TakeOrderedAndProject, not a global sort") {
    val plan = SparkEntry.queries("q41_bm25")(spark, sfUnit)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("vocab top-k plans TakeOrderedAndProject, not a global sort") {
    val plan = SparkEntry.queries("t19_vocab")(spark, sfUnit)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("regex-mine top-k plans TakeOrderedAndProject, not a global sort") {
    val plan = SparkEntry.queries("t21_regex_mine")(spark, sfUnit)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("executed plans: no query re-scans an input file (live-scan gate)") {
    // Regression gate on the audited shapes: a frame joined against its
    // own re-aggregate silently re-executes the corpus pass (isnotnull-
    // pushdown breaks exchange-reuse canonicalization — see
    // PlanAudit/TextAnalysis.bigramLm). Bounds are the algorithm's
    // inherent scan count: 1 for single-pass ops, 2 where a second
    // pruned/footer scan is inherent (tfidf rowcount, rrf query row).
    val gates = Seq(
      "t25_bigram_lm" -> 1, "t26_pmi" -> 1, "t27_tfidf" -> 2,
      "t29_kl" -> 1, "q49_markov" -> 1, "q41_bm25" -> 1,
      "e2_ann_lsh" -> 1, "q26_funnel" -> 1, "q50_paths" -> 1,
      "t24_rrf" -> 2, "t30_dsir" -> 2, // dsir: honest two-pass (estimate+score)
      "t9_embed_neardup" -> 2,         // banded self-join sides
      "t34_weighted_sample" -> 1, "q55_assoc" -> 1,
      "t35_containment" -> 1, "q56_auc" -> 1,
      "t36_dup_spans" -> 2, // honest two-pass: window index, then flag
      "t37_despanned" -> 3, // t36's two passes + the apply join back
      "q57_ancestors" -> 1, // closure doubles over checkpointed frames
      "t38_domain_mix" -> 1, // totals are window sums over the G-row frame
      "t40_bpe_step" -> 1,
      "q58_skew_profile" -> 1, // totals derive from the checkpointed hist
      "t39_best_rep" -> 2) // shingle pass + pruned (doc_id,n_chars) pass
    gates.foreach { case (q, maxPerFile) =>
      val df = SparkEntry.queries(q)(spark, sfUnit)
      df.collect()
      val scans = PlanAudit.liveScans(df.queryExecution.executedPlan)
      assert(scans.values.forall(_ <= maxPerFile),
        s"$q live scans $scans exceed $maxPerFile per file")
      spark.catalog.clearCache()
    }
  }

  test("bpe-step top pairs plan TakeOrderedAndProject, not a global sort") {
    val plan = SparkEntry.queries("t40_bpe_step")(spark, sfUnit)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("rrf cuts each ranker with a heap before the rank window") {
    // Both per-list cuts must plan TakeOrderedAndProject (per-partition
    // heap); the unpartitioned row_number window then sees only the
    // bounded candidate lists, never the corpus.
    val plan = SparkEntry.queries("t24_rrf")(spark, sfUnit)
      .queryExecution.sparkPlan.toString
    val heaps = plan.linesIterator.count(_.contains("TakeOrderedAndProject"))
    assert(heaps >= 2, s"expected >=2 TakeOrderedAndProject, got $heaps\n$plan")
  }

  test("candidate exchanges are narrow: no embedding/context columns shuffle") {
    // The linker's candidate exchanges must ship only scalar columns —
    // carrying the two 64-float embeddings and context windows through
    // them measured 519/560 MB shuffle writes per 440k docs and ~2x CPU
    // inflation on the 4-executor bench level (memory-bandwidth
    // contention; network at cluster scale). Scores/norms are computed
    // pre-exchange instead; this pins that shape. Under the broadcast
    // gate there is no exchange at all; past it (cap 0, the salted path)
    // the pair-dedup and cogroup exchanges exist and must stay narrow.
    import graft.core.{InputDoc, Span, SpanOps}
    import graft.link.Linker
    import graft.ner.TrieNer
    import spark.implicits._
    val docs = spark.createDataset(Seq(
      InputDoc("a", SpanOps.withOffsets(Seq(Span("text", "spark and customer data", "", 0))))))
    val text = Pipeline.docText(spark, docs)
    val mentions = TrieNer.mentions(spark, docs)
    val reg = graft.kb.Registry.seed(spark).toDF()
    val linkable = Linker.withEmbeddingsDF(spark, mentions, text)
    val cands = Linker.candidates(spark, linkable, reg)
    val wide = Set("m_emb", "e_emb", "ctx_left", "ctx_right", "emb")
    // the walk descends into AQE plans (a plain `collect` stops at the
    // AdaptiveSparkPlanExec leaf and sees no exchange at all)
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike] =
      PlanSpec.nodes(p).collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s }
    def wideIn(ss: Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]) =
      ss.map(_.child.output.map(_.name).toSet.intersect(wide)).filter(_.nonEmpty)
    val offenders = wideIn(shuffles(cands.queryExecution.executedPlan))
    assert(offenders.isEmpty,
      s"wide columns in candidate exchanges: $offenders")
    // over a checkpointed input, so only the linker's own exchanges count
    val embedded = Ckpt(linkable)
    def exchanges(cap: Long) = shuffles(Linker.candidates(spark, embedded, reg,
      broadcastMaxRows = cap).queryExecution.executedPlan)
    assert(exchanges(Linker.BroadcastMaxRows).isEmpty)
    val salted = exchanges(0)
    assert(salted.nonEmpty, "the salted path shuffles")
    assert(wideIn(salted).isEmpty,
      s"wide columns in salted candidate exchanges: ${wideIn(salted)}")
  }

  test("Pipeline.run's linker input plans no shuffle exchange") {
    // NER, merge, contexts and embeddings are document-local and run in
    // the prep map: no doc-keyed exchange (merge window, embed join) may
    // sit between the docs and the candidate join. The walk descends into
    // the prep persist's own plan.
    import graft.core.{InputDoc, Span, SpanOps}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import spark.implicits._
    val docs = spark.createDataset(Seq(
      InputDoc("a", SpanOps.withOffsets(Seq(Span("text", "spark and customer data", "", 0)))),
      InputDoc("b", SpanOps.withOffsets(Seq(Span("text", "slow part meets spark", "", 0))))))
    val (prep, embedded) = Pipeline.prepare(spark, docs)
    def nodes(p: SparkPlan): Seq[SparkPlan] = PlanSpec.nodes(p)
    val plan = embedded.queryExecution.executedPlan
    assert(nodes(plan).exists(_.isInstanceOf[InMemoryTableScanExec]), plan)
    val exchanges = nodes(plan).collect { case s: ShuffleExchangeLike => s }
    assert(exchanges.isEmpty, s"exchanges in the linker input:\n$plan")
    prep.unpersist()
  }

  test("Pipeline.run's linker output plans no shuffle exchange under the broadcast gate") {
    // Under the broadcast gate the kernel runs in one narrow map over the
    // prep frame (skip mentions hydrate from the same index): no exchange
    // between the docs and the linker's ONE checkpoint, and none after
    // it: linked rows and candidate lists are projections of it.
    import graft.core.{InputDoc, Span, SpanOps}
    import graft.link.Linker
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import spark.implicits._
    val docs = spark.createDataset(Seq(
      InputDoc("a", SpanOps.withOffsets(Seq(Span("text", "spark and customer data", "", 0)))),
      InputDoc("b", SpanOps.withOffsets(Seq(Span("text", "slow part meets spark on 2024-01-01", "", 0))))))
    val reg = graft.kb.Registry.seed(spark).toDF()
    val (prep, embedded) = Pipeline.prepare(spark, docs)
    val kernel = Linker.scoreMentions(spark, embedded.filter(!col("skip")), reg,
      rerank = false, reg.count(), Linker.BroadcastMaxRows).toDF()
    var linked, cands: org.apache.spark.sql.DataFrame = null
    val ckpts = PlanSpec.checkpointPlans(spark) {
      val (l, c) = Linker.linkEmbedded(spark, embedded, reg)
      linked = l; cands = c
    }
    assert(ckpts.size == 1, s"the linker checkpoints once: ${ckpts.size}")
    Seq("kernel" -> kernel.queryExecution.executedPlan, "checkpoint" -> ckpts.head.executedPlan,
        "linked" -> linked.queryExecution.executedPlan,
        "candidates" -> cands.queryExecution.executedPlan).foreach {
      case (name, plan) =>
        val all = PlanSpec.nodes(plan)
        assert(all.exists(_.isInstanceOf[InMemoryTableScanExec]) ||
            name == "linked" || name == "candidates",
          s"$name: the walk must reach the prep persist\n$plan")
        assert(!all.exists(_.isInstanceOf[ShuffleExchangeLike]),
          s"$name plans a shuffle exchange:\n$plan")
    }
    // both outputs read the same checkpointed RDD, and nothing else
    def scans(p: SparkPlan) = PlanSpec.nodes(p).collect { case r: RDDScanExec => r.rdd.id }
    val ids = Seq(linked, cands).map(df => scans(df.queryExecution.executedPlan))
    assert(ids.forall(_.size == 1) && ids.distinct.size == 1,
      s"linked and candidates must read one checkpoint: $ids")
    assert(linked.count() > 0 && cands.count() > 0)
    prep.unpersist()
  }

  test("Pipeline.run's tail after the NIL counts: one doc grouping, no Window") {
    // Past clusterFull the rest is document-local: the NIL rows' surface
    // join (a broadcast on the driver path) and ONE doc_id grouping feed
    // the per-document resolve kernel, whose checkpoint the triples read.
    import graft.fixtures.Corpus
    import org.apache.spark.sql.execution.{AppendColumnsExec, AppendColumnsWithObjectExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val docs = Corpus.inputDocs(spark, sfUnit)
    val reg = graft.kb.Registry.seed(spark).toDF()
    var res: Pipeline.Result = null
    val ckpts = PlanSpec.checkpointPlans(spark) { res = Pipeline.run(spark, docs, reg) }
    val kernel = ckpts.map(_.executedPlan)
      .filter(_.output.map(_.name) == Seq("doc_id", "linked", "triples"))
    assert(kernel.size == 1, s"one resolve checkpoint: ${ckpts.map(_.analyzed.output.map(_.name))}")
    val tail = Seq(kernel.head, res.triples.queryExecution.executedPlan).flatMap(PlanSpec.nodes)
    val shuffles = tail.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.size == 1, s"expected the doc grouping only:\n${kernel.head}")
    assert(PlanSpec.nodes(shuffles.head.child).exists {
      case _: AppendColumnsExec | _: AppendColumnsWithObjectExec => true
      case _ => false
    }, s"the exchange must be the groupByKey:\n${kernel.head}")
    assert(!tail.exists(_.nodeName.contains("Window")), s"Window in the tail:\n${kernel.head}")
    assert(res.triples.count() > 0)
  }

  test("full outer join reuses the aggregation partitioning (no 3rd exchange)") {
    // Both sides pre-aggregate on the join keys, so the join itself must
    // not introduce an exchange: exactly two shuffles (one per groupBy),
    // or fewer if AQE folds them. A third exchange means the join keys
    // drifted from the aggregation keys and the documented plan is gone.
    val plan = SparkEntry.queries("q47_full_outer")(spark, sfUnit)
      .queryExecution.sparkPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges\n$plan")
    assert(plan.contains("FullOuter"), plan)
  }
}

object PlanSpec {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

  /** Every node of a physical plan, descending into AQE plans and their
    * query stages and into the plans of cached relations.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** The query executions of the dataset checkpoints `f` runs, in
    * order (a checkpoint's own plan is gone from the frame it returns).
    */
  def checkpointPlans(spark: SparkSession)(f: => Unit): Seq[QueryExecution] = {
    import org.apache.spark.GraftTestShim
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, ns: Long): Unit =
        if (name == "localCheckpoint" || name == "checkpoint") plans.add(qe)
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftTestShim.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { f; GraftTestShim.drainListenerBus(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }
}
