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
    // The linker's pair-dedup and top-k window exchanges must ship only
    // scalar columns — carrying the two 64-float embeddings and context
    // windows through them measured 519/560 MB shuffle writes per 440k
    // docs and ~2x CPU inflation on the 4-executor bench level (memory-
    // bandwidth contention; network at cluster scale). Scores/norms are
    // computed pre-exchange instead; this pins that shape.
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
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike] =
      p.collect { case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s }
    val offenders = shuffles(cands.queryExecution.executedPlan)
      .map(_.child.output.map(_.name).toSet.intersect(wide))
      .filter(_.nonEmpty)
    assert(offenders.isEmpty,
      s"wide columns in candidate exchanges: $offenders")
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
