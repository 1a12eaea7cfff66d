package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language-ID heuristic, document
  * fingerprinting. All pure column expressions (whole-stage codegen) —
  * no UDF in the per-row hot path except the rolling-hash fingerprint.
  */
object TextAnalysis {

  /** Whitespace token count (fast path) — `size(split(...))`. */
  def tokenCount(text: Column): Column =
    size(split(text, "\\s+"))

  /** Quality features per document: length, token stats, duplication,
    * stopword ratio, punctuation ratio.
    */
  def qualityFeatures(df: DataFrame, text: Column): DataFrame = {
    val toks = split(text, "\\s+")
    df.withColumn("n_chars_q", length(text))
      .withColumn("n_tokens", size(toks))
      .withColumn("n_distinct_tokens", size(array_distinct(toks)))
      .withColumn("dup_token_ratio",
        lit(1.0) - col("n_distinct_tokens").cast("double") /
          greatest(col("n_tokens"), lit(1)).cast("double"))
      .withColumn("stopword_ratio",
        size(filter(toks, t => t.isin("the", "a", "of", "and"))).cast("double") /
          greatest(col("n_tokens"), lit(1)).cast("double"))
      .withColumn("punct_ratio",
        (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") /
          greatest(length(text), lit(1)).cast("double"))
  }

  /** Language-ID heuristic: stopword-hit scoring against tiny per-lang
    * dictionaries (n-gram/stopword heuristic; deterministic, vocab-based).
    */
  val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to"),
    "es" -> Seq("el", "la", "de", "que"),
    "de" -> Seq("der", "die", "und", "das"),
    "fr" -> Seq("le", "la", "et", "les"))

  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = split(lower(text), "\\s+")
    langStopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      lang -> (size(filter(toks, t => t.isin(words: _*))).cast("double") /
        greatest(size(toks), lit(1)).cast("double"))
    }
  }

  /** Predicted language: argmax score, tie-break lang asc, 'und' if all
    * scores are zero.
    */
  def langId(text: Column): Column = {
    val scored = langScores(text)
    val best = scored.reduceLeft[(String, Column)] { case ((la, ca), (lb, cb)) =>
      // strict > keeps the lexicographically-first lang on ties
      (la, when(cb > ca, cb).otherwise(ca))
    }
    val bestLang = scored.foldLeft(lit("und")) { case (acc, (lang, c)) =>
      when(c === best._2 && c > 0.0 && acc === "und", lit(lang)).otherwise(acc)
    }
    bestLang
  }

  /** Word n-grams as an array column (single-space tokenization to stay
    * byte-identical with SQL engines' string_split). Empty array — not a
    * descending `sequence` — when the doc has fewer than n words.
    */
  def wordNgrams(text: Column, n: Int): Column = {
    val ws = split(text, " ")
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => array_join(slice(ws, i + lit(1), lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Gopher-style n-gram repetition stats: per-doc total vs distinct
    * bigram/trigram counts plus a duplication flag
    * (`dup bigram fraction > num/den`, compared in exact integer math so
    * SQL oracles agree bit-for-bit). Unigram duplication is already covered
    * by [[qualityFeatures]]; repeated n-grams catch boilerplate/spam docs
    * whose vocabulary looks diverse. Pure column expressions — the whole
    * filter runs inside one codegen stage, no shuffle.
    */
  def ngramRepetition(df: DataFrame, text: Column,
                      flagNum: Long = 1L, flagDen: Long = 10L): DataFrame = {
    val bi = wordNgrams(text, 2)
    val tri = wordNgrams(text, 3)
    df.withColumn("n_bigrams", size(bi).cast("long"))
      .withColumn("n_distinct_bigrams", size(array_distinct(bi)).cast("long"))
      .withColumn("n_trigrams", size(tri).cast("long"))
      .withColumn("n_distinct_trigrams", size(array_distinct(tri)).cast("long"))
      .withColumn("rep_flagged",
        (col("n_bigrams") - col("n_distinct_bigrams")) * lit(flagDen) >
          col("n_bigrams") * lit(flagNum))
  }

  /** Bigram language-model estimation over a corpus: maximum-likelihood
    * conditional probabilities P(w2 | w1) = c(w1 w2) / c(w1 ·) — the
    * count stage of a KenLM-style n-gram LM used for perplexity-based
    * quality filtering of training data (public technique: CCNet,
    * Wenzek et al. 2020).
    *
    * Plan shape at 100 TB: bigrams come from one narrow
    * split+zip+explode projection (codegen), then ONE hash aggregate on
    * (w1, w2) with map-side partial combine — the only corpus-size
    * shuffle. The prefix counts c(w1 ·) attach as a window sum
    * partitioned by w1 over the bigram-count frame — one shuffle of the
    * (much smaller) count frame and NO second consumer of it: joining
    * the frame against its own re-aggregate re-executes the whole
    * corpus pass, because the join's pushed-down isnotnull filters
    * break exchange-reuse canonicalization between the branches
    * (verified on the executed AQE plan). Global top-k is
    * orderBy(...).limit(k) — TakeOrderedAndProject, never a global
    * sort.
    *
    * Determinism: counts are exact longs; p is one double division
    * quantized to a scaled long (same IEEE op in the SQL oracle).
    */
  /** Adjacent-token pairs per row: (w1, w2). `slice` with length 0 (a
    * 1-token doc) yields an empty zip — unlike `sequence(1, size-1)`,
    * which DESCENDS for size=1 (Spark auto-steps -1) and would emit
    * null-padded bigrams.
    */
  private def docBigramPairs(df: DataFrame, idCol: String,
                             textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        split(lower(col(textCol)), "\\s+").as("t"))
      .withColumn("w1s", slice(col("t"), lit(1), size(col("t")) - 1))
      .withColumn("w2s", slice(col("t"), lit(2), size(col("t")) - 1))
      .select(col("doc_id"), explode(arrays_zip(col("w1s"), col("w2s"))).as("p"))
      .select(col("doc_id"), col("p.w1s").as("w1"), col("p.w2s").as("w2"))

  private def bigramPairs(df: DataFrame, textCol: String): DataFrame =
    docBigramPairs(df.withColumn("__doc", lit(0L)), "__doc", textCol)
      .select("w1", "w2")

  /** Corpus bigram counts: ONE hash aggregate on (w1, w2) — the only
    * corpus-size shuffle shared by [[bigramLm]] and [[pmiCollocations]].
    */
  private def bigramCounts(df: DataFrame, textCol: String): DataFrame =
    bigramPairs(df, textCol).groupBy("w1", "w2").agg(count(lit(1)).as("n"))

  def bigramLm(df: DataFrame, textCol: String, topK: Int = 20): DataFrame =
    bigramCounts(df, textCol)
      .withColumn("n1", sum(col("n")).over(Window.partitionBy(col("w1"))))
      .withColumn("p_scaled",
        round(col("n").cast("double") / col("n1").cast("double") * lit(1e6))
          .cast("long"))
      .select("w1", "w2", "n", "p_scaled")
      .orderBy(col("n").desc, col("w1").asc, col("w2").asc)
      .limit(topK)

  /** PMI collocation mining: pointwise mutual information
    * ln(N·c(w1,w2) / (c(w1,·)·c(·,w2))) over corpus bigrams with a
    * minimum-count floor (rare pairs have unreliable, inflated PMI) —
    * the standard collocation/multi-word-expression detector (Church &
    * Hanks 1990).
    *
    * Plan shape at 100 TB: everything derives from the ONE (w1,w2)
    * bigram aggregate, which is PERSISTED — it has two consumers (the
    * scoring chain and the grand-total scalar), and without
    * materialization each consumer re-executes the corpus pass (the
    * isnotnull-pushdown canonicalization break, see [[bigramLm]]).
    * Left/right marginals attach as window sums over the cached count
    * frame (two count-frame shuffles, no joins); the scalar total
    * broadcasts. Top-k is TakeOrderedAndProject.
    *
    * Determinism: all PMI inputs are exact longs; one ln + quantize per
    * surviving pair, mirrored in the SQL oracle; ties broken (w1, w2).
    */
  def pmiCollocations(df: DataFrame, textCol: String, minCount: Long = 5,
                      topK: Int = 30): DataFrame = {
    val c2 = bigramCounts(df, textCol).persist()
    val tot = c2.agg(sum(col("n")).as("t_bigrams"))
    c2.withColumn("n1", sum(col("n")).over(Window.partitionBy(col("w1"))))
      .withColumn("n2", sum(col("n")).over(Window.partitionBy(col("w2"))))
      .filter(col("n") >= minCount)
      .crossJoin(broadcast(tot))
      .withColumn("pmi_scaled",
        round(log(col("n").cast("double") * col("t_bigrams").cast("double") /
          (col("n1").cast("double") * col("n2").cast("double"))) * lit(1e6))
          .cast("long"))
      .select("w1", "w2", "n", "pmi_scaled")
      .orderBy(col("pmi_scaled").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** TF-IDF top-k terms per document — the per-doc keyword extractor a
    * curation pipeline uses for topic tagging and index previews.
    * Smoothed idf = ln((N+1)/(df+1)) + 1 (sklearn's smooth_idf form,
    * public formula), score = tf · idf.
    *
    * Plan shape at 100 TB: one corpus shuffle to (doc, word) term
    * counts. Document frequency attaches as a count window partitioned
    * by word over that frame — NOT a join against its own re-aggregate,
    * which would re-execute the corpus pass (isnotnull-pushdown
    * canonicalization break, see [[bigramLm]]) and the tf frame is too
    * large to persist (≈ one row per distinct (doc, word) — corpus
    * order). N comes from a separate count of the SOURCE frame — a
    * no-column row-count scan (parquet footers), not a second tokenize.
    * The row_number window partitions BY DOC — millions of small
    * independent heaps, never a single-partition window.
    *
    * Determinism: tf/df/N are exact longs; one ln + quantize per term;
    * the rank orders by the QUANTIZED score with (word) tie-break, so
    * both engines cut identical top-k sets.
    */
  /** Per-document term counts (doc_id, word, tf) — the ONE corpus
    * shuffle shared by [[tfidfTopTerms]] and [[tokenEntropy]]; a single
    * definition so a tokenization change cannot drift the two apart.
    */
  private def docTermCounts(df: DataFrame, idCol: String,
                            textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))

  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    val tf = docTermCounts(df, idCol, textCol)
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("word"))))
      .crossJoin(broadcast(nDocs))
      .withColumn("score_scaled",
        round(col("tf").cast("double") *
          (log((col("n_docs").cast("double") + lit(1.0)) /
               (col("df").cast("double") + lit(1.0))) + lit(1.0)) * lit(1e6))
          .cast("long"))
      .withColumn("rnk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score_scaled").desc, col("word").asc)))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("word"), col("tf"),
        col("score_scaled"))
  }

  /** Per-document token-distribution entropy H = -Σ p ln p — a quality
    * feature separating natural text (high entropy) from boilerplate /
    * repetition (low), used alongside [[qualityFeatures]].
    *
    * Plan shape: one shuffle to (doc, word) counts; the doc length
    * comes from a window partitioned by doc_id and the final per-doc
    * sum groups on the SAME key, so the groupBy reuses the window's
    * exchange (no second shuffle).
    *
    * Determinism: each -p·ln p term is quantized to a scaled long
    * BEFORE summation — the per-doc sum is exact integer arithmetic,
    * independent of aggregation order on both engines (doubles summed
    * in engine-dependent order would drift in the last bits).
    */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docTermCounts(df, idCol, textCol)
    val p = col("tf").cast("double") / col("dl").cast("double")
    tf.withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .withColumn("term_scaled", round(-p * log(p) * lit(1e9)).cast("long"))
      .groupBy("doc_id")
      .agg(max(col("dl")).as("n_tokens"), sum(col("term_scaled")).as("h_scaled"))
  }

  /** KL divergence KL(P‖Q) between the unigram distributions of two
    * corpus slices (here: even vs odd doc ids) with add-one smoothing
    * over the joint vocabulary — the domain-shift / contamination
    * detector a data-mixing pipeline runs between a candidate source
    * and its reference corpus (CCNet-adjacent, public technique).
    *
    * Plan shape at 100 TB: ONE corpus shuffle producing per-word counts
    * for both slices simultaneously (conditional sums in a single hash
    * aggregate — never two scans); the count frame is PERSISTED (vocab-
    * sized) because the totals scalar and the term sum both consume it
    * (unmaterialized, each branch re-executes the corpus pass — the
    * isnotnull-pushdown canonicalization break, see [[bigramLm]]);
    * totals broadcast as a one-row frame; the result is a single global
    * sum.
    *
    * Determinism: per-word contributions p·ln(p/q) are quantized to
    * scaled longs before the final sum (order-independent integer
    * arithmetic), mirrored exactly in the oracle.
    */
  def klDivergence(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = df
      .select((col(idCol) % 2 === 0).as("is_p"),
        explode(split(lower(col(textCol)), "\\s+")).as("word"))
      .groupBy("word")
      .agg(sum(when(col("is_p"), 1L).otherwise(0L)).as("cp"),
           sum(when(!col("is_p"), 1L).otherwise(0L)).as("cq"))
      .persist()
    val totals = counts.agg(sum(col("cp")).as("tp"), sum(col("cq")).as("tq"),
      count(lit(1)).as("v"))
    val p = (col("cp") + lit(1L)).cast("double") /
      (col("tp") + col("v")).cast("double")
    val q = (col("cq") + lit(1L)).cast("double") /
      (col("tq") + col("v")).cast("double")
    counts.crossJoin(broadcast(totals))
      .withColumn("term_scaled", round(p * log(p / q) * lit(1e9)).cast("long"))
      .agg(max(col("v")).as("n_vocab"), sum(col("term_scaled")).as("kl_scaled"))
  }

  /** DSIR-style importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023 — public technique): score every
    * document by the log-likelihood ratio of its bigrams under a TARGET
    * bigram LM vs a SOURCE one (here: even vs odd doc-id slices), both
    * add-one smoothed over the joint bigram vocabulary. High w = reads
    * like the target domain; used to resample pretraining data toward a
    * target distribution.
    *
    * Plan shape at 100 TB: an honest TWO-PASS algorithm (estimate, then
    * score) — pass 1 is one (w1,w2) hash aggregate with both slice
    * counts as conditional sums (persisted: the totals scalar and the
    * scoring join both consume it); pass 2 re-derives doc bigrams and
    * hash-joins them to the count frame on (w1,w2) — a hot bigram is
    * ONE row on the build side, so skew degrades toward broadcast
    * behavior, and AQE skew-split covers the probe side.
    *
    * Determinism: per-occurrence log-ratio terms are quantized to
    * scaled longs before the per-doc sum (order-independent integer
    * arithmetic), mirrored exactly in the oracle.
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bi = docBigramPairs(df, idCol, textCol)
    val c = bi.groupBy("w1", "w2").agg(
        sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("ct"),
        sum(when(col("doc_id") % 2 =!= 0, 1L).otherwise(0L)).as("cs"))
      .persist()
    val tot = c.agg(sum(col("ct")).as("tt"), sum(col("cs")).as("ts_"),
      count(lit(1)).as("v"))
    val pt = (col("ct") + lit(1L)).cast("double") /
      (col("tt") + col("v")).cast("double")
    val ps = (col("cs") + lit(1L)).cast("double") /
      (col("ts_") + col("v")).cast("double")
    bi.join(c, Seq("w1", "w2"))
      .crossJoin(broadcast(tot))
      .withColumn("term", round(log(pt / ps) * lit(1e6)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("term")).as("w_scaled"))
  }

  /** Per-document perplexity under the corpus's own bigram LM — THE
    * classic quality filter (CCNet, Wenzek et al. 2020: documents with
    * high perplexity under a reference LM are boilerplate/gibberish).
    * Add-one smoothing: p(w2|w1) = (c(w1,w2)+1)/(c(w1,·)+V), V = number
    * of distinct successor words; ppl = exp(mean NLL over the doc's
    * bigram occurrences).
    *
    * Plan shape at 100 TB: same honest two-pass as [[dsirWeights]] —
    * ONE (w1,w2) aggregate (persisted: the V scalar and the scoring
    * join consume it; prefix totals attach as a w1 window sum, not a
    * join); pass 2 hash-joins doc bigrams to the count frame.
    *
    * Determinism: per-occurrence NLL quantized to scaled longs before
    * the per-doc sum; the final exp runs on one exactly-reproducible
    * double (long/long division), quantized.
    */
  def perplexity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bi = docBigramPairs(df, idCol, textCol)
    val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("n12")).persist()
    val v = c2.agg(countDistinct(col("w2")).as("v"))
    val cw = c2.withColumn("n1",
      sum(col("n12")).over(Window.partitionBy(col("w1"))))
    val p = (col("n12") + lit(1L)).cast("double") /
      (col("n1") + col("v")).cast("double")
    bi.join(cw, Seq("w1", "w2"))
      .crossJoin(broadcast(v))
      .withColumn("nll", round(-log(p) * lit(1e6)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("nll_scaled"))
      .withColumn("ppl_scaled",
        round(exp(col("nll_scaled").cast("double") /
          (col("n_bigrams").cast("double") * lit(1e6))) * lit(1e6))
          .cast("long"))
  }

  /** Rolling polynomial fingerprint over tokens (64-bit, deterministic):
    * document-level content hash robust to whitespace layout.
    */
  val fingerprintUdf = udf((text: String) => {
    var h = 1469598103934665603L // FNV offset
    text.split("\\s+").foreach { tok =>
      var i = 0
      while (i < tok.length) { h = (h ^ tok.charAt(i)) * 1099511628211L; i += 1 }
      h = (h ^ ' ') * 1099511628211L
    }
    h
  })
}
