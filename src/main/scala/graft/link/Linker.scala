package graft.link

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Mention
import graft.functions.Similarity
import graft.ner.TrieNer

/** Candidate entity-link scoring — the engine's re-expression of the
  * reference's biencoder -> FAISS KNN -> hydrate -> NIL-predict chain
  * (biencoder/main.py:42-94, indexer/main.py:236-344,
  * nilpredictor/main.py:108-165).
  *
  * Spark shape (the J1 "big one" of SURVEY.md §2.3):
  *  1. mentions needing linking (annset filter P1, !skip P2) get a
  *     deterministic context embedding (Embed, bi-encoder stand-in);
  *  2. BLOCKED candidate join: mention tokens x registry-title token
  *     index — broadcast when the registry is small, shuffle+salt
  *     otherwise (skew note below);
  *  3. score: embedding dot (F6) + norm score (F7) + string features
  *     jaccard (F2) / levenshtein sim (F3);
  *  4. per-mention top-k window (W1, k=10, tie-break entity_id asc);
  *  5. NIL prediction: logistic score over (max_bi, jaccard, lev)
  *     (reference feature set env-sample.txt:19), is_nil = score < 0.5
  *     (nilpredictor/main.py:84,235); zero candidates => is_nil
  *     (indexer/main.py:170-173, P8).
  *
  * Skew at 10^12-doc scale: head surface forms ("spark") fan out on the
  * token join. The registry side per token is tiny, so Spark broadcasts
  * it and the join is map-side (no shuffle, skew-immune). If the
  * registry outgrows broadcast, switch to `saltedTokenJoin` (same
  * output, mention side salted S ways, registry token index replicated).
  */
object Linker {

  val TopK = 10

  /** Registry rows above which the token index is no longer broadcast
    * (the token-exploded index of a 10^8-entity registry does not fit an
    * executor). The gated kernels take it as a defaulted parameter so a
    * test can force the salted path.
    */
  val BroadcastMaxRows: Long = 2000000L

  /** Salt fan-out for the non-broadcast candidate join. */
  val TokenJoinSalts = 16

  /** NIL logistic model (fixture weights, reference model is a pickled
    * sklearn LR — nilpredictor/main.py:108-165): features
    * (max_bi, max_cross, jaccard, levenshtein_sim, mean, median, stdev) —
    * the reference LR consumes BOTH bi- and cross-encoder maxima
    * (nilpredictor/main.py:120-152); the last three are candidate-score
    * statistics over the mention's top-k list (main.py:139-152). Weights
    * are engine fixtures re-derived for the trigram embedding space:
    * exact-title matches stay linked, token-overlap-only candidates stay
    * NIL. bi/cross split 1.0+1.0 so the rerank=false path (where
    * cross_score == bi_score) scores identically to the historical
    * single-2.0-weight model.
    */
  val NilWeights: Array[Double] = Array(1.0, 1.0, 2.0, 2.0, 1.0, 1.0, -0.5)
  val NilBias: Double = -4.0

  private val embedMentionUdf = udf((cl: String, m: String, cr: String) =>
    Embed.embedMention(cl, m, cr))

  /** Attach context windows + mention embeddings: a shuffled hash join
    * mentions x texts on doc_id with INLINE context slicing. A typed
    * per-doc cogroup was measured slower (r4): it deserialized 8.8M
    * Mention objects through Kryo and re-encoded every output row
    * through the reflection encoder (the linker phase dominated the
    * ladder's 4-executor wall). Here both sides stay Tungsten rows: the
    * build side holds each doc's text ONCE per partition hash map (a
    * per-mention join that CARRIED the full text on every joined row was
    * measured GC-bound at ~35% of executor time; the codegen projection
    * below consumes `text` inside the join stage and only the <=30-char
    * slices survive), and the embed UDF is the single object boundary.
    * Scale: doc_id-keyed shuffle join, one text row per doc — no skew;
    * at 100 TB the per-partition build side is corpus_bytes/partitions.
    * Context windows feed the mention embedding either way; they are
    * STORED on the row only for the cross-encoder rerank (`keepCtx`).
    *
    * UNICODE SCOPE (ADVICE r4): Spark's `substr` counts CODE POINTS
    * while Mention.start/end are UTF-16 indices from String ops in the
    * NER stage, so on text containing supplementary characters (outside
    * the BMP — emoji etc.) the context windows shift by the
    * surrogate-pair offset (the offsets of the MENTIONS themselves are
    * unaffected — only the ±30-char context padding shifts).
    */
  def withEmbeddingsDF(
      spark: SparkSession,
      mentions: Dataset[Mention],
      docText: DataFrame,
      keepCtx: Boolean = true): DataFrame = {
    val t = docText.select(col("doc_id"), col("text"))
    // cl = text[max(0, start-30) .. start)  (0-based, end-exclusive)
    // cr = text[end .. end+30)              (substr clamps at the end)
    val cl = col("text").substr(
      greatest(col("start") - lit(29), lit(1)), least(lit(30), col("start")))
    val cr = col("text").substr(col("end") + lit(1), lit(30))
    mentions.toDF()
      .join(t.hint("SHUFFLE_HASH"), Seq("doc_id"))
      .withColumn("m_emb", embedMentionUdf(cl, col("mention"), cr))
      // contexts are stored only for the cross-encoder rerank
      .withColumn("ctx_left", if (keepCtx) cl else lit(""))
      .withColumn("ctx_right", if (keepCtx) cr else lit(""))
      .select("doc_id", "annset", "ann_id", "mention_type", "start", "end",
        "mention", "skip", "gazetteer_id", "ctx_left", "ctx_right", "m_emb")
  }

  /** Cross-encoder rerank stand-in (reference optional stage,
    * crossencoder/__main__.py:94-157: candidates re-scored with the full
    * mention+context against the entity, then re-sorted 148-156): a
    * second, context-heavy embedding replaces the bi-encoder score for
    * ranking. Same vehicle (deterministic hashing embed), same slot.
    */
  private val crossEmbUdf = udf((cl: String, m: String, cr: String) =>
    Embed.embed(cl + " " + m + " " + cr))

  /** Candidate generation + scoring + top-k. Registry columns required:
    * id, title, type_, emb. Returns one row per (mention, candidate)
    * with rank <= TopK. `rerank` switches ranking to the cross-encoder
    * score (bi-encoder still computed — it remains a NIL feature).
    */
  def candidates(spark: SparkSession, linkable: DataFrame,
                 registry: DataFrame, rerank: Boolean = false,
                 registryRows: Option[Long] = None,
                 broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    import spark.implicits._

    // ltitle computed ONCE per registry row (r6): the lev_sim feature
    // below otherwise re-lowercases the title per surviving candidate
    // row — and Spark 4's lower() routes non-ASCII strings through ICU,
    // sampled at ~8% of pipeline task CPU together with the mention side.
    val regTokens = registry
      .select(col("id").as("entity_id"), col("title"), col("type_"),
        col("emb").as("e_emb"))
      .withColumn("ltitle", lower(col("title")))
      .withColumn("token", explode(split(col("ltitle"), "\\s+")))

    // narrow BEFORE the token explode: the join fans each mention out
    // ~3-4x (one row per distinct token), so unused columns multiply —
    // only the key, surface, embedding (and contexts under rerank) are
    // consumed downstream of the join
    val mentionCols = Seq("doc_id", "annset", "ann_id", "mention", "m_emb") ++
      (if (rerank) Seq("ctx_left", "ctx_right") else Nil)
    val mentionTokens = linkable
      .select(mentionCols.map(col): _*)
      // lmention once per mention row (see ltitle note above)
      .withColumn("lmention", lower(col("mention")))
      .withColumn("token",
        explode(array_distinct(split(
          // length-preserving cleanup keeps tokens aligned with TrieNer
          regexp_replace(col("lmention"), "[^\\p{L}\\p{N}]+", " "),
          "\\s+"))))
      .filter(col("token") =!= "")

    // Broadcast-or-salt gate: the per-token registry slice is tiny, so a
    // broadcast map-side join is skew-immune and shuffle-free while the
    // registry fits an executor. Past `broadcastMaxRows` entities the
    // token index must shuffle — then head tokens ("spark") would funnel
    // into single reducers, so the mention side is salted and the token
    // index replicated (identical output, hot keys spread `TokenJoinSalts`
    // ways). The registry row count is one cheap job per pipeline run —
    // callers that already aggregate the registry (Pipeline fuses it with
    // its max-id collect) pass it in to save the job.
    val joined =
      if (registryRows.getOrElse(registry.count()) <= broadcastMaxRows)
        mentionTokens.join(broadcast(regTokens), Seq("token"))
      else saltedTokenJoin(mentionTokens, regTokens, TokenJoinSalts)

    // Width discipline ahead of the two candidate exchanges (the
    // pair-dedup shuffle and the top-k window shuffle): a joined pair
    // row carries two 64-float embeddings plus both context windows
    // (~600 B/row) that downstream only needs as SCALARS — measured
    // 519/560 MB shuffle writes per stage at 440k docs, and the
    // 4-executor ladder level paid ~2x CPU on exactly these stages
    // (single-box memory-bandwidth contention; at cluster scale the
    // same bytes are network). Scores and norms are therefore computed
    // BEFORE the first exchange (a 64-float dot per token-duplicate is
    // ~100 FLOPs vs shipping 512 B through two shuffles) and only
    // narrow columns shuffle. Duplicate pairs (one per shared token)
    // compute identical score values, so the dedup keeps the same
    // result. Expensive string features (jaccard, levenshtein) remain
    // deferred past the window — <=k rows per mention, as before.
    val scored = joined
      .withColumn("bi_score", Similarity.dotCol(col("m_emb"), col("e_emb")))
      .withColumn("m_norm", Similarity.normCol(col("m_emb")))
      .withColumn("e_norm", Similarity.normCol(col("e_emb")))
      .select(Seq("doc_id", "annset", "ann_id", "entity_id", "title",
        "type_", "mention", "lmention", "ltitle",
        "bi_score", "m_norm", "e_norm").map(col) ++
        // under rerank the cross-encoder inputs ride to the dedup; the
        // entity embedding is needed again on the far side for the
        // cosine (e_emb is re-kept rather than re-joined — rerank is an
        // opt-in path, and one wide column on DEDUPED pairs costs less
        // than a second registry join)
        (if (rerank) Seq(col("ctx_left"), col("ctx_right"), col("e_emb"))
         else Nil): _*)
    // cross_score AFTER the pair dedup (ADVICE r4): the crossEmbUdf is
    // the one expensive per-row op here, and computing it before the
    // dedup ran it once per shared-token duplicate (~3-4x per pair) for
    // identical results. bi_score/norms stay pre-exchange as before
    // (cheap dots, and keeping them narrow-only is the r4 exchange
    // discipline).
    // (r6 A/B, rejected: repartitioning by the mention key so dedup +
    // top-k window share ONE exchange measured ~20% WORSE on the linker
    // phase — the single exchange must carry the shared-token duplicate
    // rows raw, and dropDuplicates' map-side partial dedup removes more
    // bytes than the second exchange costs.)
    val pairs = scored
      .dropDuplicates("doc_id", "annset", "ann_id", "entity_id")
      .withColumn("cross_score",
        if (rerank)
          graft.functions.VectorExpressions.floatCosine(
            crossEmbUdf(col("ctx_left"), col("mention"), col("ctx_right")),
            col("e_emb"))
        else col("bi_score"))
      .drop("ctx_left", "ctx_right", "e_emb")

    val w = Window.partitionBy(col("doc_id"), col("annset"), col("ann_id"))
      .orderBy(col("cross_score").desc, col("entity_id").asc)
    pairs
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      // norm_score = dot / max(|a|,|b|)^2 (indexer/main.py:313-317);
      // reuse the dot and the pre-exchange norms, binding the max once
      .withColumn("norm_score",
        col("bi_score") / pow(greatest(col("m_norm"), col("e_norm")), 2))
      .withColumn("jacc", jaccardUdf(col("mention"), col("title")))
      .withColumn("lev_sim",
        lit(1.0) - levenshtein(col("lmention"), col("ltitle")).cast("double") /
          greatest(length(col("mention")), length(col("title")), lit(1)).cast("double"))
      .select("doc_id", "annset", "ann_id", "entity_id", "title", "type_",
        "bi_score", "norm_score", "jacc", "lev_sim", "cross_score", "rank")
  }

  /** Shuffle-side candidate join for registries that outgrow broadcast:
    * mention tokens salted by mention key, registry token index
    * replicated across salts (see [[graft.ops.SkewJoin.saltedJoin]]).
    * Output rows identical to the broadcast join.
    */
  def saltedTokenJoin(mentionTokens: DataFrame, regTokens: DataFrame,
                      salts: Int = TokenJoinSalts): DataFrame =
    graft.ops.SkewJoin.saltedJoin(
      mentionTokens, regTokens, "token",
      Seq(col("doc_id"), col("annset"), col("ann_id")), salts)

  private val jaccardUdf =
    udf((a: String, b: String) => Similarity.jaccardTokens(a, b))

  /** Candidate-score statistics over a mention's top-k list
    * (nilpredictor/main.py:139-152: statistics.mean/median/stdev —
    * median averages the middle two for even n; stdev is the SAMPLE
    * standard deviation, defined 0 here for n < 2).
    */
  private val scoreStatsUdf = udf((scores: Seq[Double]) => {
    val s = scores.sorted
    val n = s.length
    if (n == 0) (0.0, 0.0, 0.0)
    else {
      val mean = s.sum / n
      val median = if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
      val stdev =
        if (n < 2) 0.0
        else math.sqrt(s.map(x => (x - mean) * (x - mean)).sum / (n - 1))
      (mean, median, stdev)
    }
  })

  /** Full linking decision per mention, plus the persisted per-mention
    * candidate lists (reference stores `linking.candidates` (top-10 with
    * scores) and `top_candidate` on every mention,
    * indexer/main.py:175-182).
    *
    * Returns (linked, mentionCandidates):
    *   linked — one row per mention: key/meta + entity_id (-1 when
    *     NIL/none), title, entity_type, bi_score, nil_score, is_nil, url;
    *   mentionCandidates — one row per linkable mention:
    *     (doc_id, annset, ann_id, candidates array<struct<rank,
    *     entity_id, title, type_, bi_score, norm_score>>, top_candidate
    *     struct) — a mention-keyed side table rather than a wide column
    *     on every downstream row (the linked frame is checkpointed and
    *     shuffled repeatedly; candidates ride along only where persisted).
    */
  def linkWithCandidates(
      spark: SparkSession, mentions: Dataset[Mention], docText: DataFrame,
      registry: DataFrame, rerank: Boolean = false,
      registryRows: Option[Long] = None,
      broadcastMaxRows: Long = BroadcastMaxRows): (DataFrame, DataFrame) = {
    import spark.implicits._

    // mention-scale with embeddings + contexts — the widest hot frame;
    // Ckpt.storage (not .cache()) keeps it out of the executor storage
    // pools on the multi-executor bench (see Pipeline.run note).
    // COLUMN filters + row-based embed join (r4): the persisted frame
    // is consumed by three branches, and a typed cogroup or typed
    // `.filter(_.skip)` would pay full object SerDe per row per pass —
    // the row join + codegen filters keep everything in Tungsten.
    val allDf = withEmbeddingsDF(spark, mentions, docText, keepCtx = rerank)
      .persist(graft.Ckpt.storage(spark))

    // skip-path: dictionary-resolved or DATE mentions bypass scoring
    // (reference linking.skip, TrieNER.py:79-81 / spacyner/main.py:51-54).
    // The wide columns (64-float embedding + contexts) are dead past the
    // candidate join — project them out BEFORE the skip/linked frames
    // enter the union + feats join + hydrate exchanges (guide §2.3:
    // project before the exchange); only `candidates` below consumes
    // them, straight off the persisted frame.
    val wideCols = Seq("m_emb", "ctx_left", "ctx_right")
    val skipPath = allDf.filter(col("skip"))
      .drop(wideCols: _*)
      .withColumn("entity_id", col("gazetteer_id"))
      .withColumn("bi_score", lit(1.0))
      .withColumn("nil_score", lit(1.0))
      .withColumn("is_nil", lit(false))

    val linkable = allDf.filter(!col("skip"))
    // resolve the registry row count ONCE per run — both the candidate
    // join and the hydrate join gate their broadcast on it
    val regRows = registryRows.getOrElse(registry.count())
    val cands = candidates(spark, linkable, registry, rerank, Some(regRows),
      broadcastMaxRows)

    // ONE aggregation derives everything per mention — the candidate
    // list, the top candidate, and the NIL features. (An earlier shape
    // consumed `cands` from three uncached branches and recomputed the
    // whole candidate join+window three times: measured 7x slowdown.)
    // jacc/lev ride in the struct so the rank-1 features need no second
    // pass over `cands`.
    val candLists = cands
      .groupBy(col("doc_id"), col("annset"), col("ann_id"))
      .agg(array_sort(collect_list(struct(
        col("rank"), col("entity_id"), col("title"), col("type_"),
        col("bi_score"), col("norm_score"), col("jacc"), col("lev_sim"),
        col("cross_score"))))
        .as("candidates"))
      .withColumn("top_candidate", element_at(col("candidates"), 1))
      .transform(graft.Ckpt(_))

    // candidate-score stats are NIL features (mean/median/stdev,
    // nilpredictor/main.py:139-152); top-candidate features join along.
    // max_bi / max_cross are MAXES OVER THE LIST (nilpredictor/
    // main.py:120-131), not the rank-1 row's fields: under rerank the
    // list is ordered by cross_score, so the rank-1 row's bi_score is
    // whatever bi score the cross-winner happens to have — taking it as
    // max_bi would understate the feature exactly when the two encoders
    // disagree. (Under rerank=false the two coincide.)
    val feats = candLists.select(
        col("doc_id"), col("annset"), col("ann_id"),
        col("top_candidate.entity_id").as("top_entity_id"),
        array_max(transform(col("candidates"), c => c("bi_score"))).as("max_bi"),
        array_max(transform(col("candidates"), c => c("cross_score"))).as("max_cross"),
        col("top_candidate.jacc").as("jacc"),
        col("top_candidate.lev_sim").as("lev_sim"),
        scoreStatsUdf(transform(col("candidates"), c => c("bi_score"))).as("st"))
      .select(col("doc_id"), col("annset"), col("ann_id"),
        col("top_entity_id"), col("max_bi"), col("max_cross"),
        col("jacc"), col("lev_sim"),
        col("st._1").as("sc_mean"), col("st._2").as("sc_median"),
        col("st._3").as("sc_stdev"))

    val sigArg = lit(NilWeights(0)) * col("max_bi") +
      lit(NilWeights(1)) * col("max_cross") +
      lit(NilWeights(2)) * col("jacc") +
      lit(NilWeights(3)) * col("lev_sim") +
      lit(NilWeights(4)) * col("sc_mean") +
      lit(NilWeights(5)) * col("sc_median") +
      lit(NilWeights(6)) * col("sc_stdev") + lit(NilBias)

    val linkedPath = linkable
      .drop(wideCols: _*)
      .join(feats, Seq("doc_id", "annset", "ann_id"), "left")
      .withColumn("nil_score",
        when(col("top_entity_id").isNull, lit(0.0)) // P8: no candidates
          .otherwise(lit(1.0) / (lit(1.0) + exp(-sigArg))))
      .withColumn("is_nil", col("nil_score") < 0.5)
      .withColumn("entity_id",
        when(col("is_nil"), lit(-1L)).otherwise(col("top_entity_id")))
      .withColumn("bi_score", coalesce(col("max_bi"), lit(0.0)))
      .drop("top_entity_id", "max_bi", "max_cross", "jacc", "lev_sim",
        "sc_mean", "sc_median", "sc_stdev")

    val unioned = skipPath.unionByName(linkedPath)

    // Hydrate join (J2): same broadcast-or-shuffle gate as the candidate
    // join above — a 10^8-entity registry cannot broadcast even as the
    // narrow (id,title,type_) slice. Past the gate a plain shuffle join
    // is skew-safe here: the left side is post-top-k (one row per
    // mention), so no entity key fans out more than the mention count
    // that actually linked to it, and AQE handles residual skew.
    val reg = registry.select(col("id").as("entity_id"),
      col("title").as("ent_title"), col("type_").as("ent_type"))
    val regForHydrate =
      if (regRows <= broadcastMaxRows) broadcast(reg) else reg
    val linked = unioned
      .join(regForHydrate, Seq("entity_id"), "left")
      .withColumn("title", coalesce(col("ent_title"), lit("")))
      .withColumn("entity_type",
        coalesce(col("ent_type"), col("mention_type")))
      // URL synthesis P9 (reference indexer/main.py:81-86, TrieNER.py:82-83)
      .withColumn("url",
        when(col("is_nil"), lit(""))  // NIL url assigned after clustering
          .when(col("skip") && col("entity_id") >= 0,
            concat(lit("TRIE"), col("entity_id")))
          .when(col("entity_id") >= 0, concat(lit("kb://ent/"), col("entity_id")))
          .otherwise(lit("")))
      // wide columns were already dropped before the union (above); the
      // caller localCheckpoints this frame, and a checkpoint is a
      // pruning barrier — anything kept here is carried through every
      // downstream shuffle (measured: scaling collapses to memory
      // bandwidth with m_emb retained)
      .drop("ent_title", "ent_type")
    (linked, candLists)
  }

  /** Linking decisions only (see [[linkWithCandidates]]). */
  def link(spark: SparkSession, mentions: Dataset[Mention], docText: DataFrame,
           registry: DataFrame, rerank: Boolean = false,
           broadcastMaxRows: Long = BroadcastMaxRows): DataFrame =
    linkWithCandidates(spark, mentions, docText, registry, rerank,
      broadcastMaxRows = broadcastMaxRows)._1
}
