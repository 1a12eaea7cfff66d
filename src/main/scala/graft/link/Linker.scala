package graft.link

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.unsafe.types.UTF8String
import graft.core.Mention
import graft.functions.Similarity

/** Candidate entity-link scoring — the engine's re-expression of the
  * reference's biencoder -> FAISS KNN -> hydrate -> NIL-predict chain
  * (biencoder/main.py:42-94, indexer/main.py:236-344,
  * nilpredictor/main.py:108-165).
  *
  * Spark shape (the J1 "big one" of SURVEY.md §2.3):
  *  1. mentions needing linking (annset filter P1, !skip P2) get a
  *     deterministic context embedding (Embed, bi-encoder stand-in);
  *  2. BLOCKED candidates: mention tokens x registry-title tokens, each
  *     scored by embedding dot (F6) and both norms ([[scoreMentions]]:
  *     a broadcast posting index probed per mention, or a salted join
  *     past the broadcast gate);
  *  3. ONE per-mention kernel, [[scoreMention]]: pair dedup, top-k (W1,
  *     k=10, tie-break entity_id asc), norm score (F7), jaccard (F2),
  *     levenshtein sim (F3), the candidate list, and the NIL logistic
  *     over the list's features (env-sample.txt:19), is_nil = score <
  *     0.5 (nilpredictor/main.py:84,235); zero candidates => is_nil
  *     (indexer/main.py:170-173, P8); a linked mention takes its title
  *     and type from its top candidate, a skip mention from the registry
  *     row of its gazetteer id.
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

  /** One mention row ready for linking: the merged mention, its context
    * windows (stored only for the cross-encoder rerank, `keepCtx`) and
    * its mention embedding — the columns [[withEmbeddingsDF]] emits.
    */
  private[graft] final case class EmbeddedMention(
      doc_id: String, annset: String, ann_id: Int, mention_type: String,
      start: Int, end: Int, mention: String, skip: Boolean,
      gazetteer_id: Long, ctx_left: String, ctx_right: String,
      m_emb: Array[Float])

  /** The ±30-char context windows of the mention at [start, end):
    * (text[start-30 .. start), text[end .. end+30)), clamped to the text.
    *
    * UNICODE SCOPE (ADVICE r4): `start`/`end` count CODE POINTS, as the
    * Spark `substr` expressions this replaced did (equal on any text
    * without lone surrogates, for offsets >= 0), while Mention.start/end are UTF-16 indices from
    * String ops in the NER stage. On text containing supplementary
    * characters (outside the BMP — emoji etc.) the context windows
    * therefore shift by the surrogate-pair offset (the offsets of the
    * MENTIONS themselves are unaffected — only the ±30-char context
    * padding shifts).
    */
  private[graft] def contexts(text: String, start: Int, end: Int): (String, String) = {
    val n = text.codePointCount(0, text.length)
    def slice(from: Int, until: Int): String = {
      val (a, b) = (math.min(math.max(from, 0), n), math.min(until, n))
      if (a >= b) ""
      else text.substring(text.offsetByCodePoints(0, a), text.offsetByCodePoints(0, b))
    }
    (slice(start - 30, start), slice(end, end + 30))
  }

  /** (ctx_left, ctx_right, m_emb) of one mention of `text`; the contexts
    * feed the embedding either way and are kept only under `keepCtx`.
    */
  private def embedAt(text: String, start: Int, end: Int, mention: String,
                      keepCtx: Boolean): (String, String, Array[Float]) = {
    val (cl, cr) = contexts(text, start, end)
    (if (keepCtx) cl else "", if (keepCtx) cr else "",
      Embed.embedMention(cl, mention, cr))
  }

  /** Embed the merged mentions of ONE document — the per-document form of
    * [[withEmbeddingsDF]] with `keepCtx = false`, run inside Pipeline's
    * prep map where the text is already at hand. Contexts are not stored:
    * the pipeline does not rerank.
    */
  private[graft] def embedDoc(text: String,
                              mentions: Seq[Mention]): Seq[EmbeddedMention] =
    mentions.map { m =>
      val (cl, cr, emb) = embedAt(text, m.start, m.end, m.mention, keepCtx = false)
      EmbeddedMention(m.doc_id, m.annset, m.ann_id, m.mention_type, m.start,
        m.end, m.mention, m.skip, m.gazetteer_id, cl, cr, emb)
    }

  private val embedUdf = udf(embedAt _)

  /** Attach context windows + mention embeddings to mentions held apart
    * from their text: a shuffled hash join mentions x texts on doc_id,
    * then the embed UDF slices and embeds each row. The build side holds
    * each doc's text ONCE per partition hash map (a per-mention join that
    * CARRIED the full text on every joined row was measured GC-bound at
    * ~35% of executor time); only the <=30-char slices survive the
    * projection. Pipeline.run does not come here: its prep map embeds
    * with [[embedDoc]] while the text is still in hand, so its linker
    * input plans no exchange.
    */
  def withEmbeddingsDF(
      spark: SparkSession,
      mentions: Dataset[Mention],
      docText: DataFrame,
      keepCtx: Boolean = true): DataFrame =
    mentions.toDF()
      .join(docText.select(col("doc_id"), col("text")).hint("SHUFFLE_HASH"),
        Seq("doc_id"))
      .withColumn("e", embedUdf(col("text"), col("start"), col("end"),
        col("mention"), lit(keepCtx)))
      .select(col("doc_id"), col("annset"), col("ann_id"), col("mention_type"),
        col("start"), col("end"), col("mention"), col("skip"),
        col("gazetteer_id"), col("e._1").as("ctx_left"),
        col("e._2").as("ctx_right"), col("e._3").as("m_emb"))

  /** One candidate row of a mention on its way into [[scoreMention]]: a
    * registry entity sharing a token with the mention, with its scalar
    * scores (bi-encoder dot, both norms). `e_emb` feeds the rerank
    * cosine; the salted path ships it only under rerank (null otherwise).
    */
  private[graft] final case class Hit(entity_id: Long, title: String,
      type_ : String, ltitle: String, bi_score: Double, m_norm: Double,
      e_norm: Double, e_emb: Array[Float])

  /** One kept candidate: an element of the persisted candidate list
    * (reference `linking.candidates`, indexer/main.py:175-182).
    */
  private[graft] final case class Cand(rank: Int, entity_id: Long,
      title: String, type_ : String, bi_score: Double, norm_score: Double,
      jacc: Double, lev_sim: Double, cross_score: Double)

  /** One mention's linked row: the columns of the `linked` frame, in
    * order (built by [[linkedRow]]).
    */
  private[graft] final case class LinkedRow(entity_id: Long, doc_id: String,
      annset: String, ann_id: Int, mention_type: String, start: Int, end: Int,
      mention: String, skip: Boolean, gazetteer_id: Long, bi_score: Double,
      nil_score: Double, is_nil: Boolean, title: String, entity_type: String,
      url: String)

  /** A mention's linked row plus its candidate list (empty, with
    * `top_candidate` null, on a skip row and when no entity shares a
    * token).
    */
  private[graft] final case class Scored(m: LinkedRow, candidates: Seq[Cand],
      top_candidate: Cand)

  /** `m`'s linked row: title "" and type = mention type where the registry
    * gives none, URL by P9 (reference indexer/main.py:81-86,
    * TrieNER.py:82-83; a NIL url is set after clustering).
    */
  private def linkedRow(m: EmbeddedMention, entityId: Long, bi: Double,
      nil: Double, isNil: Boolean, title: String, etype: String): LinkedRow =
    LinkedRow(entityId, m.doc_id, m.annset, m.ann_id, m.mention_type, m.start,
      m.end, m.mention, m.skip, m.gazetteer_id, bi, nil, isNil,
      Option(title).getOrElse(""), Option(etype).getOrElse(m.mention_type),
      if (isNil || entityId < 0) ""
      else if (m.skip) s"TRIE$entityId"
      else s"kb://ent/$entityId")

  /** A skip mention (dictionary-resolved or DATE; reference linking.skip,
    * TrieNER.py:79-81 / spacyner/main.py:51-54) bypasses scoring: it
    * links its gazetteer id, titled and typed by that registry row.
    */
  private def skipped(m: EmbeddedMention, title: String, etype: String): Scored =
    Scored(linkedRow(m, m.gazetteer_id, 1.0, 1.0, isNil = false, title, etype),
      Nil, null)

  /** A registry row as the linker indexes it ([[regEntities]]):
    * `ltitle` = Spark `lower(title)`, `tokens` = `split(ltitle, "\\s+")`
    * (no cleanup).
    */
  private[graft] final case class RegEntity(entity_id: Long, title: String,
      type_ : String, e_emb: Array[Float], ltitle: String, tokens: Seq[String])

  private[graft] def regEntities(registry: DataFrame): DataFrame = registry
    .select(col("id").as("entity_id"), col("title"), col("type_"),
      col("emb").as("e_emb"), lower(col("title")).as("ltitle"))
    .withColumn("tokens", split(col("ltitle"), "\\s+"))

  /** The mention side as the kernel reads it: `lmention` = Spark
    * `lower(mention)`, `tokens` = its distinct non-empty tokens after the
    * letter/digit cleanup.
    */
  private[graft] def withTokens(linkable: DataFrame): DataFrame = linkable
    .withColumn("lmention", lower(col("mention")))
    // length-preserving cleanup keeps tokens aligned with TrieNer
    .withColumn("tokens", array_remove(array_distinct(split(
      regexp_replace(col("lmention"), "[^\\p{L}\\p{N}]+", " "), "\\s+")), ""))

  /** Token -> entity posting index over a collected registry (the
    * filter step of TokenJoin's filter-and-verify; the verify step is
    * the exact dot product). Entity norms are computed once per entity;
    * the same rows hydrate skip mentions by id.
    */
  private[graft] final class TokenIndex(val entities: Array[RegEntity])
      extends Serializable {
    val eNorms: Array[Double] = entities.map(e => Similarity.norm(e.e_emb))
    private val ids: Map[Long, RegEntity] = entities.map(e => e.entity_id -> e).toMap
    private val postings: Map[String, Array[Int]] = entities.indices
      .flatMap(i => Option(entities(i).tokens).getOrElse(Nil).map(_ -> i))
      .groupMap(_._1)(_._2).map { case (t, is) => t -> is.distinct.toArray }

    /** Positions of the entities sharing a token with `tokens`, each
      * once, in first-hit order — the broadcast form of the token join
      * plus its pair dedup.
      */
    def probe(tokens: Seq[String]): Seq[Int] = {
      val seen = scala.collection.mutable.BitSet.empty
      tokens.flatMap(t => postings.getOrElse(t, Array.emptyIntArray))
        .filter(seen.add)
    }

    /** The registry row with this id (a skip mention's gazetteer id). */
    def byId(id: Long): Option[RegEntity] = ids.get(id)
  }

  /** [[graft.functions.FloatCosine]] in plain Scala: one pass over the
    * common prefix, 0 when the product of the norms is 0.
    */
  private def floatCosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    for (i <- 0 until math.min(a.length, b.length)) {
      val (x, y) = (a(i).toDouble, b(i).toDouble)
      d += x * y; na += x * x; nb += y * y
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 0.0 else d / den
  }

  /** Candidate-score statistics over a mention's non-empty top-k list
    * (nilpredictor/main.py:139-152: statistics.mean/median/stdev —
    * median averages the middle two for even n; stdev is the SAMPLE
    * standard deviation, defined 0 here for n < 2).
    */
  private def scoreStats(scores: Seq[Double]): (Double, Double, Double) = {
    val s = scores.sorted
    val n = s.length
    val mean = s.sum / n
    val median = if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    (mean, median,
      if (n < 2) 0.0 else math.sqrt(s.map(x => (x - mean) * (x - mean)).sum / (n - 1)))
  }

  /** `T`'s fields as one struct column (a typed row of the frame), the
    * `nulled` fields shipped as nulls.
    */
  private def packed[T <: Product : TypeTag](nulled: Set[String]): Column =
    struct(Encoders.product[T].schema.fields.map(f =>
      if (nulled(f.name)) lit(null).cast(f.dataType).as(f.name) else col(f.name)): _*)

  /** The per-mention half of linking, once for both candidate paths:
    * the reference takes one mention's top-k (indexer/main.py:247-331)
    * and scores NIL from that list (nilpredictor/main.py:108-165):
    *  1. dedup `hits` by entity_id (first row kept);
    *  2. cross_score: under rerank the cross-encoder stand-in
    *     (crossencoder/__main__.py:94-157: a context-heavy embedding of
    *     the mention, cosine against the entity), else the bi score;
    *  3. sort by (cross_score desc, entity_id asc), keep TopK, and per
    *     candidate norm_score = dot / max(|m|,|e|)^2
    *     (indexer/main.py:313-317), jacc and lev_sim;
    *  4. max_bi / max_cross are maxes OVER THE LIST
    *     (nilpredictor/main.py:120-131; under rerank the rank-1 bi score
    *     need not be the largest), then the list's bi mean/median/stdev
    *     and the NIL logistic; no candidate => NIL, score 0 (P8).
    * Bit-identical to the Spark expressions it replaced: `lmention` /
    * `ltitle` come from Spark's lower(), doubles compare as Spark's
    * do, lev_sim is UTF8String's code-point Levenshtein over the lowered
    * strings over the larger code-point length of the original ones,
    * and pow/exp are StrictMath's, as in Spark's Pow and Exp (Math.exp
    * may differ by an ulp once JIT-compiled).
    */
  private[graft] def scoreMention(m: EmbeddedMention, lmention: String,
                                  hits: Iterator[Hit], rerank: Boolean): Scored = {
    val seen = scala.collection.mutable.HashSet.empty[Long]
    val uniq = hits.filter(h => seen.add(h.entity_id)).toVector
    val crossEmb =
      if (rerank) Embed.embed(m.ctx_left + " " + m.mention + " " + m.ctx_right)
      else null
    val top = uniq
      .map(h => (h, if (rerank) floatCosine(crossEmb, h.e_emb) else h.bi_score))
      .sortWith { case ((a, ca), (b, cb)) =>
        val c = compareDoubles(cb, ca)
        if (c != 0) c < 0 else a.entity_id < b.entity_id
      }
      .take(TopK)
    val lm = UTF8String.fromString(lmention)
    val mLen = UTF8String.fromString(m.mention).numChars
    val cands = top.zipWithIndex.map { case ((h, cross), i) =>
      val g = if (compareDoubles(h.e_norm, h.m_norm) > 0) h.e_norm else h.m_norm
      val lev = lm.levenshteinDistance(UTF8String.fromString(h.ltitle))
      val len = math.max(math.max(mLen, UTF8String.fromString(h.title).numChars), 1)
      Cand(i + 1, h.entity_id, h.title, h.type_, h.bi_score,
        h.bi_score / StrictMath.pow(g, 2), Similarity.jaccardTokens(m.mention, h.title),
        1.0 - lev.toDouble / len.toDouble, cross)
    }
    // a linked row takes the registry title and type its top candidate
    // carries; a NIL row links no entity
    def decide(entityId: Long, bi: Double, nil: Double, isNil: Boolean,
               topCand: Cand) =
      Scored(linkedRow(m, entityId, bi, nil, isNil,
          if (isNil) null else topCand.title, if (isNil) null else topCand.type_),
        cands, topCand)
    // array_max's pick: SQL double order, first of equals
    def sqlMax(xs: Seq[Double]) = xs.reduce((a, b) => if (compareDoubles(b, a) > 0) b else a)
    if (cands.isEmpty) decide(-1L, 0.0, 0.0, isNil = true, null)
    else {
      val c1 = cands.head
      val maxBi = sqlMax(cands.map(_.bi_score))
      val (mean, median, stdev) = scoreStats(cands.map(_.bi_score))
      val w = NilWeights
      val sig = w(0) * maxBi + w(1) * sqlMax(cands.map(_.cross_score)) +
        w(2) * c1.jacc + w(3) * c1.lev_sim + w(4) * mean + w(5) * median +
        w(6) * stdev + NilBias
      val nil = 1.0 / (1.0 + StrictMath.exp(-sig))
      decide(if (nil < 0.5) -1L else c1.entity_id, maxBi, nil, nil < 0.5, c1)
    }
  }

  /** Every mention ([[EmbeddedMention]] columns) linked: one unmaterialized
    * [[Scored]] row each, by [[scoreMention]] or, for a skip mention,
    * [[skipped]]. Broadcast-or-salt gate: while the registry fits an
    * executor it is collected ONCE as a broadcast [[TokenIndex]] and one
    * narrow map probes it, scores the hits and runs the kernel (a skip
    * mention looks its gazetteer id up) — no exchange, and head tokens
    * ("spark") cannot skew anything. Past the gate the mention side is
    * salted and the index replicated ([[saltedTokenJoin]]); scores are
    * computed BEFORE the first exchange so no embedding or context
    * shuffles (~600 B per pair row, measured 519/560 MB per stage at 440k
    * docs); dropDuplicates' map-side partial dedup drops shared-token
    * duplicates before they ship (r6 A/B: ~20% better than shipping them
    * raw); the pairs are cogrouped with their mentions, so a mention with
    * none gets P8; skip mentions take a plain shuffle join with the
    * registry (id, title, type_), skew-safe at one row per mention.
    */
  private[graft] def scoreMentions(spark: SparkSession, mentions: DataFrame,
      registry: DataFrame, rerank: Boolean, regRows: Long,
      broadcastMaxRows: Long): Dataset[Scored] = {
    import spark.implicits._
    val tokened = withTokens(mentions)
    if (regRows <= broadcastMaxRows) {
      val idx = spark.sparkContext.broadcast(
        new TokenIndex(regEntities(registry).as[RegEntity].collect()))
      tokened.select(packed[EmbeddedMention](Set.empty).as("_1"),
          col("lmention").as("_2"), col("tokens").as("_3"))
        .as[(EmbeddedMention, String, Seq[String])]
        .map { case (m, lm, tokens) =>
          val ix = idx.value
          if (m.skip) {
            val e = ix.byId(m.gazetteer_id)
            skipped(m, e.map(_.title).orNull, e.map(_.type_).orNull)
          } else {
            val mNorm = Similarity.norm(m.m_emb)
            scoreMention(m, lm, ix.probe(tokens).iterator.map { i =>
              val e = ix.entities(i)
              Hit(e.entity_id, e.title, e.type_, e.ltitle,
                Similarity.dot(m.m_emb, e.e_emb), mNorm, ix.eNorms(i), e.e_emb)
            }, rerank)
          }
        }
    } else {
      val key = Seq("doc_id", "annset", "ann_id")
      val linkable = tokened.filter(!col("skip"))
      val pairs = saltedTokenJoin(
          linkable.select((key :+ "m_emb").map(col) :+
            explode(col("tokens")).as("token"): _*),
          regEntities(registry).withColumn("token", explode(col("tokens"))))
        .withColumn("bi_score", Similarity.dotCol(col("m_emb"), col("e_emb")))
        .withColumn("m_norm", Similarity.normCol(col("m_emb")))
        .withColumn("e_norm", Similarity.normCol(col("e_emb")))
        .select((key ++ Seq("entity_id", "title", "type_", "ltitle", "bi_score",
          "m_norm", "e_norm") ++ (if (rerank) Seq("e_emb") else Nil)).map(col): _*)
        .dropDuplicates(key :+ "entity_id")
        .select(col("doc_id").as("_1"), col("annset").as("_2"), col("ann_id").as("_3"),
          packed[Hit](if (rerank) Set.empty else Set("e_emb")).as("_4"))
        .as[(String, String, Int, Hit)]
      // no mention side ships an embedding, and contexts only under rerank
      val narrow = Set("m_emb") ++ (if (rerank) Nil else Seq("ctx_left", "ctx_right"))
      val scored = linkable.select(packed[EmbeddedMention](narrow).as("_1"),
          col("lmention").as("_2"))
        .as[(EmbeddedMention, String)]
        .groupByKey(m => (m._1.doc_id, m._1.annset, m._1.ann_id))
        .cogroup(pairs.groupByKey(p => (p._1, p._2, p._3))) { (_, ms, ps) =>
          val hits = ps.map(_._4).toVector
          ms.map { case (m, lm) => scoreMention(m, lm, hits.iterator, rerank) }
        }
      val skips = mentions.filter(col("skip"))
        .join(registry.select(col("id").as("gazetteer_id"), col("title").as("_2"),
          col("type_").as("_3")), Seq("gazetteer_id"), "left")
        .select(packed[EmbeddedMention](Set("m_emb", "ctx_left", "ctx_right")).as("_1"),
          col("_2"), col("_3"))
        .as[(EmbeddedMention, String, String)]
        .map { case (m, title, etype) => skipped(m, title, etype) }
      scored.union(skips)
    }
  }

  /** Candidate generation + scoring + top-k. Registry columns required:
    * id, title, type_, emb. Returns one row per (mention, candidate)
    * with rank <= TopK: the kernel's candidate lists, exploded (a skip
    * mention has none). `rerank`
    * switches ranking to the cross-encoder score (bi-encoder still
    * computed — it remains a NIL feature).
    */
  def candidates(spark: SparkSession, linkable: DataFrame,
                 registry: DataFrame, rerank: Boolean = false,
                 registryRows: Option[Long] = None,
                 broadcastMaxRows: Long = BroadcastMaxRows): DataFrame =
    scoreMentions(spark, linkable, registry, rerank,
        registryRows.getOrElse(registry.count()), broadcastMaxRows)
      .select(col("m.doc_id"), col("m.annset"), col("m.ann_id"),
        explode(col("candidates")).as("c"))
      .select(Seq("doc_id", "annset", "ann_id").map(col) ++
        Seq("entity_id", "title", "type_", "bi_score", "norm_score", "jacc",
          "lev_sim", "cross_score", "rank").map(f => col(s"c.$f")): _*)

  /** Shuffle-side candidate join for registries that outgrow broadcast:
    * mention tokens salted by mention key, registry token index
    * replicated across salts (see [[graft.ops.SkewJoin.saltedJoin]]).
    * Output rows identical to an unsalted join.
    */
  def saltedTokenJoin(mentionTokens: DataFrame, regTokens: DataFrame,
                      salts: Int = TokenJoinSalts): DataFrame =
    graft.ops.SkewJoin.saltedJoin(
      mentionTokens, regTokens, "token",
      Seq(col("doc_id"), col("annset"), col("ann_id")), salts)

  /** Full linking decision per mention, plus the persisted per-mention
    * candidate lists (reference stores `linking.candidates` (top-10 with
    * scores) and `top_candidate` on every mention,
    * indexer/main.py:175-182).
    *
    * Returns (linked, mentionCandidates):
    *   linked — one row per mention: key/meta + entity_id (-1 when
    *     NIL/none), title, entity_type, bi_score, nil_score, is_nil, url;
    *   mentionCandidates — one row per linkable mention with at least
    *     one candidate: (doc_id, annset, ann_id, candidates array<struct<
    *     rank, entity_id, title, type_, bi_score, norm_score, jacc,
    *     lev_sim, cross_score>>, top_candidate struct).
    * Both are projections of ONE checkpoint that holds the lists on the
    * linked rows: one materialization serves both.
    */
  def linkWithCandidates(
      spark: SparkSession, mentions: Dataset[Mention], docText: DataFrame,
      registry: DataFrame, rerank: Boolean = false,
      registryRows: Option[Long] = None,
      broadcastMaxRows: Long = BroadcastMaxRows): (DataFrame, DataFrame) =
    // past the gate several branches read the embed join: checkpointed,
    // so no cached frame outlives the call
    linkEmbedded(spark,
      graft.Ckpt(withEmbeddingsDF(spark, mentions, docText, keepCtx = rerank)),
      registry, rerank, registryRows, broadcastMaxRows)

  /** [[linkWithCandidates]] over mentions that are already embedded
    * (the [[EmbeddedMention]] columns, contexts kept iff `rerank`).
    * Past the broadcast gate `allDf` is read by several branches, so
    * the caller hands in a persisted or checkpointed frame or a narrow
    * projection of one. ONE checkpoint holds every mention's linked row
    * with its candidate list; both returned frames project it.
    */
  private[graft] def linkEmbedded(
      spark: SparkSession, allDf: DataFrame, registry: DataFrame,
      rerank: Boolean = false, registryRows: Option[Long] = None,
      broadcastMaxRows: Long = BroadcastMaxRows): (DataFrame, DataFrame) = {
    // one checkpoint, no embeddings in it: uncached branches off one
    // candidate frame once recomputed its join per branch (measured 7x)
    val rows = graft.Ckpt(scoreMentions(spark, allDf, registry, rerank,
      registryRows.getOrElse(registry.count()), broadcastMaxRows)).toDF()
    (rows.select("m.*"),
      rows.filter(size(col("candidates")) > 0).select(col("m.doc_id"),
        col("m.annset"), col("m.ann_id"), col("candidates"), col("top_candidate")))
  }

  /** Linking decisions only (see [[linkWithCandidates]]). */
  def link(spark: SparkSession, mentions: Dataset[Mention], docText: DataFrame,
           registry: DataFrame, rerank: Boolean = false,
           broadcastMaxRows: Long = BroadcastMaxRows): DataFrame =
    linkWithCandidates(spark, mentions, docText, registry, rerank,
      broadcastMaxRows = broadcastMaxRows)._1
}
