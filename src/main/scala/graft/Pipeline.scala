package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{InputDoc, Mention, SpanOps}
import graft.fixtures.{Corpus, Gazetteer}
import graft.kb.Registry
import graft.link.Linker
import graft.merge.MergeAnnsets
import graft.ner.{RegexNer, TrieNer}
import graft.cluster.NilCluster

/** End-to-end KB-population pipeline (north rule): interleaved spans ->
  * sectioning/NER -> annotation-set merge -> candidate linking -> NIL
  * clustering -> new-entity assignment -> (subj, pred, obj) triples.
  *
  * The reference runs this as 11 HTTP hops per document
  * (pipelinehelper/main.py:49-133); here it is ONE declarative plan. NER,
  * merge, contexts and mention embeddings are document-local and run in
  * one map over the docs, and under the broadcast gate candidate probe,
  * top-k and NIL prediction are mention-local in one map after it; the
  * wide boundaries are exactly: CC iterations (bounded shuffles),
  * resolve joins and final aggregates.
  */
object Pipeline {

  /** One row per document out of the one-pass prep (see run): the
    * embedded merged mentions — the linker's input rows.
    */
  private[graft] final case class DocPrep(doc_id: String,
      mentions: Seq[Linker.EmbeddedMention])

  final case class Result(
      linked: DataFrame,        // one row per merged mention w/ link decision
      candidates: DataFrame,    // per-mention top-k candidate lists (J1 persist)
      clusters: DataFrame,      // NIL cluster records (with assigned nil_id)
      notNilClusters: DataFrame,// J9 pseudo-cluster records for linked entities
      newEntities: DataFrame,   // EntityRecord-shaped rows for KB merge
      triples: DataFrame)       // (doc_id, subj, pred, obj)

  def docText(spark: SparkSession, docs: Dataset[InputDoc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.doc_id, SpanOps.assemble(d.spans))).toDF("doc_id", "text")
  }

  /** Per-document NER + annotation merge: the trie and regex mentions of
    * one document's text through [[MergeAnnsets.mergeDoc]]. Serves both
    * the prep map of [[run]] and [[merged]].
    */
  private def nerMerge(spark: SparkSession): (String, String) => Seq[Mention] = {
    val bcPatterns = spark.sparkContext.broadcast(Gazetteer.patterns)
    val bcTypes = spark.sparkContext.broadcast(
      Gazetteer.byId.map { case (k, v) => k -> v.etype })
    val maxTok = Gazetteer.maxPatternTokens
    (docId, text) => MergeAnnsets.mergeDoc(
      TrieNer.docMentions(docId, text, bcPatterns.value, bcTypes.value, maxTok) ++
        RegexNer.docMentions(docId, text))
  }

  /** ONE-PASS doc prep: a single InputDoc deserialization and a single
    * text assembly per document serve NER, merge, contexts and mention
    * embeddings, so the text never leaves the map. Returns the persisted
    * prep frame (read by both branches of the linker; the caller
    * unpersists it) and the linker input exploded from it — narrow, no
    * exchange.
    */
  private[graft] def prepare(spark: SparkSession, docs: Dataset[InputDoc]): (DataFrame, DataFrame) = {
    import spark.implicits._
    val ner = nerMerge(spark)
    val prep = docs.map { d =>
      val text = SpanOps.assemble(d.spans)
      DocPrep(d.doc_id, Linker.embedDoc(text, ner(d.doc_id, text)))
    }.toDF().persist(Ckpt.storage(spark))
    // NOTE on the lazy prep persist: its first reader is the scan stage
    // of the linker's eager kernel checkpoint, which fills the cache;
    // the linked checkpoint reads it after, so nothing races a cold
    // persist. An eager materializing count would only add a job
    // barrier (r5: ~6.7 s of serial latency at 440k docs).
    (prep, prep.select(explode(col("mentions")).as("m")).select("m.*"))
  }

  /** Run the full pipeline over an input-doc dataset against a registry
    * snapshot. Pure function of (docs, registry) — the incremental loop
    * feeds back the grown registry (see [[Incremental]]). Each doc_id
    * names one document (the mention key is (doc_id, annset, ann_id)).
    */
  def run(spark: SparkSession, docs: Dataset[InputDoc], registry: DataFrame,
          regStats: Option[(Long, Long)] = None): Result = {
    val (prep, embedded) = prepare(spark, docs)

    // ONE registry aggregate serves both the linker's broadcast-or-salt
    // gate (row count) and the new-entity id base (max id) — separate
    // jobs otherwise, and per-job latency is the serial fraction that
    // Amdahl-caps small-batch scaling. Callers that know the registry
    // statically (runCached's gazetteer seed) pass (max id, rows) in and
    // skip the job entirely (r6).
    val (base, regRows) = regStats.getOrElse {
      val regAgg = registry.agg(max(col("id")), count(lit(1))).collect()(0)
      (regAgg.getLong(0), regAgg.getLong(1))
    }

    // localCheckpoint truncates the lineage: the triple-rule union
    // references this frame 5x and planning cost explodes otherwise.
    // Candidate lists stay a separate mention-keyed frame — NOT a wide
    // column dragged through every downstream shuffle of `linked`.
    val (linkedRaw, mentionCandidates) =
      Linker.linkEmbedded(spark, embedded, registry,
        registryRows = Some(regRows))
    val linked = Ckpt(linkedRaw)
    // the linked checkpoint was the prep frame's last reader
    prep.unpersist()

    // DATE-skip mentions never cluster (reference P3/P7 interplay)
    val isNilRow = col("is_nil") && col("mention_type") =!= "DATE"
    // NIL clusters numbered where they are made: deterministic contiguous
    // new-entity ids after the registry max (W7, reference
    // indexer/main.py:408-411; fused aggregate above)
    val clusterRes = NilCluster.clusterFull(spark, linked.filter(isNilRow), idBase = base)
    val clusters = clusterRes.clusters

    val newEntities = clusters.select(
      col("nil_id").as("id"),
      lit(Registry.RwIndexer).as("indexer"),
      lit(-1L).as("wikipedia_id"),
      lit(-1L).as("wikidata_qid"),
      lit(-1L).as("redirects_to"),
      substring(col("title"), 1, 100).as("title"), // F18 truncation
      concat(lit("NIL cluster "), col("cluster_key")).as("descr"),
      col("cluster_type").as("type_"),
      col("center").as("emb"))

    // resolved display name per mention: ent:<title> or nil:<title>.
    // The NIL assignment is a pure function of the mention's SURFACE
    // (NilCluster assigns by lower(mention)), so resolution joins the
    // VOCABULARY-sized surface map — broadcast-hinted by NilCluster on
    // its driver path, a surface-keyed shuffle of the small map otherwise
    // — instead of joining the mention-sized assignments frame back on
    // the annotation key (measured flipping to a spilling sort-merge join
    // of the whole linked frame at 240k docs).
    // Only the NIL rows enter this join. A single left join with a NULL
    // surface on every non-NIL row (the large majority) would hash all of
    // them to ONE shuffle partition on the distributed path — null keys
    // are retained but not special-cased by sort-merge joins, so the
    // resolve stage would serialize at exactly the >LocalLimit scale the
    // distributed path exists for.
    val nilResolved = linked.filter(isNilRow)
      .withColumn("surface", lower(col("mention")))
      .join(clusterRes.surfaceMap.select(col("surface"),
        concat(lit("nil:"), col("title")).as("nil_name"),
        col("nil_id"), col("cluster_type")), Seq("surface"), "left")
      .drop("surface")
    val passThrough = linked.filter(!isNilRow)
      .withColumn("nil_name", lit(null).cast("string"))
      .withColumn("nil_id", lit(null).cast("long"))
      .withColumn("cluster_type", lit(null).cast("string"))
    val resolved = nilResolved.unionByName(passThrough)
      .withColumn("name",
        when(col("nil_name").isNotNull, col("nil_name"))
          .when(col("entity_id") >= 0, concat(lit("ent:"), col("title")))
          .otherwise(lit(null)))
      .withColumn("rtype",
        when(col("nil_name").isNotNull, col("cluster_type"))
          .otherwise(col("entity_type")))
      .filter(col("name").isNotNull)
      .transform(Ckpt(_))

    // :mentions / :typedAs / :sameAsCluster / :coOccursWith in ONE scan
    // of the resolved checkpoint + ONE distinct (r6 fuses the adjacency
    // triples in too). A localCheckpoint is a row store — every scan
    // deserializes FULL rows (no column pruning) — so the previous shape
    // (projection branch + separate window branch, each with its own
    // distinct) paid two full deserialize passes and three exchanges.
    // Here the doc-partitioned lead() window runs first and every triple
    // kind explodes off the windowed rows: one ckpt scan, one window
    // exchange, one distinct exchange. The fused distinct is equivalent
    // because the four triple kinds carry distinct `pred` constants:
    // distinct(union) = union(distincts).
    val emptyT = array().cast("array<struct<subj:string,pred:string,obj:string>>")
    val wAdj = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    val fusedT = resolved
      .withColumn("next_name", lead(col("name"), 1).over(wAdj))
      .select(col("doc_id"), explode(concat(
        array(
          struct(concat(lit("doc:"), col("doc_id")).as("subj"),
            lit(":mentions").as("pred"), col("name").as("obj")),
          struct(col("name").as("subj"),
            lit(":typedAs").as("pred"), col("rtype").as("obj"))),
        when(col("nil_name").isNotNull, array(
          struct(col("nil_name").as("subj"),
            lit(":sameAsCluster").as("pred"),
            concat(lit("NIL"), col("nil_id")).as("obj"))))
          .otherwise(emptyT),
        when(col("next_name").isNotNull && col("next_name") =!= col("name"),
          array(
            struct(least(col("name"), col("next_name")).as("subj"),
              lit(":coOccursWith").as("pred"),
              greatest(col("name"), col("next_name")).as("obj"))))
          .otherwise(emptyT)
      )).as("t"))
      .select(col("doc_id"), col("t.subj"), col("t.pred"), col("t.obj"))
      .distinct()

    // media spans straight from the docs: a narrow scan that needs no
    // NER, so the prep frame can be released above instead of staying
    // cached for as long as the caller holds the triples
    val mediaT = docs
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind") === "media")
      .select(
        col("doc_id"),
        concat(lit("doc:"), col("doc_id")).as("subj"),
        lit(":hasMedia").as("pred"),
        col("s.media_ref").as("obj"))

    val triples = fusedT.unionByName(mediaT)

    // J9: pseudo-cluster records for NOT-NIL mentions, grouped by url
    // (reference nilcluster/main.py:124-161): title from the linked
    // entity, type = mode over linked types with (count desc, value asc)
    // tie-break (Counter.most_common analog), nelements = mention count.
    val notNil = resolved.filter(!col("is_nil") && col("url") =!= "")
    val nnCounts = notNil.groupBy(col("url"), col("entity_type"))
      .agg(count(lit(1)).as("cnt"))
    val wMode = Window.partitionBy(col("url"))
      .orderBy(col("cnt").desc, col("entity_type").asc)
    val nnType = nnCounts.withColumn("rn", row_number().over(wMode))
      .filter(col("rn") === 1)
      .select(col("url"), col("entity_type").as("cluster_type"))
    val notNilClusters = notNil.groupBy(col("url"))
      .agg(max(col("title")).as("title"), count(lit(1)).as("nelements"))
      .join(nnType, Seq("url"))

    Result(resolved, mentionCandidates, clusters, notNilClusters,
      newEntities, triples)
  }

  // ---- convenience entry points over the sf-derived corpus ------------

  // Memoized per (session, dir): several driver queries expose different
  // stages of the same run; without this Verify executes the full
  // pipeline once per query. Results are localCheckpointed, so the memo
  // holds small materialized frames, not live lineage. Entries of
  // stopped sessions are evicted on access (a long-lived process that
  // cycles sessions — e.g. Bench — would otherwise leak checkpointed
  // frames and dead session references).
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Result]

  def runCached(spark: SparkSession, dir: String): Result = {
    memo.keySet.filter(_._1.sparkContext.isStopped).foreach(memo.remove)
    memo.getOrElseUpdate((spark, dir), {
      // The sf corpus is a single small parquet file (1-2 input splits):
      // without an explicit repartition the heavy narrow NER/embed chain
      // runs on 1-2 threads regardless of parallelism. ~2 partitions per
      // core; at 100 TB the table has thousands of splits and AQE keeps
      // this a cheap no-op-shaped round-robin.
      val parts = spark.sparkContext.defaultParallelism * 2
      val docs = Corpus.inputDocs(spark, dir).repartition(parts)
      // the seed registry derives from the static gazetteer: its max id
      // and row count are driver-known, so the regAgg job is skipped
      val ents = graft.fixtures.Gazetteer.entities
      run(spark, docs, Registry.seed(spark).toDF(),
        regStats = Some((ents.map(_.id).max, ents.size.toLong)))
    })
  }

  private def parallelDocs(spark: SparkSession, dir: String): Dataset[InputDoc] =
    Corpus.inputDocs(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism * 2)

  def mentions(spark: SparkSession, dir: String) =
    TrieNer.mentions(spark, parallelDocs(spark, dir))

  def merged(spark: SparkSession, dir: String): Dataset[Mention] = {
    import spark.implicits._
    val ner = nerMerge(spark)
    parallelDocs(spark, dir).flatMap(d => ner(d.doc_id, SpanOps.assemble(d.spans)))
  }

  /** Reference-shaped NIL-cluster records incl. the member `mentions`
    * array of {id, mention} (nilcluster/Packages/TimeEvolving.py:119-124)
    * — the egress form of Result.clusters; assignments recovered from the
    * linked frame's nil_id column.
    */
  def clusterRecords(res: Result): DataFrame = {
    val assigns = res.linked.filter(col("nil_id").isNotNull)
      .select("doc_id", "annset", "ann_id", "nil_id")
    graft.kb.GateJson.clusterRecords(res.clusters, assigns,
      res.linked.select("doc_id", "annset", "ann_id", "mention"),
      key = "nil_id")
  }

  def linked(spark: SparkSession, dir: String): DataFrame =
    runCached(spark, dir).linked

  def triples(spark: SparkSession, dir: String): DataFrame =
    runCached(spark, dir).triples
}
