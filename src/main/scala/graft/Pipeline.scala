package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{InputDoc, Mention, SpanOps, Triple}
import graft.fixtures.{Corpus, Gazetteer}
import graft.kb.Registry
import graft.link.Linker
import graft.link.Linker.LinkedRow
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
  * top-k and NIL prediction are mention-local in one map after it, into
  * the linker's one checkpoint. Resolution and triples are
  * document-local again ([[resolveDoc]]). The wide boundaries are
  * exactly: the NIL surface counts (plus CC iterations past
  * `NilCluster.LocalLimit`), the NIL rows' surface join, and the one
  * doc_id grouping of the resolve kernel.
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
    * prep frame (read by the linker, by two branches past its broadcast
    * gate; the caller unpersists it) and the linker input exploded from
    * it — narrow, no exchange.
    */
  private[graft] def prepare(spark: SparkSession, docs: Dataset[InputDoc]): (DataFrame, DataFrame) = {
    import spark.implicits._
    val ner = nerMerge(spark)
    val prep = docs.map { d =>
      val text = SpanOps.assemble(d.spans)
      DocPrep(d.doc_id, Linker.embedDoc(text, ner(d.doc_id, text)))
    }.toDF().persist(Ckpt.storage(spark))
    // a LAZY persist: the linker's eager checkpoint fills it (past the
    // broadcast gate its branches share it); an eager count would only
    // add a job barrier (r5: ~6.7 s of serial latency at 440k docs)
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

    // the linked rows and the candidate lists (J1) project the linker's
    // ONE checkpoint: the tail below never replans the linker's lineage
    val (linked, mentionCandidates) =
      Linker.linkEmbedded(spark, embedded, registry,
        registryRows = Some(regRows))
    // the linker's checkpoint was the prep frame's last reader
    prep.unpersist()

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

    val perDoc = resolve(spark, linked, clusterRes.surfaceMap)
    val resolved = perDoc.select(explode(col("linked")).as("r")).select("r.m.*",
      "r.nil_name", "r.nil_id", "r.cluster_type", "r.name", "r.rtype")

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

    val triples = perDoc.select(explode(col("triples")).as("t")).select("t.*")
      .unionByName(mediaT)

    // J9: pseudo-cluster records for NOT-NIL mentions, grouped by url
    // (reference nilcluster/main.py:124-161): title from the linked
    // entity, type = mode over linked types with (count desc, value asc)
    // tie-break (Counter.most_common analog: the min of (-count, type)),
    // nelements = mention count.
    val notNilClusters = resolved.filter(!col("is_nil") && col("url") =!= "")
      .groupBy(col("url"), col("entity_type"))
      .agg(max(col("title")).as("title"), count(lit(1)).as("cnt"))
      .groupBy(col("url"))
      .agg(max(col("title")).as("title"), sum(col("cnt")).as("nelements"),
        min(struct(-col("cnt"), col("entity_type"))).as("mode"))
      .select(col("url"), col("title"), col("nelements"),
        col("mode.entity_type").as("cluster_type"))

    Result(resolved, mentionCandidates, clusters, notNilClusters,
      newEntities, triples)
  }

  /** DATE-skip mentions never cluster (reference P3/P7 interplay). */
  private val isNilRow = col("is_nil") && col("mention_type") =!= "DATE"

  /** A row of Result.linked: the linked row, its NIL cluster (null off
    * the NIL rows), its display name and type.
    */
  private[graft] final case class Resolved(m: LinkedRow, nil_name: String,
      nil_id: Option[Long], cluster_type: String, name: String, rtype: String)

  /** One document's resolved mentions and its (deduped) triples. */
  private[graft] final case class DocOut(doc_id: String, linked: Seq[Resolved],
      triples: Seq[Triple])

  /** Resolution and triples, once per document, checkpointed once (for
    * Result.linked, triples, notNilClusters). A NIL row's cluster is a
    * function of its SURFACE, so only NIL rows join the vocabulary-sized
    * surface map (broadcast-hinted on NilCluster's driver path): a NULL
    * surface on every other row would hash them all to ONE partition on
    * the distributed path. Then one groupByKey(doc_id) feeds
    * [[resolveDoc]].
    */
  private[graft] def resolve(spark: SparkSession, linked: DataFrame,
                             surfaceMap: DataFrame): DataFrame = {
    import spark.implicits._
    val row = struct(linked.columns.toSeq.map(col): _*).as("_1")
    val nil = linked.filter(isNilRow)
      .withColumn("surface", lower(col("mention")))
      .join(surfaceMap.select(col("surface"), col("nil_id"),
        col("title").as("nil_title"), col("cluster_type")), Seq("surface"), "left")
      .select(row, col("nil_id").as("_2"), col("nil_title").as("_3"),
        col("cluster_type").as("_4"))
    val rest = linked.filter(!isNilRow).select(row, lit(null).cast("long").as("_2"),
      lit(null).cast("string").as("_3"), lit(null).cast("string").as("_4"))
    Ckpt(nil.unionByName(rest).as[(LinkedRow, Option[Long], String, String)]
      .groupByKey(_._1.doc_id).mapGroups(resolveDoc)).toDF()
  }

  /** One document's tail (the reference resolves and emits each document
    * on its own, pipelinehelper/main.py:49-133) over (linked row, nil_id,
    * cluster title, cluster type) rows: name = nil:<cluster title> or
    * ent:<title> (no name: dropped); :mentions, :typedAs, :sameAsCluster
    * and :coOccursWith with the next mention in the total order (start,
    * annset, ann_id), the pair in UTF-8 byte order as Spark's least/
    * greatest; deduped. Pure and input-order invariant.
    */
  private[graft] def resolveDoc(docId: String,
      rows: Iterator[(LinkedRow, Option[Long], String, String)]): DocOut = {
    val res = rows.flatMap { case (m, nilId, nilTitle, clusterType) =>
      val nilName = Option(nilTitle).map("nil:" + _)
      nilName.orElse(Option.when(m.entity_id >= 0)("ent:" + m.title)).map(name =>
        Resolved(m, nilName.orNull, nilId, clusterType, name,
          if (nilName.isDefined) clusterType else m.entity_type))
    }.toVector.sortBy(r => (r.m.start, r.m.annset, r.m.ann_id))
    val out = scala.collection.mutable.LinkedHashSet.empty[Triple]
    res.foreach { r =>
      out += Triple(docId, "doc:" + docId, ":mentions", r.name)
      out += Triple(docId, r.name, ":typedAs", r.rtype)
      if (r.nil_name != null)
        out += Triple(docId, r.nil_name, ":sameAsCluster", r.nil_id.map("NIL" + _).orNull)
    }
    res.iterator.zip(res.iterator.drop(1)).filter(p => p._1.name != p._2.name)
      .map(p => if (NilCluster.utf8Less(p._2.name, p._1.name)) p.swap else p)
      .foreach(p => out += Triple(docId, p._1.name, ":coOccursWith", p._2.name))
    DocOut(docId, res, out.toVector)
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
