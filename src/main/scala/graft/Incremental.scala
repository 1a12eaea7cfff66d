package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.InputDoc
import graft.kb.Registry
import graft.tables.IceLite

/** Incremental KB population — the reference's defining behavior
  * (indexer/main.py:353-437: entities discovered in one document are
  * visible to the next) re-expressed as a micro-batch loop over IceLite
  * snapshot tables with per-batch lineage checkpointing and resume
  * (north rule: "resumable from checkpoint with per-partition lineage +
  * metrics tables").
  *
  * Batch semantics = the reference's DataEvolver step-k replay
  * (nilcluster/Packages/TimeEvolving.py:11-47): docs inside a batch do
  * not see each other's new entities; every later batch does.
  *
  * State tables under `workDir`:
  *   documents          InputDoc rows             MERGE key (doc_id)
  *   mentions           linked mention rows       replaced per doc_id
  *   mention_candidates top-k candidate lists     replaced per doc_id
  *   triples            (doc_id, subj, pred, obj) replaced per doc_id
  *   entity_registry    EntityRecord rows         MERGE key (id, indexer)
  *   lineage            (batch_id, stage, status) append-only, no wall-clock
  *   metrics            (batch_id, metric, value) append-only (wall-clock ok;
  *                      excluded from identity checks)
  *
  * Crash consistency: every table commit is an atomic pointer swap; the
  * lineage "done" row for a batch is written LAST, so a kill at any
  * point re-runs the batch, and the keyed writes (per-doc replace,
  * keyed MERGE) make the replay idempotent — the final tables are
  * byte-identical to an uninterrupted run (tested).
  */
object Incremental {

  /** KB state tables. The row tables are hash-BUCKETED on doc_id (their
    * write key), so a micro-batch write rewrites only the touched
    * buckets — O(batch), not O(table), at 10^12 docs.
    * Registry buckets on entity id; lineage/metrics are append-only.
    */
  final case class Tables(workDir: String) {
    val documents = IceLite(s"$workDir/documents", 16, Seq("doc_id"))
    val mentions = IceLite(s"$workDir/mentions", 16, Seq("doc_id"))
    val candidates = IceLite(s"$workDir/mention_candidates", 16, Seq("doc_id"))
    val registry = IceLite(s"$workDir/entity_registry", 8, Seq("id"))
    val triples = IceLite(s"$workDir/triples", 16, Seq("doc_id"))
    val lineage = IceLite(s"$workDir/lineage")
    val metrics = IceLite(s"$workDir/metrics")
  }

  /** Deterministic batch id for a doc (stable across runs/partitionings:
    * Spark murmur3 hash with fixed seed).
    */
  def withBatch(docs: Dataset[InputDoc], numBatches: Int): DataFrame =
    docs.toDF().withColumn("batch_id", pmod(hash(col("doc_id")), lit(numBatches)))

  def doneBatches(spark: SparkSession, t: Tables): Set[Int] = readLineage(spark, t).done

  /** The lineage table's (batch_id, stage, status) rows, read with ONE
    * collect; every resume and expiry decision derives from them in
    * [[Lineage]].
    */
  private def readLineage(spark: SparkSession, t: Tables): Lineage =
    Lineage(t.lineage.read(spark).toSeq.flatMap(_.select("batch_id", "stage", "status")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))))

  private final case class Lineage(rows: Seq[(Int, String, String)]) {
    def done: Set[Int] = rows.collect { case (b, _, "done") => b }.toSet

    /** Registry snapshot each batch is pinned to (its registry_snapshot
      * row, written BEFORE any table mutation): a mid-batch crash replay
      * re-runs against it, not the half-grown registry. First attempt's
      * pin wins (min) — later attempts may observe the crashed attempt's
      * registry merge.
      */
    def batchPins: Map[Int, Int] =
      rows.collect { case (b, "registry_snapshot", s) => b -> s.toInt }
        .groupMapReduce(_._1)(_._2)(math.min)

    /** Reannotate id-sets whose LATEST attempt (highest marker) has no
      * done row — a completed replay supersedes a crashed attempt's
      * dangling start — each with the registry snapshot that attempt
      * pinned (None for pre-pin marker formats: callers then pin the
      * current snapshot).
      */
    def danglingReannotations: Map[String, Option[Int]] =
      rows.collect { case (_, st, s) if st.startsWith("reannotate") => parseMarker(st, s) }
        .groupBy(_._1).flatMap { case (ids, attempts) =>
          val latest = attempts.map(_._2).max
          if (attempts.exists(a => a._2 == latest && !a._4)) None
          else Some(ids -> attempts.collectFirst { case (_, `latest`, Some(s), true) => s })
        }
  }

  /** Append one (batch_id, stage, status) row to the lineage table. */
  private def mark(spark: SparkSession, t: Tables, b: Int, stage: String, status: String): Unit =
    t.lineage.append(spark.createDataFrame(Seq((b, stage, status)))
      .toDF("batch_id", "stage", "status"))

  /** Run (or resume) the incremental population. `upToBatch` limits how
    * many batches run this invocation (for kill/resume testing); default
    * runs all remaining.
    */
  def run(spark: SparkSession, docs: Dataset[InputDoc], workDir: String,
          numBatches: Int, upToBatch: Int = Int.MaxValue): Tables = {
    import spark.implicits._
    val batched = withBatch(docs, numBatches).cache()
    val t = runPending(spark, workDir, 0 until numBatches, upToBatch)(b =>
      batched.filter(col("batch_id") === b).drop("batch_id").as[InputDoc])
    batched.unpersist()
    t
  }

  /** The resume protocol shared by [[run]] and
    * [[graft.streaming.StreamKb.populate]]: seed the registry on first
    * use, skip batches whose done row exists, and run the others (at most
    * `limit`) in order, each against the registry snapshot a crashed
    * attempt pinned, if any.
    */
  def runPending(spark: SparkSession, workDir: String, batchIds: Seq[Int],
                 limit: Int = Int.MaxValue)(docsOf: Int => Dataset[InputDoc]): Tables = {
    val t = Tables(workDir)
    if (!t.registry.exists) t.registry.overwrite(Registry.seed(spark).toDF())
    val lineage = readLineage(spark, t)
    val pinned = lineage.batchPins
    batchIds.filterNot(lineage.done).take(limit)
      .foreach(b => processBatch(spark, t, docsOf(b), b, pinned.get(b)))
    t
  }

  /** Columns of the `mentions` table, selected from `Pipeline.run`'s
    * linked frame.
    */
  private val MentionColumns = Seq("doc_id", "annset", "ann_id", "mention_type",
    "start", "end", "mention", "skip", "entity_id", "title", "entity_type",
    "bi_score", "nil_score", "is_nil", "url", "name").map(col)

  /** Annotate `docs` against registry snapshot `snapId` and write the
    * result: the `mentions`, `mention_candidates` and `triples` rows of
    * every doc in `delKeys` (one `doc_id` column) are replaced by what
    * this run emits, one commit per table (IceLite.replaceKeys: a doc
    * that now emits fewer rows keeps no stale ones, and no snapshot ever
    * lacks its rows), then the new NIL entities are MERGEd into the
    * registry. The one step behind [[processBatch]] (a re-sent doc, as
    * the reference's re-POST) and [[reannotate]].
    */
  private def annotate(spark: SparkSession, t: Tables, docs: Dataset[InputDoc],
                       delKeys: DataFrame, snapId: Int): Pipeline.Result = {
    val registry = t.registry.readSnapshot(spark, snapId).cache()
    val res = Pipeline.run(spark, docs, registry)
    t.mentions.replaceKeys(spark, delKeys, res.linked.select(MentionColumns: _*))
    t.candidates.replaceKeys(spark, delKeys, res.candidates)
    t.triples.replaceKeys(spark, delKeys, res.triples)
    t.registry.mergeInto(spark, res.newEntities, Seq("id", "indexer"))
    registry.unpersist()
    res
  }

  /** One micro-batch of KB population against `t`: pin the registry
    * snapshot, MERGE the documents, [[annotate]] them (a re-sent doc's
    * rows are replaced by its latest annotation), append metrics, and
    * commit the lineage "done" row LAST (the resume point). The batch
    * loop and the Structured Streaming front-end
    * ([[graft.streaming.StreamKb.populate]]) both reach it through
    * [[runPending]], so the crash/replay protocol is identical: a
    * replay of batch `b` (foreachBatch re-invocation or loop resume) is
    * skipped if its done row exists, and otherwise re-runs against the
    * PINNED registry snapshot, making its keyed writes byte-identical
    * to an uninterrupted run.
    */
  def processBatch(spark: SparkSession, t: Tables, batchDocs: Dataset[InputDoc],
                   b: Int, pinnedSnap: Option[Int]): Unit = {
    import spark.implicits._
    val t0 = System.nanoTime()

    // Pin the registry snapshot FIRST (crash idempotency): a replay
    // of this batch must see the registry as of batch start, not the
    // half-merged state a crashed attempt left behind.
    val snapId = pinnedSnap.getOrElse {
      val id = t.registry.latestSnapshot.get
      mark(spark, t, b, "registry_snapshot", id.toString)
      id
    }
    t.documents.mergeInto(spark, batchDocs.toDF(), Seq("doc_id"))
    val res = annotate(spark, t, batchDocs, batchDocs.select("doc_id"), snapId)

    // one fused counting job instead of four eager .count()s — the
    // per-batch serial driver fraction is the scaling bottleneck
    val counts = Seq(
      batchDocs.toDF().select(lit("n_docs").as("metric")),
      res.linked.select(lit("n_mentions").as("metric")),
      res.triples.select(lit("n_triples").as("metric")),
      res.newEntities.select(lit("n_new_entities").as("metric")))
      .reduce(_ unionByName _)
      .groupBy("metric").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wallMs = (System.nanoTime() - t0) / 1e6

    t.metrics.append((Seq("n_docs", "n_mentions", "n_triples",
        "n_new_entities").map(k => (b, k, counts.getOrElse(k, 0L).toDouble))
      :+ ((b, "wall_ms", wallMs)))
      .toDF("batch_id", "metric", "value"))
    // lineage LAST: commit point for resume
    mark(spark, t, b, "pipeline", "done")
  }

  /** I3 reannotate flow (reference pipelinehelper/main.py:19-34): fetch
    * stored documents, re-run the pipeline against the CURRENT registry
    * (entities discovered since the original annotation are now linkable
    * — previously-NIL mentions may resolve to ent: links), and replace
    * the docs' annotations through [[annotate]], the same step a batch
    * uses.
    *
    * Crash protocol: a "reannotate_start" lineage row is committed
    * BEFORE any table mutation and a matching "reannotate" row after the
    * last; [[pendingReannotations]] surfaces started-but-unfinished doc
    * sets so a caller can replay them (replay is idempotent: each
    * replaceKeys is keyed and the registry merge is keyed).
    */
  def reannotate(spark: SparkSession, workDir: String,
                 docIds: Seq[String]): Tables = {
    import spark.implicits._
    val t = Tables(workDir)
    val idList = docIds.sorted.mkString(",")
    // bucket-pruned multi-point read: a handful of ids lists only the
    // buckets they hash into, not the whole documents table
    val docs = t.documents.readKeyedIn(spark, docIds).get.as[InputDoc]

    // Registry pin (the batch protocol): a crash REPLAY of this id-set
    // must see the registry as of the first attempt's start, not one
    // holding NIL entities the crashed attempt merged. A dangling start
    // row for the SAME id-set carries the pin to reuse.
    val snapId = readLineage(spark, t).danglingReannotations.get(idList).flatten
      .getOrElse(t.registry.latestSnapshot.get)

    // attempt marker = current lineage snapshot count: unique per attempt
    // (every append bumps it), deterministic (no wall-clock/random), and
    // it lets a done row match ITS start row — a replayed attempt leaves
    // the crashed attempt's start dangling without flagging the replay.
    // The pinned registry snapshot rides in the marker for replays.
    val marker = s"${t.lineage.snapshots.size}:$snapId:$idList"
    mark(spark, t, -1, "reannotate_start", marker)
    annotate(spark, t, docs, docIds.toDF("doc_id"), snapId)
    mark(spark, t, -1, "reannotate", marker)
    t
  }

  /** One parsed reannotate lineage row: (idList, attempt, pinned registry
    * snapshot, isStart). Tolerates all three historical marker formats —
    * "<ids>" (earliest), "<attempt>:<ids>", "<attempt>:<snap>:<ids>" —
    * so crash recovery never throws on a workDir written by older code.
    */
  private def parseMarker(stage: String, status: String): (String, Int, Option[Int], Boolean) = {
    val isStart = stage == "reannotate_start"
    def num(s: String) = s.nonEmpty && s.forall(_.isDigit)
    status.split(":", 3) match {
      case Array(n, s, ids) if num(n) && num(s) => (ids, n.toInt, Some(s.toInt), isStart)
      case Array(n, s, ids) if num(n) => (s"$s:$ids", n.toInt, None, isStart)
      case Array(n, ids) if num(n) => (ids, n.toInt, None, isStart)
      case _ => (status, 0, None, isStart)
    }
  }

  /** Registry snapshot ids pinned by UNFINISHED work (batches with a
    * registry_snapshot lineage row but no done row; reannotate attempts
    * whose latest marker lacks a completion row). A crash replay
    * time-travels the registry to these — maintenance must not expire
    * them.
    */
  private[graft] def danglingRegistryPins(spark: SparkSession, t: Tables): Set[Int] = {
    val lineage = readLineage(spark, t)
    (lineage.batchPins.collect { case (b, s) if !lineage.done(b) => s } ++
      lineage.danglingReannotations.values.flatten).toSet
  }

  /** Table maintenance for a long-lived work dir (Iceberg's
    * expire_snapshots + rewrite_data_files + remove_orphan_files, in
    * that spirit): compact each table's live snapshot into one dir-set,
    * expire history beyond `keepLast`, vacuum crash debris. A
    * micro-batch loop otherwise accretes one data dir (bucketed: one
    * leaf per touched bucket) and one manifest per commit without
    * bound. Run BETWEEN runs, never concurrently with one — IceLite is
    * single-writer. Resume survives it: it reads only the LATEST
    * lineage snapshot (which compaction preserves row-identically), and
    * registry snapshots pinned by unfinished batches or reannotate
    * attempts are excluded from expiry so a post-maintenance replay can
    * still time-travel to its pin.
    */
  def maintain(spark: SparkSession, workDir: String, keepLast: Int = 2): Unit = {
    val t = Tables(workDir)
    val registryPins = danglingRegistryPins(spark, t)
    Seq(t.documents, t.mentions, t.candidates, t.registry, t.triples,
        t.lineage, t.metrics).foreach { tbl =>
      // bucketed KB tables are rewritten key-CLUSTERED: sorted runs give
      // parquet tight row-group min/max stats on the access key, so
      // point/range reads skip row groups instead of scanning the leaf
      if (tbl.numBuckets > 0) tbl.compactSorted(spark, tbl.bucketKeys)
      else tbl.compact(spark)
      tbl.expireSnapshots(keepLast,
        if (tbl eq t.registry) registryPins else Set.empty)
      tbl.vacuum()
    }
  }

  /** Doc-id sets of reannotate attempts that started but never recorded
    * completion (crash recovery: replay each with [[reannotate]] —
    * idempotent, and the replay gets its own attempt marker so the
    * crashed attempt's dangling start row never re-flags it).
    */
  def pendingReannotations(spark: SparkSession, workDir: String): Seq[Seq[String]] =
    readLineage(spark, Tables(workDir)).danglingReannotations.keys.toSeq.sorted
      .map(_.split(",").toSeq)
}
