package kbbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Incremental, Pipeline}
import graft.core.{InputDoc, SpanOps}
import graft.fixtures.Gazetteer
import graft.kb.Registry
import Run.{digest, median, timed}

/** The KB-population workloads. Inputs are generated from the seed and
  * written to parquet input tables during set-up; the timed phases read
  * only those tables.
  */
object KbWorkloads {

  // ---- sizes (one place; every run of a workload uses the same) -------
  val BulkDocs = 3000
  val BulkRuns4t = 3
  val BulkRuns1t = 1
  val IncBatchDocs = 100
  val IncBatches = 3
  val IncResendPct = 10
  val ReannotateCalls = 2
  val ReannotateDocs = 3
  val SetupRepeats = 3
  val PointReads = 3

  /** Set up `SetupRepeats` times into separate directories and record
    * the median as setup_s; the first directory is the one used.
    */
  private def setup(run: Run, name: String)(write: String => Unit): String = {
    val times = (0 until SetupRepeats).map { k =>
      val dir = s"${run.work}/input/$name-$k"
      timed(write(dir))._2
    }
    run.metric("setup_s", median(times))
    run.note("setup_s_all", times)
    s"${run.work}/input/$name-0"
  }

  private def writeDocs(spark: SparkSession, docs: Seq[InputDoc], dir: String): Unit = {
    import spark.implicits._
    spark.createDataset(docs).repartition(4).write.parquet(dir)
  }

  private def readDocs(spark: SparkSession, dir: String, parts: Int): Dataset[InputDoc] = {
    import spark.implicits._
    spark.read.parquet(dir).as[InputDoc].repartition(parts)
  }

  private def seedRegistry(spark: SparkSession): (DataFrame, Long, Long) = {
    val ents = Gazetteer.entities
    (Registry.seed(spark).toDF(), ents.map(_.id).max, ents.size.toLong)
  }

  /** Repeat `body` until the phase budget is spent (at least `min` times);
    * returns the wall of each repetition.
    */
  private def repeat(budgetS: Double, min: Int)(body: => Unit): Seq[Double] = {
    val t0 = System.nanoTime()
    val walls = Seq.newBuilder[Double]
    var n = 0
    while (n < min || (System.nanoTime() - t0) / 1e9 < budgetS) {
      walls += timed(body)._2
      n += 1
    }
    walls.result()
  }

  /** Timed Pipeline.run repetitions until `budgetS` has passed, at least
    * `min`; every run must produce the same triple digest.
    */
  private def pipelineReps(run: Run, spark: SparkSession, docs: Dataset[InputDoc],
                           registry: DataFrame, regStats: (Long, Long), budgetS: Double,
                           min: Int, label: String): (Seq[Double], Set[(Long, String)]) = {
    val digests = scala.collection.mutable.Set.empty[(Long, String)]
    val walls = repeat(budgetS, min)(run.op(s"$label.pipeline") {
      digests += digest(Pipeline.run(spark, docs, registry, Some(regStats)).triples)
    })
    (walls, digests.toSet)
  }

  // ---- kb_bulk ----------------------------------------------------------

  def bulk(run: Run, queryData: String, queryExpected: String): Unit = {
    var spark = run.session(run.threads)
    val dir = setup(run, "bulk") { d =>
      writeDocs(spark, Gen.docs(run.seed, BulkDocs), d)
    }
    val (reg, maxId, rows) = seedRegistry(spark)
    val docs = readDocs(spark, dir, run.partitions)
    if (run.traced) {
      traceKb(run, spark, docs, reg, (maxId, rows))
      spark.stop()
      // listener totals are complete once the session has stopped
      run.metric("pipeline.stages", run.tracer.totals("pipeline").stages.toDouble)
      QueryPass(run, queryData, queryExpected)
      return
    }
    val (w4, d4) = pipelineReps(run, spark, docs, reg, (maxId, rows),
      run.seconds * 0.45, BulkRuns4t, s"local[${run.threads}]")
    spark.stop()

    spark = run.session(1)
    val (reg1, _, _) = seedRegistry(spark)
    val (w1, d1) = pipelineReps(run, spark, readDocs(spark, dir, run.partitions),
      reg1, (maxId, rows), run.seconds * 0.15, BulkRuns1t, "local[1]")
    spark.stop()

    run.check("bulk.digest_stable", d4.size == 1 && d1.size == 1, s"$d4 $d1")
    run.check("bulk.digest_1t_eq_4t", d4 == d1, s"$d4 vs $d1")
    run.check("bulk.triples_nonempty", d4.forall(_._1 > 0))
    // the first 4-thread run also pays JIT and code generation warm-up;
    // it is the slowest of at least three, so the median leaves it out
    val m4 = median(w4)
    val m1 = median(w1)
    run.metric("docs_per_s", BulkDocs / m4)
    run.metric("aux_p50_s", m1)
    run.note("docs", BulkDocs)
    run.note("pipeline_s_4t", w4)
    run.note("pipeline_s_1t", w1)
    run.note("bulk_docs_per_s_1t", BulkDocs / m1)
    run.note("bulk_scaling_eff", (BulkDocs / m4) / (run.threads * BulkDocs / m1))
    run.note("triples_digest", d4.headOption.map(_.toString).getOrElse(""))
  }

  /** Traced pass of kb_bulk: a cold untraced Pipeline.run, then
    * untraced, traced (the `pipeline` span) and untraced again, so JIT
    * warm-up drift falls on both sides of the traced call; then the
    * layer-by-layer spans.
    */
  private def traceKb(run: Run, spark: SparkSession, docs: Dataset[InputDoc],
                      reg: DataFrame, regStats: (Long, Long)): Unit = {
    val tr = run.tracer
    val (before, d0) = pipelineReps(run, spark, docs, reg, regStats, 0.0, 2, "untraced")
    val (digestT, tracedS) = timed(tr.span(spark, "pipeline") {
      digest(Pipeline.run(spark, docs, reg, Some(regStats)).triples)
    })
    val (after, d1) = pipelineReps(run, spark, docs, reg, regStats, 0.0, 1, "untraced")
    run.check("trace.pipeline_digest", d0 ++ d1 == Set(digestT), s"${d0 ++ d1} vs $digestT")
    val plain = (before.last + after.head) / 2
    val layerS = Layers.trace(run, spark, docs, reg, regStats._2)
    run.metric("trace.overhead_s", tracedS - plain)
    run.metric("pipeline.residual_s", plain - layerS)
    run.note("pipeline_s_untraced", before ++ after)
  }

  // ---- kb_incremental ---------------------------------------------------

  /** Docs of batch `b`: fresh docs plus ~IncResendPct% re-sent copies of
    * docs from earlier batches (unchanged, so MERGE takes its update path).
    */
  def incBatch(seed: Long, b: Int): Seq[InputDoc] = {
    val resend = if (b == 0) 0 else IncBatchDocs * IncResendPct / 100
    val fresh = IncBatchDocs - resend
    val firstFresh = if (b == 0) 0 else IncBatchDocs + (b - 1) * fresh
    val r = Gen.rng(seed, 3, b)
    val old = (0 until resend).map(_ => r.nextInt(firstFresh)).distinct
    Gen.docs(seed, fresh, firstFresh) ++ old.map(Gen.doc(seed, _))
  }

  private def dirBytes(root: String): Map[Path, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f -> Files.size(f)).toMap
  }

  def incremental(run: Run): Unit = {
    val spark = run.session(run.threads)
    import spark.implicits._
    val dir = setup(run, "inc") { d =>
      (0 until IncBatches).flatMap(b => incBatch(run.seed, b).map(x => (b, x)))
        .toDF("batch_id", "doc").select(col("batch_id"), col("doc.*"))
        .repartition(4).write.partitionBy("batch_id").parquet(d)
    }
    def batchDocs(b: Int): Dataset[InputDoc] =
      spark.read.parquet(s"$dir/batch_id=$b").as[InputDoc]
        .repartition(run.partitions).cache()

    // Incremental.processBatch into fresh tables; every run commits the
    // same IncBatches batches, so every run does the same work
    val t = Incremental.Tables(s"${run.work}/kb")
    t.registry.overwrite(Registry.seed(spark).toDF())
    val batchWalls = (0 until IncBatches).map { b =>
      val bd = batchDocs(b)
      bd.count()
      val w = timed(run.op(s"batch$b") {
        Incremental.processBatch(spark, t, bd, b, None)
      })._2
      bd.unpersist()
      w
    }
    val expected = (0 until IncBatches).flatMap(incBatch(run.seed, _))
      .map(d => d.doc_id -> SpanOps.invariantSeq(d.spans)).toMap
    checkTables(run, spark, t, expected)

    // reannotate: seeded 3-doc sets of committed docs
    val ids = expected.keys.toSeq.sorted
    val r = Gen.rng(run.seed, 4, 0)
    val reannWalls = (0 until (if (run.traced) 0 else ReannotateCalls)).map { _ =>
      val pick = Seq.fill(ReannotateDocs)(ids(r.nextInt(ids.size))).distinct
      timed(run.op("reannotate") {
        Incremental.reannotate(spark, s"${run.work}/kb", pick)
      })._2
    }
    val finalTriples = t.triples.read(spark).map(digest)
    run.check("inc.triples_nonempty", finalTriples.exists(_._1 > 0))
    val regRows = t.registry.read(spark).map(_.count()).getOrElse(0L)

    if (run.traced) traceIncremental(run, spark, batchDocs, ids)
    spark.stop()

    val docsDone = (1 until IncBatches).map(incBatch(run.seed, _).size).sum
    if (!run.traced) {
      // steady state: the first batch also pays JIT and codegen warm-up
      // and is reported on its own as inc.batch_first_s
      run.metric("docs_per_s", docsDone / batchWalls.tail.sum)
      run.metric("aux_p50_s", median(reannWalls))
    } else {
      run.metric("inc.batch_first_s", batchWalls.head)
      run.metric("inc.batch_last_s", batchWalls.last)
      run.metric("registry.rows_end", regRows.toDouble)
      run.metric("registry.new_entities", (regRows - Gazetteer.entities.size).toDouble)
    }
    run.note("batches", IncBatches)
    run.note("batch_docs", IncBatchDocs)
    run.note("batch_s", batchWalls)
    run.note("inc_batch_s_p50", median(batchWalls))
    run.note("reannotate_s", reannWalls)
    run.note("triples_digest", finalTriples.map(_.toString).getOrElse(""))
  }

  /** The stored documents equal the distinct generated docs under the
    * span-sequence invariant, and lineage has one done row per batch.
    */
  private def checkTables(run: Run, spark: SparkSession, t: Incremental.Tables,
                          expected: Map[String, Seq[(String, String, String, Int)]]): Unit = {
    import spark.implicits._
    val stored = t.documents.read(spark).map(_.as[InputDoc].collect().toSeq)
      .getOrElse(Seq.empty)
    val got = stored.map(d => d.doc_id -> SpanOps.invariantSeq(d.spans))
    run.check("inc.documents_unique", got.map(_._1).distinct.size == got.size)
    run.check("inc.documents_equal", got.toMap == expected,
      s"stored ${got.size} expected ${expected.size}")
    val done = t.lineage.read(spark).map(_.filter(col("status") === "done")
      .groupBy("batch_id").count().as[(Int, Long)].collect().toMap)
      .getOrElse(Map.empty)
    run.check("inc.lineage_done_once",
      done == (0 until IncBatches).map(_ -> 1L).toMap, s"$done")
  }

  /** Per-batch walls of a processBatch replica: the whole batch, the
    * pipeline span and each table's MERGE span.
    */
  private final case class BatchTimes(wall: Double, pipeline: Double, merges: Seq[Double])

  /** Bytes the replica's MERGEs wrote and the bytes of the rows they
    * merged, for write amplification.
    */
  private final class WriteBytes {
    var written = 0L
    var source = 0L
    var bucketsTouched = 0
  }

  private val TableNames =
    Seq("documents", "mentions", "mention_candidates", "triples", "entity_registry")
  private val MergeKeys = Seq(Seq("doc_id"), Seq("doc_id", "annset", "ann_id"),
    Seq("doc_id", "annset", "ann_id"), Seq("doc_id", "subj", "pred", "obj"),
    Seq("id", "indexer"))

  private def mergeTables(t: Incremental.Tables) =
    Seq(t.documents, t.mentions, t.candidates, t.triples, t.registry)

  /** Fresh tables for a replica, the registry holding the seed entities. */
  private def freshTables(spark: SparkSession, root: String): Incremental.Tables = {
    val t = Incremental.Tables(root)
    t.registry.overwrite(Registry.seed(spark).toDF())
    t
  }

  /** Batch `b` of a replica of Incremental.processBatch into `t`, with the
    * pipeline and each table MERGE in a span of `tr`. The five merge
    * sources are materialized inside the pipeline span, so an
    * icelite_merge span times the MERGE of an already computed source.
    * With `bytes`, the files the batch adds to the table directories and
    * the batch's merged rows written as parquet are summed outside the
    * batch's wall.
    */
  private def replicaBatch(run: Run, spark: SparkSession, tr: Tracer,
                           t: Incremental.Tables, b: Int, bd: Dataset[InputDoc],
                           bytes: Option[WriteBytes]): BatchTimes = {
    import spark.implicits._
    val tables = mergeTables(t)
    val before = bytes.map(_ => tables.map(x => dirBytes(x.root)))
    val tb0 = System.nanoTime()
    val snap = t.registry.latestSnapshot.get
    t.lineage.append(Seq((b, "registry_snapshot", snap.toString))
      .toDF("batch_id", "stage", "status"))
    val registry = t.registry.readSnapshot(spark, snap).cache()
    val (sources, pipeS) = timed(tr.span(spark, "pipeline") {
      val res = Pipeline.run(spark, bd, registry)
      Seq(bd.toDF(),
        res.linked.select("doc_id", "annset", "ann_id", "mention_type",
          "start", "end", "mention", "skip", "entity_id", "title",
          "entity_type", "bi_score", "nil_score", "is_nil", "url", "name"),
        res.candidates, res.triples, res.newEntities).map(graft.Ckpt(_))
    })
    val merges = tables.zip(sources).zip(MergeKeys).map { case ((tbl, src), k) =>
      timed(tr.span(spark, "icelite_merge")(tbl.mergeInto(spark, src, k)))._2
    }
    // one fused counting job, as processBatch does
    val countKeys = Seq("n_docs", "n_mentions", "n_triples", "n_new_entities")
    val counts = countKeys.zip(Seq(sources(0), sources(1), sources(3), sources(4)))
      .map { case (k, df) => df.select(lit(k).as("metric")) }
      .reduce(_ unionByName _).groupBy("metric").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wallMs = run.elapsedSince(tb0) * 1e3
    t.metrics.append((countKeys.map(k => (b, k, counts.getOrElse(k, 0L).toDouble))
      :+ ((b, "wall_ms", wallMs))).toDF("batch_id", "metric", "value"))
    t.lineage.append(Seq((b, "pipeline", "done")).toDF("batch_id", "stage", "status"))
    registry.unpersist()
    val wall = run.elapsedSince(tb0)

    for (w <- bytes; bef <- before) {
      tables.zip(bef).foreach { case (tbl, old) =>
        val fresh = dirBytes(tbl.root).filter { case (p, _) => !old.contains(p) }
        w.written += fresh.values.sum
        w.bucketsTouched += fresh.keys.flatMap(p => Option(p.getParent)).toSet
          .count(_.getFileName.toString.startsWith("_b="))
      }
      TableNames.zip(sources).foreach { case (name, src) =>
        val srcDir = s"${run.work}/srcsize/$name/b$b"
        src.write.parquet(srcDir)
        w.source += dirBytes(srcDir).values.sum
      }
    }
    BatchTimes(wall, pipeS, merges)
  }

  /** Traced pass of kb_incremental: two replicas of the processBatch loop
    * on fresh tables each, one with the tracer off and one with it on.
    * Their batches interleave, in alternating order, so JIT warm-up drift
    * does not fall on one side. Then keyed point reads on the traced
    * tables.
    */
  private def traceIncremental(run: Run, spark: SparkSession,
                               batchDocs: Int => Dataset[InputDoc],
                               ids: Seq[String]): Unit = {
    val off = new Tracer(false)
    val plainT = freshTables(spark, s"${run.work}/kb_plain")
    val tracedT = freshTables(spark, s"${run.work}/kb_traced")
    val w = new WriteBytes
    val pairs = (0 until IncBatches).map { b =>
      val bd = batchDocs(b)
      bd.count()
      def plain() = replicaBatch(run, spark, off, plainT, b, bd, None)
      def traced() = replicaBatch(run, spark, run.tracer, tracedT, b, bd, Some(w))
      val pair = if (b % 2 == 0) { val p = plain(); (p, traced()) }
                 else { val t = traced(); (plain(), t) }
      bd.unpersist()
      pair
    }
    val plain = pairs.map(_._1)
    val traced = pairs.map(_._2)

    // keyed point reads: the read half of reannotate
    val r = Gen.rng(run.seed, 4, 0)
    (0 until PointReads).foreach { _ =>
      val pick = Seq.fill(ReannotateDocs)(ids(r.nextInt(ids.size))).distinct
      val n = run.tracer.span(spark, "icelite_point") {
        tracedT.documents.readKeyedIn(spark, pick).map(_.count()).getOrElse(0L)
      }
      run.check("trace.point_read_rows", n == pick.size, s"$n vs ${pick.size}")
    }

    TableNames.zipWithIndex.foreach { case (name, i) =>
      run.metric(s"icelite.merge_s.$name", median(traced.map(_.merges(i))))
    }
    val bucketsTotal = mergeTables(tracedT).map(_.numBuckets).sum.toDouble
    run.metric("icelite.bytes_written_mb", w.written / 1e6)
    run.metric("icelite.write_amp", if (w.source > 0) w.written.toDouble / w.source else 0.0)
    run.metric("icelite.buckets_touched_ratio", w.bucketsTouched / (bucketsTotal * IncBatches))
    run.metric("inc.overhead_s", median(traced.map(x => x.wall - x.pipeline - x.merges.sum)))
    run.metric("trace.overhead_s", median(pairs.map { case (p, t) => t.wall - p.wall }))
    run.note("replica_batch_s_untraced", plain.map(_.wall))
    run.note("replica_batch_s_traced", traced.map(_.wall))
  }
}
