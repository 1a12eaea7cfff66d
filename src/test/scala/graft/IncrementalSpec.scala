package graft

import graft.core.{InputDoc, Span, SpanOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

class IncrementalSpec extends SparkTestBase {
  import spark.implicits._

  private def doc(id: String, text: String): InputDoc =
    InputDoc(id, SpanOps.withOffsets(Seq(Span("text", text, "", 0))))

  private val corpus = Seq(
    doc("d1", "spark with fast key inside"),
    doc("d2", "fast key again near customer"),
    doc("d3", "sort merge and fast key"),
    doc("d4", "slow part and merge join"),
    doc("d5", "spark customer window"),
    doc("d6", "fast key one more time"))

  /** Jobs of one processBatch re-sending 2 documents and of one
    * 2-document reannotate, on a work dir that already holds the corpus
    * (the budgets only move down, with the change that earns it).
    */
  private val ProcessBatchJobs = 40
  private val ReannotateJobs = 32

  private def tableState(t: Incremental.Tables, name: String): Seq[String] = {
    val df = name match {
      case "triples" => t.triples.read(spark).get
      case "registry" => t.registry.read(spark).get.drop("emb")
      case "mentions" => t.mentions.read(spark).get
      case "documents" => t.documents.read(spark).get
    }
    df.collect().map(_.toString).sorted.toSeq
  }

  test("kill/resume equals uninterrupted run (lineage checkpointing)") {
    val docs = spark.createDataset(corpus)
    val dirA = Files.createTempDirectory("incA").toString
    val dirB = Files.createTempDirectory("incB").toString

    Incremental.run(spark, docs, dirA, numBatches = 3)

    // interrupted: only 1 batch, then resume
    Incremental.run(spark, docs, dirB, numBatches = 3, upToBatch = 1)
    val doneAfterKill = Incremental.doneBatches(spark, Incremental.Tables(dirB))
    assert(doneAfterKill.size == 1)
    Incremental.run(spark, docs, dirB, numBatches = 3) // resume

    Seq("triples", "registry", "mentions", "documents").foreach { n =>
      assert(tableState(Incremental.Tables(dirA), n) ==
             tableState(Incremental.Tables(dirB), n), s"table $n differs")
    }
  }

  test("maintain (compact+expire+vacuum) preserves content and resume") {
    val docs = spark.createDataset(corpus)
    val dirA = Files.createTempDirectory("mntA").toString
    val dirB = Files.createTempDirectory("mntB").toString

    Incremental.run(spark, docs, dirA, numBatches = 3)

    // interrupted run, then MAINTENANCE between the kill and the resume —
    // the hostile ordering: resume must work from the compacted lineage
    Incremental.run(spark, docs, dirB, numBatches = 3, upToBatch = 1)
    Incremental.maintain(spark, dirB, keepLast = 1)
    Incremental.run(spark, docs, dirB, numBatches = 3) // resume

    Seq("triples", "registry", "mentions", "documents").foreach { n =>
      assert(tableState(Incremental.Tables(dirA), n) ==
             tableState(Incremental.Tables(dirB), n), s"table $n differs")
    }

    // maintenance on the completed dir: content identical, history trimmed
    val before = tableState(Incremental.Tables(dirA), "triples")
    Incremental.maintain(spark, dirA, keepLast = 1)
    assert(tableState(Incremental.Tables(dirA), "triples") == before)
    val t = Incremental.Tables(dirA)
    Seq(t.documents, t.mentions, t.registry, t.triples, t.lineage).foreach { tbl =>
      assert(tbl.snapshots.size == 1, s"${tbl.root} history not trimmed")
    }
    // and the loop still runs after maintenance (idempotent re-merge)
    Incremental.run(spark, docs, dirA, numBatches = 3)
    assert(tableState(Incremental.Tables(dirA), "triples") == before)
  }

  test("maintain between a mid-batch crash and its resume keeps the pinned snapshot") {
    val docs = spark.createDataset(corpus)
    val dirA = Files.createTempDirectory("mntPinA").toString
    val dirB = Files.createTempDirectory("mntPinB").toString

    Incremental.run(spark, docs, dirA, numBatches = 3)

    // crash in the worst window (every merge done, done-row stripped),
    // then MAINTENANCE before the resume: the dangling batch's pinned
    // registry snapshot must survive expiry or the replay cannot
    // time-travel to it
    Incremental.run(spark, docs, dirB, numBatches = 3, upToBatch = 3)
    val tB = Incremental.Tables(dirB)
    val lineage = tB.lineage.read(spark).get
    val lastDone = Incremental.doneBatches(spark, tB).max
    tB.lineage.overwrite(lineage.filter(
      !(col("status") === "done" && col("batch_id") === lastDone)))
    assert(Incremental.danglingRegistryPins(spark, tB).nonEmpty)

    Incremental.maintain(spark, dirB, keepLast = 1)
    val pins = Incremental.danglingRegistryPins(spark, tB)
    pins.foreach(id => assert(tB.registry.snapshots.contains(id),
      s"pinned registry snapshot $id expired by maintain"))

    Incremental.run(spark, docs, dirB, numBatches = 3) // resume
    Seq("triples", "registry", "mentions", "documents").foreach { n =>
      assert(tableState(Incremental.Tables(dirA), n) ==
             tableState(Incremental.Tables(dirB), n), s"table $n differs")
    }
  }

  test("mid-batch crash (all merges done, no done-row) replays byte-identically") {
    val docs = spark.createDataset(corpus)
    val dirA = Files.createTempDirectory("incMidA").toString
    val dirB = Files.createTempDirectory("incMidB").toString

    Incremental.run(spark, docs, dirA, numBatches = 3)

    // dirB: batches 0,1 complete; batch 2 "crashes" in the worst window —
    // AFTER every table merge (documents/mentions/triples/registry all
    // grown) but BEFORE the lineage done-row. Simulate by completing the
    // batch then stripping its done row; state is exactly the crash state.
    Incremental.run(spark, docs, dirB, numBatches = 3, upToBatch = 3)
    val tB = Incremental.Tables(dirB)
    val lineage = tB.lineage.read(spark).get
    val doneBatchIds = Incremental.doneBatches(spark, tB)
    val lastDone = doneBatchIds.max
    tB.lineage.overwrite(lineage.filter(
      !(col("status") === "done" && col("batch_id") === lastDone)))
    assert(Incremental.doneBatches(spark, tB) == (doneBatchIds - lastDone))

    // resume: the replay must pin the registry snapshot recorded at the
    // batch START (not the grown registry the crashed attempt merged)
    Incremental.run(spark, docs, dirB, numBatches = 3)

    Seq("triples", "registry", "mentions", "documents").foreach { n =>
      assert(tableState(Incremental.Tables(dirA), n) ==
             tableState(Incremental.Tables(dirB), n), s"table $n differs")
    }
  }

  test("incremental visibility: NIL entity discovered once, linked later") {
    val docs = spark.createDataset(corpus)
    val dir = Files.createTempDirectory("incV").toString
    val t = Incremental.run(spark, docs, dir, numBatches = 3)

    val reg = t.registry.read(spark).get
    // exactly one KB row for the repeated novel surface
    assert(reg.filter(col("title") === "fast key").count() == 1)
    val row = reg.filter(col("title") === "fast key").collect()(0)
    assert(row.getAs[Int]("indexer") == graft.kb.Registry.RwIndexer)
    assert(row.getAs[String]("type_") == "PRODUCT")

    // every doc mentioning it resolves to the same entity (nil: or ent:)
    val objs = t.triples.read(spark).get
      .filter(col("pred") === ":mentions" &&
        (col("obj") === "nil:fast key" || col("obj") === "ent:fast key"))
    assert(objs.count() == 4) // d1, d2, d3, d6

    // replaying the whole run over the same workDir changes nothing
    val before = t.triples.read(spark).get.collect().map(_.toString).sorted.toSeq
    Incremental.run(spark, docs, dir, numBatches = 3)
    val after = t.triples.read(spark).get.collect().map(_.toString).sorted.toSeq
    assert(before == after)
  }

  test("reannotate is crash-safe: one commit per table, no delete window") {
    val docs = spark.createDataset(corpus)
    val dir = Files.createTempDirectory("incR").toString
    val t = Incremental.run(spark, docs, dir, numBatches = 2)

    val snapsBefore = t.mentions.snapshots.size
    Incremental.reannotate(spark, dir, Seq("d1"))
    // exactly ONE new mentions snapshot (delete + insert fused): the old
    // deleteWhere-then-merge sequence had an intermediate snapshot with
    // d1's annotations missing — a crash there lost them permanently
    assert(t.mentions.snapshots.size == snapsBefore + 1)
    // from the snapshot where d1 first appears onward, NO snapshot ever
    // loses its annotations (the deleteWhere-based flow had such a
    // snapshot between the delete commit and the merge commit)
    val hasD1 = t.mentions.snapshots.map { s =>
      s -> (t.mentions.readSnapshot(spark, s)
        .filter(col("doc_id") === "d1").count() > 0)
    }
    val sinceFirst = hasD1.dropWhile(!_._2)
    assert(sinceFirst.nonEmpty)
    sinceFirst.foreach { case (s, present) =>
      assert(present, s"snapshot $s lost d1's annotations")
    }
    assert(Incremental.pendingReannotations(spark, dir).isEmpty)
  }

  test("pendingReannotations surfaces a crashed attempt, replay clears it") {
    val docs = spark.createDataset(corpus)
    val dir = Files.createTempDirectory("incP").toString
    val t = Incremental.run(spark, docs, dir, numBatches = 2)

    // simulate a crash: start row committed, nothing else (marker 0 =
    // an attempt earlier than any replay's)
    t.lineage.append(Seq((-1, "reannotate_start", "0:d2"))
      .toDF("batch_id", "stage", "status"))
    assert(Incremental.pendingReannotations(spark, dir) == Seq(Seq("d2")))

    // replay (new attempt marker) completes; the dangling start row from
    // the crashed attempt no longer flags anything
    Incremental.reannotate(spark, dir, Seq("d2"))
    assert(Incremental.pendingReannotations(spark, dir).isEmpty)
  }

  test("pendingReannotations tolerates all historical lineage marker formats") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("inc-markers").toString
    val t = Incremental.Tables(dir)
    // three generations of marker format in one lineage table: bare ids
    // (earliest), attempt:ids, attempt:snapshot:ids — crash recovery on a
    // workDir written by older code must parse, not throw
    t.lineage.append(Seq(
      (-1, "reannotate_start", "d1,d2"),            // earliest: no attempt
      (-1, "reannotate", "d1,d2"),                  // ... and its done row
      (-1, "reannotate_start", "3:d3"),             // attempt:ids (dangling)
      (-1, "reannotate_start", "5:7:d4,d5"),        // attempt:snap:ids
      (-1, "reannotate", "5:7:d4,d5")               // ... done
    ).toDF("batch_id", "stage", "status"))
    val pending = Incremental.pendingReannotations(spark, dir)
    assert(pending == Seq(Seq("d3")),
      s"only the dangling attempt:ids set is pending, got $pending")
  }

  test("batches and reannotate leave no cached frame behind") {
    // Pipeline.run's prep frame, NilCluster's surface counts and the
    // IceLite sources are released (or lazily checkpointed) before each
    // call returns, so a long-lived loop holds no cache entry per batch
    spark.catalog.clearCache()
    val dir = Files.createTempDirectory("inc-cache").toString
    Incremental.run(spark, spark.createDataset(corpus), dir, numBatches = 2)
    Incremental.reannotate(spark, dir, Seq("d1", "d4"))
    assert(spark.sharedState.cacheManager.isEmpty,
      "cached frames outlive Incremental.run / reannotate")
  }

  test("a re-sent document's stored rows are exactly its latest annotation") {
    // batch 0 leaves d1's "fast key" a NIL; batch 1 re-sends d1 after
    // batch 0 registered the entity, so d1 now links it. Every stored d1
    // row must come from that latest run, none from batch 0's.
    val dir = Files.createTempDirectory("incResent").toString
    val t = Incremental.Tables(dir)
    t.registry.overwrite(graft.kb.Registry.seed(spark).toDF())
    val byId = corpus.map(d => d.doc_id -> d).toMap
    def batch(ids: String*) = spark.createDataset(ids.map(byId))
    Incremental.processBatch(spark, t, batch("d1", "d2"), 0, None)
    Incremental.processBatch(spark, t, batch("d1", "d3"), 1, None)

    val pin = t.lineage.read(spark).get
      .filter(col("batch_id") === 1 && col("stage") === "registry_snapshot")
      .select("status").as[String].collect().map(_.toInt).min
    val res = Pipeline.run(spark, batch("d1"), t.registry.readSnapshot(spark, pin))
    Seq(t.triples -> res.triples, t.mentions -> res.linked, t.candidates -> res.candidates)
      .foreach { case (tbl, emitted) =>
        val stored = tbl.read(spark).get
        def d1(df: DataFrame) = df.filter(col("doc_id") === "d1")
          .select(stored.columns.map(col): _*).collect().map(_.toString).sorted.toSeq
        assert(d1(emitted).nonEmpty, s"${tbl.root}: d1 emits no rows")
        assert(d1(stored) == d1(emitted), s"${tbl.root}: stored d1 rows differ from its latest run")
      }
    val stale = t.triples.read(spark).get.filter(col("doc_id") === "d1" &&
      (col("subj") === "nil:fast key" || col("obj") === "nil:fast key"))
    assert(stale.isEmpty, stale.collect().mkString("stale d1 triples: ", "; ", ""))
  }

  test("lineage is read with one job; batch and reannotate job counts") {
    val dir = Files.createTempDirectory("incJobs").toString
    Incremental.run(spark, spark.createDataset(corpus), dir, numBatches = 3)
    Incremental.reannotate(spark, dir, Seq("d1", "d4"))
    val t = Incremental.Tables(dir)
    def jobs(body: => Any) = PipelineSpec.jobsOf(spark)(body)

    val resume = jobs(Incremental.runPending(spark, dir, 0 until 3)(b =>
      fail(s"batch $b is done and must not run again")))
    val pins = jobs(Incremental.danglingRegistryPins(spark, t))
    val batch = jobs(Incremental.processBatch(spark, t,
      spark.createDataset(corpus.take(2)), 3, None))
    val reann = jobs(Incremental.reannotate(spark, dir, Seq("d2", "d5")))
    info(s"jobs: runPending ${resume.size}, danglingRegistryPins ${pins.size}, " +
      s"processBatch ${batch.size}, reannotate ${reann.size}")
    assert(resume.size == 1, resume.mkString("runPending jobs: ", "; ", ""))
    assert(pins.size == 1, pins.mkString("danglingRegistryPins jobs: ", "; ", ""))
    assert(batch.size == ProcessBatchJobs, batch.mkString("processBatch jobs: ", "; ", ""))
    assert(reann.size == ReannotateJobs, reann.mkString("reannotate jobs: ", "; ", ""))
  }
}
