package graft

import graft.tables.IceLite
import org.apache.spark.sql.functions._
import java.nio.file.Files

class IceLiteSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("icelite").toString + "/t"

  /** The data entries ("b<k>:<dir>" or "<dir>") of manifest `id`. */
  private def manifestDirs(root: String, id: Int): Set[String] = {
    val txt = Files.readString(java.nio.file.Paths.get(root, "_meta", s"v$id.json"))
    "\"([^\"]+)\"".r.findAllMatchIn(txt).map(_.group(1)).filter(_.contains("data/")).toSet
  }

  test("append accumulates, overwrite replaces, snapshots time-travel") {
    val t = IceLite(tmp())
    assert(t.read(spark).isEmpty)
    t.append(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.append(Seq((3, "c")).toDF("id", "v"))
    assert(t.read(spark).get.count() == 3)
    assert(t.readSnapshot(spark, 1).count() == 2)
    t.overwrite(Seq((9, "z")).toDF("id", "v"))
    assert(t.read(spark).get.collect().map(_.getInt(0)).toSeq == Seq(9))
    assert(t.readSnapshot(spark, 2).count() == 3) // old snapshot intact
    assert(t.snapshots == Seq(1, 2, 3))
  }

  test("ADD COLUMN evolution: merge widens, reader backfills, time travel pins") {
    val t = IceLite(tmp())
    t.overwrite(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    // source carries a NEW column: schema widens, matched row updated
    t.mergeInto(spark, Seq((2, "B", 7L), (3, "C", 9L)).toDF("id", "v", "score"),
      Seq("id"))
    val cur = t.read(spark).get
    assert(cur.columns.toSeq == Seq("id", "v", "score"))
    val byId = cur.collect().map(r => r.getInt(0) ->
      (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    // pre-evolution row 1 reads null in the new column; merged rows carry it
    assert(byId == Map(1 -> (("a", None)), 2 -> (("B", Some(7L))),
      3 -> (("C", Some(9L)))))
    // time travel: snapshot 1 still reads under ITS schema (no score)
    assert(t.readSnapshot(spark, 1).columns.toSeq == Seq("id", "v"))
    // a later source MISSING the evolved column merges as null, not a crash
    t.mergeInto(spark, Seq((4, "d")).toDF("id", "v"), Seq("id"))
    val r4 = t.read(spark).get.filter(col("id") === 4).collect()(0)
    assert(r4.getString(1) == "d" && r4.isNullAt(2))
    // type evolution is rejected loudly
    val bad = intercept[IllegalArgumentException] {
      t.mergeInto(spark, Seq((5, 1.0)).toDF("id", "v"), Seq("id"))
    }
    assert(bad.getMessage.contains("cannot evolve"))
  }

  test("ADD COLUMN evolution on a bucketed table leaves untouched buckets unrewritten") {
    val t = IceLite(tmp(), numBuckets = 4, bucketKeys = Seq("id"))
    t.overwrite((1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    val before = t.read(spark).get.inputFiles.toSet
    // evolve via a single-key merge: only that key's bucket is rewritten
    t.mergeInto(spark, Seq((7L, "V7", 0.5)).toDF("id", "v", "w"), Seq("id"))
    val after = t.read(spark).get
    assert(after.columns.toSeq == Seq("id", "v", "w"))
    // untouched buckets' files survive verbatim AND read with a null w
    assert((before intersect after.inputFiles.toSet).nonEmpty)
    assert(after.filter(col("id") === 8).collect()(0).isNullAt(2))
    assert(after.filter(col("id") === 7).collect()(0).getDouble(2) == 0.5)
    assert(after.count() == 40)
    // append with the old narrow shape also backfills
    t.append(Seq((41L, "v41")).toDF("id", "v"))
    assert(t.read(spark).get.count() == 41)
  }

  test("mergeInto upserts by key and is idempotent") {
    val t = IceLite(tmp())
    t.overwrite(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val src = Seq((2, "B"), (3, "C")).toDF("id", "v")
    t.mergeInto(spark, src, Seq("id"))
    def state = t.read(spark).get.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(state == Seq((1, "a"), (2, "B"), (3, "C")))
    t.mergeInto(spark, src, Seq("id")) // replay
    assert(state == Seq((1, "a"), (2, "B"), (3, "C")))
  }

  test("mergeInto of an empty source never creates an unreadable table") {
    val t = IceLite(tmp())
    val empty = Seq.empty[(Int, String)].toDF("id", "v")
    t.mergeInto(spark, empty, Seq("id"))
    assert(t.read(spark).isEmpty) // table stays absent, not corrupt
    // and a later real merge works
    t.mergeInto(spark, Seq((1, "a")).toDF("id", "v"), Seq("id"))
    assert(t.read(spark).get.count() == 1)
    t.mergeInto(spark, empty, Seq("id")) // empty merge on existing table
    assert(t.read(spark).get.count() == 1)
  }

  test("bucketed mergeInto rewrites only the touched buckets (bucket COW)") {
    val root = tmp()
    val t = IceLite(root, numBuckets = 4, bucketKeys = Seq("id"))
    t.overwrite((1 to 100).map(i => (i, s"v$i")).toDF("id", "v"))
    val dirs1 = manifestDirs(root, 1)
    assert(dirs1.size == 4, "4 bucket leaves")

    t.mergeInto(spark, Seq((1, "X"), (999, "new")).toDF("id", "v"), Seq("id"))
    val dirs2 = manifestDirs(root, 2)
    // at most 2 buckets touched; the rest carry over verbatim
    assert((dirs1 & dirs2).size >= 2, s"untouched buckets must be reused: $dirs1 vs $dirs2")
    assert((dirs2 -- dirs1).nonEmpty, "touched buckets get new leaves")

    val rows = t.read(spark).get
    assert(rows.columns.toSeq == Seq("id", "v"), "_b stays a layout detail")
    val byId = rows.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(byId.size == 101 && byId(1) == "X" && byId(999) == "new" && byId(2) == "v2")

    // replay idempotent; untouched leaves reused again
    t.mergeInto(spark, Seq((1, "X"), (999, "new")).toDF("id", "v"), Seq("id"))
    assert(t.read(spark).get.count() == 101)
    // time travel still sees the pre-merge content
    assert(t.readSnapshot(spark, 1).count() == 100)
  }

  test("deleteWhere removes matching rows only") {
    val t = IceLite(tmp())
    t.overwrite(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    t.deleteWhere(spark, col("id") === 2)
    assert(t.read(spark).get.orderBy("id").collect().map(_.getInt(0)).toSeq == Seq(1, 3))
  }

  test("replaceKeys = delete keyed rows + insert source in ONE commit") {
    val t = IceLite(tmp())
    t.overwrite(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    val before = t.snapshots.size
    // doc 2 re-emits ONE row (with new content) and doc 4 is new; doc 2's
    // other hypothetical rows would be dropped (delete-then-insert, not
    // upsert-by-full-key)
    t.replaceKeys(spark, Seq(2).toDF("id"), Seq((2, "B"), (4, "d")).toDF("id", "v"))
    def state = t.read(spark).get.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(state == Seq((1, "a"), (2, "B"), (3, "c"), (4, "d")))
    assert(t.snapshots.size == before + 1, "single atomic commit")
    // replay idempotent
    t.replaceKeys(spark, Seq(2).toDF("id"), Seq((2, "B"), (4, "d")).toDF("id", "v"))
    assert(state == Seq((1, "a"), (2, "B"), (3, "c"), (4, "d")))
    // shrink: re-emitting FEWER rows for a key leaves no orphans
    t.replaceKeys(spark, Seq(4).toDF("id"),
      Seq.empty[(Int, String)].toDF("id", "v"))
    assert(state == Seq((1, "a"), (2, "B"), (3, "c")))
  }

  test("bucketed replaceKeys rewrites only the touched buckets") {
    val root = tmp()
    val t = IceLite(root, numBuckets = 4, bucketKeys = Seq("id"))
    t.overwrite((1 to 100).map(i => (i, s"v$i")).toDF("id", "v"))
    val dirs1 = manifestDirs(root, 1)
    t.replaceKeys(spark, Seq(7).toDF("id"), Seq((7, "X")).toDF("id", "v"))
    val dirs2 = manifestDirs(root, 2)
    assert(dirs1.intersect(dirs2).size == 3,
      s"3 of 4 bucket leaves must be reused; reused = ${dirs1.intersect(dirs2)}")
    assert(t.read(spark).get.count() == 100)
    assert(t.read(spark).get.filter(col("id") === 7).collect()(0).getString(1) == "X")
    // a source key absent from delKeys, hashing to another bucket: it is
    // inserted, and its bucket is rewritten alongside delKeys' bucket
    val b7 = t.bucketFor(Seq(7)).get
    val extra = (101 to 200).find(k => t.bucketFor(Seq(k)).get != b7).get
    val bExtra = t.bucketFor(Seq(extra)).get
    t.replaceKeys(spark, Seq(7).toDF("id"), Seq((7, "Y"), (extra, "new")).toDF("id", "v"))
    val dirs3 = manifestDirs(root, 3)
    assert((dirs3 -- dirs2).map(_.takeWhile(_ != ':')) == Set(s"b$b7", s"b$bExtra"),
      s"exactly the two touched buckets get new leaves: ${dirs3 -- dirs2}")
    assert(dirs2.intersect(dirs3).size == 2)
    val byId = t.read(spark).get.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(byId.size == 101 && byId(7) == "Y" && byId(extra) == "new")
  }

  test("mergeInto and replaceKeys evaluate their source once per call") {
    val evals = spark.sparkContext.longAccumulator("source key evaluations")
    val counted = udf((k: Long) => { evals.add(1); k })
    // spark.range, not a local Seq: a projection over a local relation
    // is folded at plan time, hiding how often the plan runs
    def source(from: Long, n: Long) = spark.range(from, from + n, 1, 3)
      .select(counted(col("id")).as("id"), concat(lit("v"), col("id")).as("v"))
    def evaluations(op: => Int): Long = { evals.reset(); op; evals.value }
    for (t <- Seq(IceLite(tmp()), IceLite(tmp(), 4, Seq("id")))) {
      val layout = if (t.numBuckets > 0) "bucketed" else "unbucketed"
      assert(evaluations(t.mergeInto(spark, source(0, 20), Seq("id"))) == 20,
        s"$layout mergeInto creating the table")
      assert(evaluations(t.mergeInto(spark, source(10, 20), Seq("id"))) == 20,
        s"$layout mergeInto")
      assert(evaluations(t.replaceKeys(spark, Seq(1L, 2L).toDF("id"), source(25, 10))) == 10,
        s"$layout replaceKeys")
      // ids 0..34 with 1 and 2 deleted
      assert(t.read(spark).get.count() == 33, layout)
      // a source the caller cached is read from that cache, and stays cached
      val cached = source(40, 5).cache()
      assert(evaluations(t.mergeInto(spark, cached, Seq("id"))) == 5, s"$layout cached source")
      assert(cached.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        s"$layout mergeInto dropped the caller's cache")
      cached.unpersist()
    }
  }

  test("pre-PROPS bucketed manifests are rewritten, never trusted") {
    // simulate a table created before the bucket spec was persisted:
    // bucketed b<k>: manifest entries exist but _meta/PROPS does not.
    // Reopening with a DIFFERENT spec must not classify stale buckets as
    // untouched (that silently duplicates matched keys) — the first
    // merge rewrites everything and only then stamps the new spec. The
    // same rule holds for mergeInto and replaceKeys.
    def check(upsert: (IceLite, org.apache.spark.sql.DataFrame) => Int): Unit = {
      val root = tmp()
      val t4 = IceLite(root, 4, Seq("id"))
      t4.overwrite(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
      java.nio.file.Files.delete(java.nio.file.Paths.get(root, "_meta", "PROPS"))

      val t8 = IceLite(root, 8, Seq("id"))
      upsert(t8, Seq((1, "A")).toDF("id", "v"))
      val rows = t8.read(spark).get.collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      assert(rows == Set((1, "A"), (2, "b"), (3, "c")),
        "matched key must be replaced, not duplicated")
      // the full rewrite stamped the NEW spec; the old spec now fails fast
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(root, "_meta", "PROPS")))
      intercept[IllegalStateException] { IceLite(root, 4, Seq("id")).latestSnapshot }
      // and subsequent merges under the stamped spec are bucket-scoped again
      upsert(t8, Seq((2, "B")).toDF("id", "v"))
      assert(t8.read(spark).get.count() == 3)
    }
    check((t, src) => t.mergeInto(spark, src, Seq("id")))
    check((t, src) => t.replaceKeys(spark, src.select("id"), src))
  }

  test("expireSnapshots keeps the tail readable and drops only-dead data dirs") {
    val root = tmp()
    val t = IceLite(root)
    t.append(Seq((1, "a")).toDF("id", "v"))      // s1: data/s1
    t.append(Seq((2, "b")).toDF("id", "v"))      // s2: s1+s2
    t.overwrite(Seq((9, "z")).toDF("id", "v"))   // s3: s3 only
    t.append(Seq((10, "y")).toDF("id", "v"))     // s4: s3+s4
    assert(t.expireSnapshots(keepLast = 2) == Seq(1, 2))
    assert(t.snapshots == Seq(3, 4))
    // kept snapshots read byte-identically (s3 shares data/s3 with s4)
    assert(t.readSnapshot(spark, 3).collect().map(_.getInt(0)).toSeq == Seq(9))
    assert(t.read(spark).get.count() == 2)
    // data dirs referenced only by expired snapshots are gone
    assert(!Files.exists(java.nio.file.Paths.get(root, "data", "s1")))
    assert(!Files.exists(java.nio.file.Paths.get(root, "data", "s2")))
    assert(Files.exists(java.nio.file.Paths.get(root, "data", "s3")))
    intercept[Exception] { t.readSnapshot(spark, 1) }
    // expiring everything but the head is a no-op thereafter
    assert(t.expireSnapshots(keepLast = 5).isEmpty)
  }

  test("compact collapses a bucketed table to one dir-set; content unchanged") {
    val root = tmp()
    val t = IceLite(root, 4, Seq("id"))
    t.overwrite((1 to 40).map(i => (i, s"v$i")).toDF("id", "v"))
    (1 to 5).foreach(k => t.mergeInto(spark,
      Seq((k * 7, s"U$k")).toDF("id", "v"), Seq("id")))
    val before = t.read(spark).get.collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    val manifestSizeBefore = t.snapshots.size
    val Some(sid) = t.compact(spark)
    val after = t.read(spark).get.collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(after == before)
    // the compacted manifest references exactly one data/s<id> tree
    val live = Files.readString(
      java.nio.file.Paths.get(root, "_meta", s"v$sid.json"))
    assert(!live.contains("data/s1/") || sid == 1)
    assert("data/s(\\d+)".r.findAllMatchIn(live).map(_.group(1)).toSet == Set(sid.toString))
    // maintenance combo: expire history, vacuum leftovers -> minimal layout
    t.expireSnapshots(keepLast = 1)
    assert(t.snapshots == Seq(sid))
    assert(t.read(spark).get.count() == 40)
    assert(manifestSizeBefore == 6)
  }

  test("compactSorted clusters the layout; content unchanged, files sorted") {
    import org.apache.spark.sql.functions.input_file_name
    // unbucketed: global range clustering — per-file sorted AND file key
    // ranges disjoint (the precondition for scan pruning on the sort key)
    val root = tmp()
    val t = IceLite(root)
    val rnd = new scala.util.Random(7)
    t.overwrite(rnd.shuffle((1 to 400).toList).map(i => (i, s"v$i")).toDF("id", "v"))
    val before = t.read(spark).get.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(t.compactSorted(spark, Seq("id")).nonEmpty)
    val rows = t.read(spark).get
      .select(input_file_name().as("f"), $"id", $"v")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    assert(rows.map(r => (r._2, r._3)).toSet == before)
    val byFile = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    byFile.values.foreach(ks => assert(ks == ks.sorted, "file not internally sorted"))
    val ranges = byFile.values.map(ks => (ks.min, ks.max)).toSeq.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, "file key ranges overlap")
      case _ =>
    }
    // bucketed: rows stay in their deterministic bucket, sorted within it
    val root2 = tmp()
    val t2 = IceLite(root2, 4, Seq("id"))
    t2.overwrite(rnd.shuffle((1 to 200).toList).map(i => (i, s"v$i")).toDF("id", "v"))
    val before2 = t2.read(spark).get.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(t2.compactSorted(spark, Seq("id")).nonEmpty)
    val rows2 = t2.read(spark).get
      .select(input_file_name().as("f"), $"id")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(t2.read(spark).get.collect().map(r => (r.getInt(0), r.getString(1))).toSet == before2)
    rows2.groupBy(_._1).values.foreach { fr =>
      val ks = fr.map(_._2).toSeq
      assert(ks == ks.sorted, "bucket leaf not internally sorted")
    }
    // merge after sorted compact still works (spec round-trips)
    t2.mergeInto(spark, Seq((3, "UP")).toDF("id", "v"), Seq("id"))
    assert(t2.read(spark).get.filter($"id" === 3).select("v").as[String].head() == "UP")
  }

  test("vacuum removes crash-orphaned data dirs, never in-flight or live ones") {
    val root = tmp()
    val t = IceLite(root)
    t.append(Seq((1, "a")).toDF("id", "v"))
    t.append(Seq((2, "b")).toDF("id", "v"))
    // simulate a crashed commit: data written for a snapshot id that never
    // got a manifest (id <= latest can only be crash debris)
    val orphan = java.nio.file.Paths.get(root, "data", "s0")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-junk.parquet"), "junk")
    // an id BEYOND latest may be an in-flight writer: must be left alone
    val inflight = java.nio.file.Paths.get(root, "data", "s99")
    Files.createDirectories(inflight)
    assert(t.vacuum() == Seq("data/s0"))
    assert(!Files.exists(orphan) && Files.exists(inflight))
    assert(t.read(spark).get.count() == 2)
  }

  test("commit replaces a crashed-commit orphan manifest, detects a foreign commit") {
    val root = tmp()
    val t = IceLite(root)
    t.append(Seq((1, "a")).toDF("id", "v"))
    // crash fingerprint: v2.json written, pointer never swapped (LATEST=1).
    // the single live writer must replace it and commit normally.
    val orphanMf = java.nio.file.Paths.get(root, "_meta", "v2.json")
    Files.writeString(orphanMf, """{"id":2,"dirs":["data/sBOGUS"]}""")
    t.append(Seq((2, "b")).toDF("id", "v"))
    assert(t.read(spark).get.count() == 2)
    assert(t.latestSnapshot.contains(2))

    // foreign COMPLETED commit racing ours: another writer publishes OUR
    // target id (manifest + pointer) after we resolved LATEST. The loser
    // must abort with a conflict and must NOT clobber the winner's
    // manifest with its own.
    val ptr = java.nio.file.Paths.get(root, "_meta", "LATEST")
    val v3 = java.nio.file.Paths.get(root, "_meta", "v3.json")
    t.raceWindow = () => {
      Files.writeString(v3, """{"id":3,"dirs":["data/s2"]}""") // winner
      Files.writeString(ptr, "3")
    }
    intercept[java.util.ConcurrentModificationException] {
      t.append(Seq((9, "z")).toDF("id", "v"))
    }
    t.raceWindow = () => ()
    // the winner's manifest and pointer survive; the loser retries off
    // the advanced snapshot and lands on the next free id
    assert(Files.readString(v3).contains("data/s2"))
    assert(t.latestSnapshot.contains(3))
    t.append(Seq((4, "d")).toDF("id", "v"))
    assert(t.latestSnapshot.contains(4))
  }

  test("bucketFor agrees bit-for-bit with the executor-side bucket column") {
    val t = IceLite(tmp(), 16, Seq("k"))
    val keys = Seq("", "a", "doc-42", "ünïcode", "x" * 500)
    val execSide = keys.toDF("k")
      .select(col("k"), pmod(hash(col("k")), lit(16)).as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    keys.foreach { k =>
      assert(t.bucketFor(Seq(k)).contains(execSide(k)),
        s"driver/executor bucket disagreement for '$k'")
    }
    // multi-column + non-string keys
    val t2 = IceLite(tmp(), 8, Seq("a", "b"))
    val tuples = Seq((1, "x"), (7, "y"), (-3, ""))
    val exec2 = tuples.toDF("a", "b")
      .select(col("a"), col("b"), pmod(hash(col("a"), col("b")), lit(8)).as("bk"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getInt(2)).toMap
    tuples.foreach { case (a, b) =>
      assert(t2.bucketFor(Seq(a, b)).contains(exec2((a, b))))
    }
    assert(IceLite(tmp()).bucketFor(Seq("x")).isEmpty)
  }

  test("bucketFor casts literals to the stamped column type (Int key, bigint column)") {
    val t = IceLite(tmp(), 16, Seq("id"))
    t.append((0L until 64L).map(i => (i, s"v$i")).toDF("id", "v"))
    // Murmur3 hashes Int and Long differently; without the cast an Int
    // probe against the bigint column prunes the wrong bucket and the
    // read silently returns empty for a key that exists
    assert(t.bucketFor(Seq(5)) == t.bucketFor(Seq(5L)))
    val got = t.readKeyed(spark, Seq(5)).get.collect() // Int probe
    assert(got.length == 1 && got(0).getLong(0) == 5L)
  }

  test("readKeyed on a zero-dir snapshot returns an empty frame, not a throw") {
    val t = IceLite(tmp(), 8, Seq("doc_id"))
    t.append(Seq(("doc1", 1)).toDF("doc_id", "n"))
    t.deleteWhere(spark, lit(true)) // empty table -> zero-dir manifest
    val got = t.readKeyed(spark, Seq("doc1")).get
    assert(got.isEmpty && got.columns.toSeq == Seq("doc_id", "n"))
    assert(t.readKeyedIn(spark, Seq("doc1", "doc2")).get.isEmpty)
  }

  test("readKeyed prunes to one bucket's files and matches a full-scan filter") {
    val t = IceLite(tmp(), 8, Seq("doc_id"))
    val docs = (0 until 64).map(i => (s"doc$i", i)).toDF("doc_id", "n")
    t.append(docs)
    t.mergeInto(spark, Seq(("doc7", 700)).toDF("doc_id", "n"), Seq("doc_id"))
    for (probe <- Seq("doc7", "doc31", "nosuchdoc")) {
      val pruned = t.readKeyed(spark, Seq(probe)).get
      val full = t.read(spark).get.filter(col("doc_id") === probe)
      assert(pruned.collect().toSet == full.collect().toSet, s"rows for $probe")
      // every file the pruned read touches lives under the key's bucket leaf
      val b = t.bucketFor(Seq(probe)).get
      val files = t.readKeyed(spark, Seq(probe)).get
        .select(input_file_name()).distinct().collect().map(_.getString(0))
      assert(files.forall(_.contains(s"_b=$b/")),
        s"unpruned file in plan for $probe: ${files.mkString(",")}")
    }
    // never-written bucket of a bucketed-but-sparse table: empty, no scan
    val sparse = IceLite(tmp(), 256, Seq("doc_id"))
    sparse.append(Seq(("only", 1)).toDF("doc_id", "n"))
    val missing = (0 until 300).map(i => s"probe$i")
      .find(p => sparse.bucketFor(Seq(p)) != sparse.bucketFor(Seq("only"))).get
    assert(sparse.readKeyed(spark, Seq(missing)).get.isEmpty)
  }

  test("readKeyedIn prunes to the probed buckets and matches a full-scan isin") {
    val t = IceLite(tmp(), 8, Seq("doc_id"))
    t.append((0 until 64).map(i => (s"doc$i", i)).toDF("doc_id", "n"))
    val probes = Seq("doc3", "doc17", "ghost")
    val pruned = t.readKeyedIn(spark, probes).get
    val full = t.read(spark).get.filter(col("doc_id").isin(probes: _*))
    assert(pruned.collect().toSet == full.collect().toSet)
    val wanted = probes.map(p => t.bucketFor(Seq(p)).get).toSet
    val files = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty &&
      files.forall(f => wanted.exists(b => f.contains(s"_b=$b/"))),
      s"unpruned file: ${files.mkString(",")}")
  }

  test("readKeyed includes legacy unbucketed dirs (bucket -1 holds any key)") {
    val root = tmp()
    val legacy = IceLite(root) // unbucketed writer
    legacy.append(Seq(("doc1", 1), ("doc2", 2)).toDF("doc_id", "n"))
    // simulate a pre-PROPS table (the only way a bucketed open may see
    // unbucketed -1 manifest entries; a PROPS-stamped spec change is
    // rejected at open, tested elsewhere)
    Files.delete(java.nio.file.Paths.get(root, "_meta", "PROPS"))
    val t = IceLite(root, 8, Seq("doc_id"))
    t.append(Seq(("doc3", 3)).toDF("doc_id", "n"))
    for (probe <- Seq("doc1", "doc2", "doc3")) {
      val got = t.readKeyed(spark, Seq(probe)).get.collect()
      assert(got.length == 1 && got(0).getString(0) == probe, s"lost $probe")
    }
  }
}
