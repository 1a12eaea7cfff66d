package graft.tables

import java.nio.file.{FileAlreadyExistsException, Files, Paths, Path,
  StandardCopyOption, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** IceLite — a minimal Iceberg-shaped snapshot table layer over Parquet.
  *
  * The sandbox has no Iceberg runtime jar (verified against
  * /opt/spark/jars), so this supplies the behavior the north rule needs —
  * MERGE INTO upserts, snapshot isolation, time travel for resume — with
  * the same logical API, so a real Iceberg catalog is a config swap.
  *
  * Layout per table root:
  *   data/s<id>/part-*.parquet       one directory per committed write
  *   data/s<id>/_b=<k>/part-*.parquet  per-bucket leaves (bucketed tables)
  *   _meta/v<id>.json                manifest: list of live data dirs;
  *                                   bucketed entries are "b<k>:<dir>"
  *   _meta/LATEST                    pointer file, atomically replaced
  *
  * Commit protocol: write data dir -> write manifest v<id+1>.json ->
  * atomic-move tmp pointer onto LATEST. Readers resolve LATEST once and
  * then read an immutable file set (snapshot isolation). A crash before
  * the pointer move leaves garbage data but the table logically unchanged
  * (crash consistency — tested).
  *
  * Scale: append is O(new data). With `numBuckets` > 0 the table is
  * hash-bucketed on the MERGE key, and mergeInto rewrites ONLY the
  * buckets the source rows hash into — the Iceberg bucket(key)
  * copy-on-write shape; at 10^12 docs a micro-batch commit is O(touched
  * buckets), not O(table). Unbucketed tables (numBuckets = 0) are the
  * degenerate case of the same rewrite: every entry is bucket -1, so
  * every entry is touched (whole-table copy-on-write).
  *
  * Schema evolution (ADD COLUMN, Iceberg-style): each commit stamps its
  * schema into _meta/schema.v<id>.json; a merge/append whose source
  * carries new columns widens the schema, untouched data dirs are NOT
  * rewritten (the reader backfills nulls by-name under the snapshot
  * schema), and time travel sees each snapshot under the schema it was
  * committed with. Type changes and renames are rejected loudly.
  */
object IceLite {
  /** Open `desired`, migrating an existing table stamped under a
    * DIFFERENT bucket spec: the on-disk content is read under the
    * stamped spec (whole-table dir listing does not depend on bucket
    * labels), PROPS is removed, and the content is fully rewritten
    * under the desired spec (overwrite re-stamps PROPS and emits
    * properly-labeled bucket leaves). Without this, a store created
    * under an older spec throws IllegalStateException on every open,
    * with no upgrade path. Crash-safety: a kill after the PROPS
    * removal leaves a PROPS-less table, which every keyed/merge path
    * treats as legacy (labels untrusted, whole-table COW) until the
    * next full rewrite stamps it — reads stay correct throughout.
    * O(table) once, like any respec; spec-matching opens are free.
    */
  def openMigrating(spark: SparkSession, desired: IceLite): IceLite = {
    val props = desired.propsFile
    if (desired.exists && Files.exists(props) &&
        Files.readString(props).trim != desired.specString) {
      val onDisk = Files.readString(props).trim
      val nb = "\"numBuckets\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(onDisk)
        .map(_.group(1).toInt).getOrElse(0)
      val keys = "\"bucketKeys\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(onDisk)
        .map(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
      val legacy = IceLite(desired.root, nb, keys)
      val df = legacy.read(spark).get // lazy — old dirs survive the rewrite
      Files.delete(props)
      desired.overwrite(df)
    }
    desired
  }
}

final case class IceLite(root: String, numBuckets: Int = 0,
                         bucketKeys: Seq[String] = Nil) {
  require(numBuckets == 0 || bucketKeys.nonEmpty,
    "bucketed tables need bucketKeys")
  private def meta: Path = Paths.get(root, "_meta")
  private def latestPtr: Path = meta.resolve("LATEST")
  private def bucketed: Boolean = numBuckets > 0

  def exists: Boolean = Files.exists(latestPtr)

  /** Test seam: invoked after the commit id is chosen, before the
    * manifest write — the window where a concurrent writer's completed
    * commit becomes detectable. No-op in production.
    */
  private[graft] var raceWindow: () => Unit = () => ()

  def latestSnapshot: Option[Int] =
    if (!exists) None
    else { checkBucketSpec(); Some(Files.readString(latestPtr).trim.toInt) }

  /** Bucket spec is part of the table's on-disk identity: recorded in
    * _meta/PROPS at creation and required to match on every later open.
    * Without this, opening an existing table under a different bucket
    * config makes bucketed mergeInto misclassify entries as untouched and
    * silently duplicate matched keys.
    */
  private def propsFile: Path = meta.resolve("PROPS")
  private def specString: String =
    s"""{"numBuckets":$numBuckets,"bucketKeys":[${bucketKeys.map("\"" + _ + "\"").mkString(",")}]}"""
  private def checkBucketSpec(): Unit =
    if (Files.exists(propsFile)) {
      val onDisk = Files.readString(propsFile).trim
      if (onDisk != specString)
        throw new IllegalStateException(
          s"bucket spec mismatch for table $root: on-disk $onDisk, configured $specString")
    }

  /** A table with no PROPS predates the persisted bucket spec: its
    * `b<k>:` labels may come from a DIFFERENT spec, so nothing may prune
    * by them — every entry counts as touched (like bucket -1) until a
    * full rewrite stamps PROPS.
    */
  private def legacy: Boolean = !Files.exists(propsFile)

  /** Manifest entries: (bucket or -1 for unbucketed, dir). */
  private def manifestEntries(id: Int): Seq[(Int, String)] = {
    val txt = Files.readString(meta.resolve(s"v$id.json"))
    val m = "\"dirs\"\\s*:\\s*\\[([^\\]]*)\\]".r
    m.findFirstMatchIn(txt) match {
      case Some(g) =>
        g.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).toSeq
          .map { e =>
            if (e.startsWith("b") && e.contains(":")) {
              val Array(b, d) = e.split(":", 2)
              (b.stripPrefix("b").toInt, d)
            } else (-1, e)
          }
      case None => Seq.empty
    }
  }

  private def manifestDirs(id: Int): Seq[String] = manifestEntries(id).map(_._2)

  /** Split snapshot `id`'s entries into (may hold a key of `buckets`,
    * cannot): bucket -1 entries (unbucketed layout) hold any key, and a
    * [[legacy]] table's labels are untrusted. `buckets` is evaluated
    * only if some entry carries a trusted label, so an unbucketed or
    * legacy table never computes it.
    */
  private def splitEntries(id: Int, buckets: => Set[Int]):
      (Seq[(Int, String)], Seq[(Int, String)]) = {
    val untrusted = legacy
    lazy val wanted = buckets
    manifestEntries(id).partition { case (b, _) => untrusted || b < 0 || wanted(b) }
  }

  /** Commit protocol with single-writer optimistic detection. The table
    * contract is ONE writer at a time (the Incremental loop); this guard
    * turns the common violation into an exception instead of a silent
    * lost update: the manifest is created with CREATE_NEW, and a
    * pre-existing v<next>.json whose id the pointer has ALREADY reached
    * means another writer committed since we resolved LATEST — abort
    * (the caller must recompute off the new snapshot). A pre-existing
    * manifest the pointer never reached is the orphan of a commit that
    * crashed before its pointer swap (we are the only live writer), so
    * it is replaced. The pointer is re-read immediately before the swap
    * for the same reason. A writer that has written its manifest but not
    * yet swapped remains undetectable without a lock server — documented
    * limit, same window real Iceberg closes with a catalog CAS.
    *
    * `stampProps` records the current bucket spec in PROPS (a table's
    * first commit always does). Safe ONLY when every live entry of the
    * new snapshot was written under the current spec — i.e. at table
    * creation or after a full rewrite. A [[legacy]] table's `b<k>:`
    * labels may come from a DIFFERENT spec; stamping the current one
    * would certify labels the keyed paths then trust, silently
    * duplicating keys.
    */
  private def commit(entries: Seq[(Int, String)], stampProps: Boolean = false,
                     schema: Option[org.apache.spark.sql.types.StructType] = None): Int = {
    Files.createDirectories(meta)
    if (!Files.exists(propsFile) && (stampProps || !exists))
      Files.writeString(propsFile, specString)
    val next = latestSnapshot.getOrElse(0) + 1
    // schema metadata rides the commit (Iceberg: schema lives in table
    // metadata, not in data-file footers): written BEFORE the manifest,
    // so a crash leaves at worst an orphan schema file and a logically
    // unchanged table. Fields stored nullable — an evolved column is
    // null for every row written before it existed.
    schema.foreach { s =>
      Files.writeString(meta.resolve(s"schema.v$next.json"),
        asNullable(s).asInstanceOf[org.apache.spark.sql.types.StructType].json)
    }
    val dirs = entries.map { case (b, d) => if (b < 0) d else s"b$b:$d" }
    val json = dirs.map(d => "\"" + d + "\"").mkString(s"""{"id":$next,"dirs":[""", ",", "]}")
    val mf = meta.resolve(s"v$next.json")
    def conflict() = throw new java.util.ConcurrentModificationException(
      s"concurrent commit on $root: snapshot $next was committed by another writer")
    raceWindow()
    try Files.writeString(mf, json, StandardOpenOption.CREATE_NEW)
    catch {
      case _: FileAlreadyExistsException =>
        if (latestSnapshot.getOrElse(0) >= next) conflict()
        Files.writeString(mf, json) // crashed-commit orphan: replace
    }
    if (latestSnapshot.getOrElse(0) >= next) conflict()
    val tmp = meta.resolve(s".LATEST.tmp$next")
    Files.writeString(tmp, next.toString)
    Files.move(tmp, latestPtr, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    next
  }

  private def newDataDir(): String = {
    val id = latestSnapshot.getOrElse(0) + 1
    s"data/s$id"
  }

  /** The schema recorded with snapshot `id`, if the commit stamped one
    * (commits predating schema tracking read with footer inference, as
    * before).
    */
  def schemaOf(id: Int): Option[org.apache.spark.sql.types.StructType] = {
    val f = meta.resolve(s"schema.v$id.json")
    if (!Files.exists(f)) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(Files.readString(f))
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Nullability-normalized copy of a type, recursively (a Dataset
    * derived from case classes carries non-null primitives where the
    * same data read back from parquet is nullable — not a schema
    * difference).
    */
  private def asNullable(dt: org.apache.spark.sql.types.DataType):
      org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = asNullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(asNullable(m.keyType), asNullable(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** Union of the table's current schema and `src`'s: existing columns
    * keep their position and type, brand-new columns append. Same-name
    * columns must agree on type up to nullability — ADD COLUMN is the
    * only evolution supported (no type widening/renames; fail loudly
    * rather than coerce).
    */
  private def evolvedSchema(spark: SparkSession,
                            src: org.apache.spark.sql.types.StructType):
      org.apache.spark.sql.types.StructType = {
    val base = latestSnapshot.flatMap(schemaOf)
      .orElse(read(spark).map(_.schema))
      .getOrElse(return src)
    base.fields.foreach { f =>
      src.fields.find(_.name == f.name).foreach { g =>
        require(asNullable(g.dataType) == asNullable(f.dataType),
          s"column ${f.name} of table $root: type ${f.dataType} cannot evolve to ${g.dataType}")
      }
    }
    org.apache.spark.sql.types.StructType(
      base.fields ++ src.fields.filterNot(f => base.fieldNames.contains(f.name)))
  }

  /** Project df onto `schema`: present columns pass through, absent ones
    * become typed nulls (the read-side backfill, applied on the write
    * side so every data file of one commit shares one column set).
    */
  private def conform(df: DataFrame,
                      schema: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(schema.fields.map { f =>
      if (df.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)

  /** Read table-relative `dirs` under snapshot `id`'s stamped schema
    * (time travel sees the schema AS OF the snapshot): Spark's parquet
    * reader resolves columns by name per file, so data dirs written
    * before an ADD COLUMN read as null in that column — no footer-merge
    * pass (mergeSchema), no rewrite of untouched buckets. Snapshots that
    * predate schema tracking fall back to footer inference.
    */
  private def readDirs(spark: SparkSession, id: Int, dirs: Seq[String]): DataFrame = {
    val paths = dirs.map(d => s"$root/$d")
    schemaOf(id).fold(spark.read)(spark.read.schema).parquet(paths: _*)
  }

  /** Read a specific snapshot (time travel). */
  def readSnapshot(spark: SparkSession, id: Int): DataFrame = {
    val dirs = manifestDirs(id)
    if (dirs.isEmpty)
      throw new IllegalStateException(s"snapshot $id of $root is empty")
    readDirs(spark, id, dirs)
  }

  /** Read the latest snapshot; None if the table was never written. */
  def read(spark: SparkSession): Option[DataFrame] =
    latestSnapshot.map(readSnapshot(spark, _))

  /** Driver-side bucket id of a key tuple — agrees bit-for-bit with
    * [[bucketCol]] (same Murmur3 seed 42 the `hash()` function uses;
    * asserted in IceLiteSpec against the executor-side column). None on
    * unbucketed tables.
    */
  def bucketFor(keyVals: Seq[Any]): Option[Int] =
    if (!bucketed) None
    else {
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Murmur3Hash, Pmod}
      // Murmur3 hashes Int and Long to DIFFERENT values, so a driver-side
      // literal whose runtime type differs from the table's column type
      // (e.g. an Int key against a bigint column) would compute a
      // different bucket than the executor-side hash(col) — pruning the
      // wrong bucket and silently returning empty for a key that exists
      // (the post-prune equality filter casts, hiding the mismatch).
      // Cast each literal to the stamped schema's column type first.
      val schema = latestSnapshot.flatMap(schemaOf)
      val lits = bucketKeys.zip(keyVals).map { case (k, v) =>
        val l = Literal(v)
        schema.flatMap(_.fields.find(_.name == k)).map(_.dataType) match {
          case Some(dt) if dt != l.dataType => Cast(l, dt)
          case _ => l
        }
      }
      val h = new Murmur3Hash(lits)
      Some(Pmod(h, Literal(numBuckets)).eval(null).asInstanceOf[Int])
    }

  /** Bucket-pruned point read (the Iceberg partition-pruning shape):
    * rows of the LATEST snapshot whose bucket-key tuple equals
    * `keyVals`, listing ONLY the matching bucket's data dirs from the
    * manifest — at 10^12 docs a doc_id lookup plans 1/numBuckets of the
    * table's files instead of enumerating all of them (file listing,
    * not just row filtering, is the scale cost of a point read).
    * Legacy unbucketed entries (bucket -1) may hold any key and are
    * always included, mirroring mergeInto's always-touched rule.
    * Bucketed tables only (an unbucketed manifest has nothing to prune
    * by — callers there read + filter themselves). None if the table
    * was never written.
    */
  def readKeyed(spark: SparkSession, keyVals: Seq[Any]): Option[DataFrame] = {
    require(bucketed, s"readKeyed needs a bucketed table: $root")
    require(keyVals.length == bucketKeys.length,
      s"readKeyed wants ${bucketKeys.length} key values, got ${keyVals.length}")
    readPruned(spark, Set(bucketFor(keyVals).get),
      bucketKeys.zip(keyVals).map { case (k, v) => col(k) === lit(v) }.reduce(_ && _))
  }

  /** Bucket-pruned MULTI-point read for single-key bucketed tables:
    * rows whose key is in `vals`, listing only the buckets the vals
    * hash into (plus legacy -1 dirs) — the shape of a reannotate /
    * small-batch hydrate, where a handful of ids must not pay a
    * whole-table file listing. None if the table was never written.
    */
  def readKeyedIn(spark: SparkSession, vals: Seq[Any]): Option[DataFrame] = {
    require(bucketed && bucketKeys.length == 1,
      s"readKeyedIn needs a single-key bucketed table: $root")
    readPruned(spark, vals.map(v => bucketFor(Seq(v)).get).toSet,
      col(bucketKeys.head).isin(vals: _*))
  }

  /** The pruned reader behind [[readKeyed]] and [[readKeyedIn]]: rows of
    * the latest snapshot matching `keyFilter`, read from only the entries
    * that may hold a key of `buckets`. None if the table was never
    * written.
    */
  private def readPruned(spark: SparkSession, buckets: Set[Int],
                         keyFilter: org.apache.spark.sql.Column): Option[DataFrame] =
    latestSnapshot.map { id =>
      val (hit, rest) = splitEntries(id, buckets)
      if (hit.nonEmpty) readDirs(spark, id, hit.map(_._2)).filter(keyFilter)
      else emptyPruned(spark, id, rest.map(_._2))
    }

  /** No data dir survived bucket pruning: the result is statically empty
    * (trusted labels mean the key's bucket holds no rows). Schema sources
    * in order: the stamped snapshot schema, then the footer of any live
    * dir in `all` — never readSnapshot().filter, which throws on a
    * zero-dir manifest where an empty frame is the expected result.
    */
  private def emptyPruned(spark: SparkSession, id: Int, all: Seq[String]): DataFrame =
    schemaOf(id).orElse(
      if (all.nonEmpty) Some(readDirs(spark, id, all).schema) else None) match {
      case Some(s) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      case None => throw new IllegalStateException(
        s"snapshot $id of $root has no data dirs and no stamped schema")
    }

  /** Deterministic bucket of the table's bucket-key tuple (murmur3,
    * fixed seed — stable across JVMs/partitionings, required for replay
    * idempotency).
    */
  private def bucketCol = pmod(hash(bucketKeys.map(col): _*), lit(numBuckets))

  /** The one writer: df as data dir `dir`, returned as manifest entries.
    * Unbucketed: the whole dir, one (-1, dir) entry. Bucketed: df split
    * per bucket, one (k, dir/_b=k) leaf per bucket actually written.
    * With `sortBy`, rows are arranged before the write. Bucketed tables
    * get (_b, sortBy...)-sorted bucket-partitioned tasks: the
    * dynamic-partition writer's required ordering (partition columns
    * prefix) is then already satisfied, so it does not inject its own
    * unstable sort and the per-leaf files come out key-clustered.
    * Unbucketed tables are range-partitioned on sortBy, so file key
    * ranges are disjoint as well as sorted.
    */
  private def write(df: DataFrame, dir: String,
                    sortBy: Seq[String] = Nil): Seq[(Int, String)] = {
    val sortCols = sortBy.map(col)
    if (!bucketed) {
      val arranged =
        if (sortCols.isEmpty) df
        else df.repartitionByRange(sortCols: _*).sortWithinPartitions(sortCols: _*)
      arranged.write.mode("overwrite").parquet(s"$root/$dir")
      Seq((-1, dir))
    } else {
      val withB = df.withColumn("_b", bucketCol)
      val arranged =
        if (sortCols.isEmpty) withB
        else withB.repartition(col("_b")).sortWithinPartitions((col("_b") +: sortCols): _*)
      arranged.write.mode("overwrite").partitionBy("_b").parquet(s"$root/$dir")
      // enumerate the bucket leaves actually written
      withStream(Files.list(Paths.get(root, dir)))(_
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("_b=") =>
          (s.stripPrefix("_b=").toInt, s"$dir/$s") }
        .toSeq)
    }
  }

  /** Append rows as a new snapshot (previous data dirs stay live). A
    * source carrying NEW columns evolves the table schema (ADD COLUMN:
    * rows in untouched dirs read as null in the new column); a source
    * MISSING existing columns appends typed nulls for them.
    */
  def append(df: DataFrame): Int = {
    val evolved = evolvedSchema(df.sparkSession, df.schema)
    val prev = latestSnapshot.map(manifestEntries).getOrElse(Seq.empty)
    commit(prev ++ write(conform(df, evolved), newDataDir()), schema = Some(evolved))
  }

  /** Replace the whole table content with df (new snapshot). The schema
    * becomes df's outright — a full rewrite may also DROP columns.
    */
  def overwrite(df: DataFrame): Int = overwrite(df, Nil)

  private def overwrite(df: DataFrame, sortBy: Seq[String]): Int =
    commit(write(df, newDataDir(), sortBy), stampProps = true, schema = Some(df.schema))

  /** Delete rows matching the predicate (copy-on-write of the full
    * table — predicate pruning to buckets needs key-equality analysis a
    * real Iceberg does; callers with key predicates should replaceKeys).
    */
  def deleteWhere(spark: SparkSession, cond: org.apache.spark.sql.Column): Int =
    read(spark) match {
      case Some(cur) => overwrite(cur.filter(!coalesce(cond, lit(false))))
      case None => throw new IllegalStateException(s"deleteWhere on missing table $root")
    }

  /** MERGE INTO: upsert `source` by key columns — matched target rows are
    * replaced by the source row, unmatched source rows are inserted
    * (whole-row WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT).
    * Idempotent: replaying the same source yields the same table. This
    * is [[replaceKeys]] with the source's own key tuples as the delete
    * set: one [[rewrite]], rewriting only the touched buckets.
    */
  def mergeInto(spark: SparkSession, source: DataFrame, keys: Seq[String]): Int =
    rewrite(spark, keys, None, source)

  /** Atomic slice replacement in ONE commit: target rows whose key tuple
    * (the columns of `delKeys`) matches a delKeys row OR appears among
    * `source`'s key tuples are dropped, and `source` rows are inserted,
    * as a single snapshot swap. This is the reannotate-shaped operation —
    * "replace every row belonging to these docs" — and doing it in one
    * commit closes the crash window a deleteWhere-then-mergeInto sequence
    * has (a kill between the two commits loses the docs' rows with no
    * marker to drive a replay). Including source's own key tuples in the
    * delete set makes a REPLAY of the same call idempotent even when
    * source carries keys missing from delKeys.
    *
    * Bucketed tables require delKeys' columns to cover the bucket keys
    * and rewrite ONLY the buckets touched by delKeys or source rows —
    * O(batch), not O(table), same as mergeInto.
    */
  def replaceKeys(spark: SparkSession, delKeys: DataFrame, source: DataFrame): Int =
    rewrite(spark, delKeys.columns.toSeq, Some(delKeys), source)

  /** The copy-on-write kernel behind [[mergeInto]] and [[replaceKeys]]:
    * drop every target row whose `keyCols` tuple is a delete key (the
    * rows of `extraDel`, plus `source`'s own key tuples) and insert
    * `source`, in ONE commit. In order:
    *   1. the source, conformed to the evolved schema, is cached once —
    *      the bucket probe, the anti-join keys and the insert all read
    *      that cache, so the caller's plan runs once per call. A source
    *      the caller already cached is read from that cache and left
    *      cached (Spark matches a column-for-column projection to its
    *      child's cache entry, so unpersisting it would drop the
    *      caller's);
    *   2. the touched buckets are those the delete keys hash into;
    *   3. the touched entries ([[splitEntries]]: every bucket -1 entry,
    *      every entry of a legacy table) are read under the snapshot
    *      schema, anti-joined with the delete keys, and unioned with the
    *      source;
    *   4. the result is written by [[write]];
    *   5. the untouched entries plus the new leaves are committed. The
    *      rewrite of a legacy table covered every entry, so that commit
    *      stamps PROPS.
    * A never-written table is created from a non-empty source; an EMPTY
    * source leaves it absent (a data dir with zero part files would be
    * unreadable — "unable to infer schema" — on every later read).
    */
  private def rewrite(spark: SparkSession, keyCols: Seq[String],
                      extraDel: Option[DataFrame], source: DataFrame): Int = {
    require(bucketKeys.forall(keyCols.contains),
      s"bucket keys $bucketKeys must be a subset of the key columns $keyCols")
    val evolved = evolvedSchema(spark, source.schema)
    val src = conform(source, evolved)
    val owned = src.storageLevel == StorageLevel.NONE
    if (owned) src.cache()
    try latestSnapshot match {
      case None => if (src.isEmpty) 0 else overwrite(src)
      case Some(id) =>
        val srcKeys = src.select(keyCols.map(col): _*)
        val delSet = extraDel.fold(srcKeys)(_.unionByName(srcKeys))
        val (hit, kept) = splitEntries(id,
          delSet.select(bucketCol).distinct().collect().map(_.getInt(0)).toSet)
        val merged =
          if (hit.isEmpty) src
          else conform(readDirs(spark, id, hit.map(_._2)), evolved)
            .join(delSet.distinct(), keyCols, "left_anti")
            .unionByName(src)
        commit(kept ++ write(merged, newDataDir()), stampProps = legacy,
          schema = Some(evolved))
    } finally if (owned) src.unpersist()
  }

  /** Drain an NIO stream through `f` and ALWAYS close it — unclosed
    * Files.list/walk streams each pin a directory fd until GC, and
    * maintain() visits every table per invocation.
    */
  private def withStream[A, T](s: java.util.stream.Stream[A])(f: Iterator[A] => T): T =
    try f(s.iterator().asScala) finally s.close()

  /** All snapshot ids, ascending. */
  def snapshots: Seq[Int] =
    if (!Files.exists(meta)) Seq.empty
    else withStream(Files.list(meta))(_
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toInt }
      .toSeq.sorted)

  // ---- maintenance ---------------------------------------------------
  // A micro-batch loop accretes one data dir per commit (bucketed: one
  // leaf dir per touched bucket per commit) and one manifest per
  // snapshot, forever — the classic small-files + metadata-growth
  // problem. These are the Iceberg maintenance analogs
  // (expire_snapshots / rewrite_data_files / remove_orphan_files);
  // single-writer like every IceLite mutation, run them from the
  // maintenance slot of the batch loop, not concurrently with a commit.

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      withStream(Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()))(
        _.foreach(Files.deleteIfExists(_)))

  /** Drop all but the last `keepLast` snapshots: their manifests are
    * deleted (time travel to them ends) and every data dir referenced
    * ONLY by expired snapshots is removed. Kept snapshots read
    * byte-identically before and after — dirs they share with expired
    * ones survive. Manifests are deleted before data so a crash mid-way
    * leaves at worst unreferenced garbage (vacuum's job), never a kept
    * manifest pointing at deleted files. `keepIds` pins additional
    * snapshots that must survive regardless of age — e.g. registry
    * snapshots recorded in unfinished batches' lineage pins, which a
    * crash replay will time-travel to. Returns the expired ids.
    */
  def expireSnapshots(keepLast: Int = 1, keepIds: Set[Int] = Set.empty): Seq[Int] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val all = snapshots
    val tailKeep = all.drop(math.max(0, all.size - keepLast)).toSet
    val keep = tailKeep ++ keepIds
    val (expired, kept) = all.partition(id => !keep.contains(id))
    if (expired.nonEmpty) {
      val keptDirs = kept.flatMap(manifestDirs).toSet
      val deadDirs = expired.flatMap(manifestDirs).toSet -- keptDirs
      expired.foreach { id =>
        Files.deleteIfExists(meta.resolve(s"v$id.json"))
        Files.deleteIfExists(meta.resolve(s"schema.v$id.json"))
      }
      deadDirs.foreach(d => deleteTree(Paths.get(root, d)))
      // bucketed leaves leave their data/s<id> parent behind when every
      // sibling bucket is dead — remove now-empty parents
      deadDirs.map(d => Paths.get(root, d).getParent).filter { p =>
        p != Paths.get(root, "data") && Files.isDirectory(p) &&
          withStream(Files.list(p))(!_.hasNext)
      }.foreach(Files.deleteIfExists(_))
    }
    expired
  }

  /** Rewrite the current snapshot into ONE fresh data dir (one leaf per
    * bucket for bucketed tables) and commit it as a new snapshot whose
    * manifest references nothing else. Collapses the accreted
    * dir-per-commit layout; older snapshots still time-travel until
    * expired. O(live table) — run occasionally, not per batch. Also the
    * documented upgrade path for pre-PROPS legacy tables: the full
    * rewrite stamps the bucket spec. Returns the new snapshot id, or
    * None for a never-written table.
    */
  def compact(spark: SparkSession): Option[Int] = read(spark).map(overwrite)

  /** Compact AND cluster: rewrite the table physically sorted by
    * `sortBy` (within each bucket for bucketed tables; globally
    * range-partitioned otherwise). Content is identical to compact();
    * the payoff is layout: parquet row-group min/max stats on the sort
    * keys become tight and disjoint, so later filtered scans skip whole
    * row groups at the reader (PushedFilters), and range scans touch a
    * contiguous file subset instead of every file — the lakehouse
    * "cluster by" maintenance action that keeps a 100 TB table's hot-key
    * reads O(selected), not O(table).
    */
  def compactSorted(spark: SparkSession, sortBy: Seq[String]): Option[Int] = {
    require(sortBy.nonEmpty, "sortBy must be non-empty; use compact() otherwise")
    read(spark).map(overwrite(_, sortBy)) // the writer arranges the rows
  }

  /** Delete orphaned data dirs: `data/s<k>` trees with k <= the latest
    * committed snapshot id that no live manifest references — the debris
    * of writes that crashed before their pointer swap (the commit
    * protocol's documented garbage). k > latest is left alone: under the
    * single-writer protocol that dir belongs to an in-flight commit.
    * Returns the deleted dir names.
    */
  def vacuum(): Seq[String] = latestSnapshot match {
    case None => Seq.empty
    case Some(latest) =>
      val live = snapshots.flatMap(manifestDirs)
        .map(d => d.split("/").take(2).mkString("/")).toSet // data/s<id>
      val dataRoot = Paths.get(root, "data")
      if (!Files.isDirectory(dataRoot)) Seq.empty
      else withStream(Files.list(dataRoot))(_
        .filter(p => Files.isDirectory(p))
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("s") && n.drop(1).forall(_.isDigit) &&
          n.drop(1).toInt <= latest && !live.contains(s"data/$n"))
        .toSeq)
        .map { n => deleteTree(dataRoot.resolve(n)); s"data/$n" }
  }
}
