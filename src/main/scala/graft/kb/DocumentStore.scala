package graft.kb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.IceLite

/** Document store — the engine's analog of the reference's MongoDB
  * documents service (documents/src/api/document.js). One nested row per
  * document:
  *
  *   doc_id string, text string,
  *   annsets array<struct<name, next_annid,
  *     annotations array<struct<id, ann_type, start, end, mention, url,
  *                              encoding>>>>
  *
  * Operator mapping (SURVEY.md §2.1/§2.2):
  *   S1 get-by-id: annotations sorted by start (T1), mention defaulted
  *      from text[start:end] (P14, document.js:75-79)
  *   S2 upsert: MERGE INTO by doc_id (delete+reinsert analog,
  *      document.js:173-249)
  *   S3 cascade delete: replaceKeys(doc_id) with an empty insert set —
  *      annotations are nested, so the cascade is free (document.js:14-33)
  *   S4 list: regex filter + preview/name derivation (F19,
  *      document.js:26-41 + models/document.js:26-27) + pagination (T4)
  *   P10 encoding strip before save (pipelinehelper/main.py:144-149)
  *   P11 annset rename on save (pipelinehelper/main.py:151-163)
  */
final case class DocumentStore(spark: SparkSession, root: String) {
  // bucketed on doc_id: upserts rewrite only touched buckets and
  // getById plans 1/16 of the table's files (IceLite.readKeyed) — at
  // KB scale the point-read cost is file LISTING, not row filtering.
  // openMigrating upgrades stores stamped under an older spec (e.g. the
  // unbucketed spec this store shipped with) by one full rewrite,
  // instead of throwing on every open.
  val table: IceLite = IceLite.openMigrating(spark,
    IceLite(s"$root/doc_store", 16, Seq("doc_id")))

  /** S2: whole-row upsert keyed by doc_id. */
  def upsert(docs: DataFrame): Unit =
    table.mergeInto(spark, docs, Seq("doc_id"))

  /** S3: cascade delete (annotation sets are nested in the row). On the
    * bucketed store this rewrites only the doc's bucket (replaceKeys
    * with an empty insert set), not the whole table.
    */
  def delete(docId: String): Unit = table.read(spark).foreach { cur =>
    import spark.implicits._
    table.replaceKeys(spark, Seq(docId).toDF("doc_id"), cur.limit(0))
  }

  /** S4 + F19 + T4: regex listing with preview/name + pagination. */
  def list(qRegex: String, page: Int, limit: Int): DataFrame =
    table.read(spark).get
      .filter(col("text").rlike(qRegex))
      .select(
        col("doc_id"),
        substring(col("text"), 1, 400).as("preview"),
        concat_ws(" ", slice(split(col("text"), "\\s+"), 1, 3)).as("name"))
      .orderBy(col("doc_id"))
      .offset(page * limit)
      .limit(limit)

  /** S1 + T1 + P14: fetch one doc, annotations sorted by start, mention
    * defaulted to text[start:end] (end-exclusive offsets).
    */
  def getById(docId: String): DataFrame =
    table.readKeyed(spark, Seq(docId)).get
      .withColumn("annsets", transform(col("annsets"), as =>
        as.withField("annotations",
          transform(
            array_sort(as.getField("annotations"),
              (a, b) => when(a.getField("start") < b.getField("start"), -1)
                .when(a.getField("start") > b.getField("start"), 1)
                .otherwise(0)),
            a => a.withField("mention",
              coalesce(a.getField("mention"),
                substring(col("text"), a.getField("start") + 1,
                  a.getField("end") - a.getField("start"))))))))

  /** S1 variant with cluster records attached (reference GET
    * /documents/:id vs /documents/clusters/:id,
    * documents/src/api/document.js:127-133,162-168): the doc row gains
    * a `clusters` column — the JSON cluster records whose assignments
    * touch this doc, centers stripped unless `includeCenters` (the
    * default GET deletes each cluster's `center`; the /clusters/:id
    * endpoint keeps it, base64-encoded like every vector at a JSON
    * edge). Point-read shaped: bucket-pruned doc fetch + a filter on
    * the doc's cluster keys — never a whole-table cluster scan.
    */
  def getByIdWithClusters(docId: String, records: DataFrame,
                          assignments: DataFrame,
                          includeCenters: Boolean = false): DataFrame = {
    val keys = assignments.filter(col("doc_id") === docId)
      .select("cluster_key").distinct()
    val docClusters = GateJson
      .clusterEgress(records.join(keys, Seq("cluster_key")), includeCenters)
      .agg(coalesce(sort_array(collect_list(col("json"))),
        array().cast("array<string>")).as("clusters"))
    getById(docId).crossJoin(docClusters)
  }

  /** P10: strip `encoding` from every annotation (persist-time
    * projection — embeddings never reach the document store).
    */
  def stripEncodings(docs: DataFrame): DataFrame =
    docs.withColumn("annsets", transform(col("annsets"), as =>
      as.withField("annotations",
        transform(as.getField("annotations"), a => a.dropFields("encoding")))))

  /** P11: rename annotation sets by map (old -> new). */
  def renameAnnsets(docs: DataFrame, renames: Map[String, String]): DataFrame = {
    val m = map(renames.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq: _*)
    docs.withColumn("annsets", transform(col("annsets"), as =>
      as.withField("name",
        coalesce(element_at(m, as.getField("name")), as.getField("name")))))
  }
}
