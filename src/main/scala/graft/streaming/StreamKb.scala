package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}
import graft.Incremental
import graft.core.{InputDoc, SpanOps}

/** Structured Streaming front-end over the KB-population engine.
  *
  * The reference has no streaming framework — each document arrives as a
  * synchronous HTTP POST (reference pipelinehelper/main.py:49-133) and is
  * pushed through 11 service hops one at a time. The Spark-native analog
  * is a document STREAM: `readStream` over an arriving-files directory,
  * micro-batched through the exact same per-batch population protocol as
  * [[graft.Incremental]] (registry snapshot pinning, per-doc replace of
  * a document's annotations, lineage-last commit), so a streaming
  * deployment and a batch backfill produce byte-identical KB tables.
  *
  * Exactly-once: Spark's foreachBatch may re-invoke a batch after a
  * failure with the SAME batchId; [[populate]] skips batches whose
  * lineage "done" row exists and re-runs interrupted ones against their
  * PINNED registry snapshot — the same idempotent-replay protocol the
  * batch loop uses (tested there by killing mid-batch).
  *
  * Scale shape: each micro-batch is one bounded Pipeline.run (shuffles
  * sized by batch volume, not table volume) and the IceLite MERGEs are
  * bucket-scoped O(batch). State in [[dedupFirstSeen]] is per-key
  * booleans in the state store — bounded by distinct-content count, and
  * spillable via RocksDB state store at cluster scale.
  */
object StreamKb {

  /** Input-table schema (BASELINE.json input_hint shape, exact). */
  val inputDocSchema = Encoders.product[InputDoc].schema

  /** File-source stream of InputDoc parquet files landing in `dir`.
    * `maxFilesPerTrigger` bounds micro-batch size (backpressure).
    */
  def docStream(spark: SparkSession, dir: String,
                maxFilesPerTrigger: Int = 0): Dataset[InputDoc] = {
    import spark.implicits._
    val r = spark.readStream.schema(inputDocSchema)
    val r2 = if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger) else r
    r2.parquet(dir).as[InputDoc]
  }

  /** Drive KB population from a document stream. Each micro-batch runs
    * the full pipeline against the then-current registry and writes the
    * IceLite state tables under `workDir`; `checkpointDir` is the
    * Spark streaming checkpoint (source offsets). Entities discovered in
    * one micro-batch are linkable in the next — the reference's
    * incremental-KB semantics (indexer/main.py:353-437) in stream form.
    */
  def populate(docs: Dataset[InputDoc], workDir: String, checkpointDir: String,
               trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    docs.writeStream
      .queryName("graft-kb-populate")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[InputDoc], batchId: Long) =>
        Incremental.runPending(batch.sparkSession, workDir, Seq(batchId.toInt))(_ => batch)
        ()
      }
      .start()
  }

  /** Deterministic content fingerprint of a document's assembled text +
    * media refs (order-sensitive — the span-sequence invariant).
    */
  def fingerprint(d: InputDoc): Long = {
    val text = SpanOps.assemble(d.spans)
    val media = d.spans.filter(_.kind == "media").map(_.media_ref).mkString("\u0000")
    val h1 = scala.util.hashing.MurmurHash3.stringHash(text, 0x9747b28c)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(media, 0x85ebca6b)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** Streaming exact dedup, first-seen-wins ACROSS micro-batches:
    * `dropDuplicates` state without event time, expressed as
    * flatMapGroupsWithState keyed by content fingerprint. Within a
    * micro-batch the min doc_id wins (deterministic regardless of
    * partitioning); a fingerprint seen in any earlier batch emits
    * nothing. State per key is one Boolean — at cluster scale back the
    * state store with RocksDB and the footprint is O(distinct docs),
    * the minimum any exact cross-batch dedup can hold.
    */
  def dedupFirstSeen(docs: Dataset[InputDoc]): Dataset[InputDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.groupByKey(fingerprint)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[InputDoc], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(rows.minBy(_.doc_id))
          })
  }

  /** Watermarked windowed mention-throughput aggregation: rows per
    * (window, mention_type) over any mention frame carrying an event
    * timestamp column. Works identically on a batch frame (unit-testable
    * oracle) and a streaming frame (late rows beyond `watermark` are
    * dropped, state is bounded by watermark horizon).
    */
  def mentionCounts(mentions: DataFrame, tsCol: String,
                    windowLen: String, watermark: String): DataFrame = {
    val wm = if (mentions.isStreaming) mentions.withWatermark(tsCol, watermark)
             else mentions
    wm.groupBy(window(col(tsCol), windowLen), col("mention_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("mention_type"), col("n"))
  }

  /** Open-session state: first/last event time (epoch ms) + event count. */
  case class SessionState(startMs: Long, lastMs: Long, n: Long)

  /** A closed session emitted once its inactivity gap has provably
    * elapsed in EVENT time.
    */
  case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long)

  /** Event-time gap sessionization as a streaming stateful operator — the
    * streaming twin of [[graft.ops.Sessionize.byGap]] (same
    * strictly-greater gap rule). Each user's open session lives in the
    * state store; when the event-time watermark passes `last + gap`, the
    * EventTimeTimeout fires and the closed session is emitted exactly
    * once (Append mode). Sessions that close WITHIN a batch (a later
    * event more than `gapSec` after the previous one) are emitted in that
    * batch without waiting for the timeout.
    *
    * Scale shape: state is one (start, last, n) triple per ACTIVE user —
    * bounded by the watermark horizon, not by history; back the state
    * store with RocksDB at cluster scale. Late rows beyond the watermark
    * are dropped by the engine before they reach the state function.
    */
  def sessionize(events: Dataset[(Long, java.sql.Timestamp)], gapSec: Long,
                 watermarkDelay: String): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapSec * 1000L
    events.toDF("user_id", "ts")
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[SessionState]) => {
          def closed(s: SessionState) = ClosedSession(user,
            new java.sql.Timestamp(s.startMs),
            new java.sql.Timestamp(s.lastMs), s.n)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(closed(s))
          } else {
            // batch arrival order is arbitrary — fold in event-time order
            val ts = rows.map(_._2.getTime).toArray.sorted
            val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
            var cur = state.getOption.orNull
            ts.foreach { t =>
              if (cur == null) cur = SessionState(t, t, 1)
              else if (t - cur.lastMs > gapMs) {
                out += closed(cur); cur = SessionState(t, t, 1)
              } else cur = SessionState(cur.startMs, math.max(cur.lastMs, t),
                cur.n + 1)
            }
            state.update(cur)
            // timeout must stay ahead of the current watermark (a session
            // kept alive only by allowed-lateness rows would otherwise
            // try to set a timeout in the past)
            state.setTimeoutTimestamp(
              math.max(cur.lastMs + gapMs, state.getCurrentWatermarkMs + 1))
            out.iterator
          }
        })
  }

  /** Watermarked stream-stream interval join (clickthrough-attribution
    * shape): each left event pairs with right events that share its key
    * and whose event time falls in [l.ts, l.ts + windowSec]. All input
    * columns survive, prefixed l_/r_.
    *
    * State boundedness at scale: the interval condition gives the engine
    * a provable eviction rule — a buffered left row can be dropped once
    * the RIGHT watermark passes l.ts + windowSec, and a buffered right
    * row once the LEFT watermark passes r.ts — so join state is sized by
    * window + allowed lateness, never by stream history. Without the
    * time bound a stream-stream join must buffer both sides forever.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   keyCol: String, tsCol: String,
                   windowSec: Long, watermarkDelay: String): DataFrame = {
    def tag(df: DataFrame, p: String): DataFrame = {
      val renamed = df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, p + c))
      renamed.withColumn(p + tsCol, col(p + tsCol).cast("timestamp"))
        .withWatermark(p + tsCol, watermarkDelay)
    }
    val l = tag(left, "l_")
    val r = tag(right, "r_")
    l.join(r,
      col("l_" + keyCol) === col("r_" + keyCol) &&
        col("r_" + tsCol) >= col("l_" + tsCol) &&
        col("r_" + tsCol) <= col("l_" + tsCol) + expr(s"INTERVAL $windowSec SECOND"))
  }
}
