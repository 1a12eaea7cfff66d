package kbbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.SparkEntry
import Run.digest

/** The 28-query pass of the engine's headline set, in its fixed order, in
  * a fresh session so no in-process memo carries over from earlier work.
  * The data is a committed read-only table set. Each query runs in its
  * own span and is evaluated in full (row count and digest in one job).
  */
object QueryPass {

  val Keys: Seq[String] = Seq(
    "q1_agg", "q2_topk_window", "q3_join_agg", "q6_sessionize",
    "q13_interval_overlap", "q16_asof", "q17_rollup", "q18_range_join",
    "t1_exact_dedup", "t6_ngram_neardup", "t7_minhash_lsh", "t8_simhash",
    "t11_splits", "e1_ann_topk", "e2_ann_lsh", "e4_ann_ivf",
    "q29_path2", "q30_pagerank", "q34_bloom_join",
    "t27_tfidf", "t30_dsir", "q54_skyline",
    "q57_ancestors", "t39_best_rep", "t40_bpe_step",
    "kg_spans", "kg_sections", "kg_triples")

  /** Expected results: key -> (oracle row count or -1, recorded row
    * count, recorded digest). Tab-separated, one query per line.
    */
  def expected(path: String): Map[String, (Long, Long, String)] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> ((a(1).toLong, a(2).toLong, a(3))))
      .toMap

  def apply(run: Run, data: String, expectedPath: String): Unit = {
    val exp = expected(expectedPath)
    val spark = run.session(run.threads)
    Keys.foreach { k =>
      run.op(s"query.$k") {
        run.tracer.span(spark, s"query.$k")(digest(SparkEntry.queries(k)(spark, data)))
      }.foreach { case (rows, dig) =>
        System.err.println(s"RECORD\t$k\t$rows\t$dig")
        exp.get(k) match {
          case Some((oracle, recRows, recDigest)) =>
            if (oracle >= 0)
              run.check(s"query.$k.oracle_rows", rows == oracle, s"$rows vs oracle $oracle")
            run.check(s"query.$k.recorded", rows == recRows && dig == recDigest,
              s"$rows/$dig vs $recRows/$recDigest")
          case None =>
            run.check(s"query.$k.expected_present", ok = false, "no recorded result")
        }
      }
      run.metric(s"query.${k}_s", run.tracer.totals(s"query.$k").wallS)
    }
    spark.stop()
  }
}
