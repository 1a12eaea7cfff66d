package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Diagnostics main: isolate a query or the pipeline stages, dump plans,
  * audit scans. Runs in Bench's query-pass session (local[cpus], same
  * config), so its timings are comparable with Bench's `queries` table.
  *
  *   sbt "runMain graft.Probe <sfDir> query <q>[,<q>...] [k]"  time k runs, stage table
  *   sbt "runMain graft.Probe <sfDir> pipeline [k]"            time each pipeline stage k runs
  *   sbt "runMain graft.Probe <sfDir> plan <q>"                formatted plan
  *   sbt "runMain graft.Probe <sfDir> exec <q>"                executed (adaptive) plan
  *   sbt "runMain graft.Probe <sfDir> audit [<q>,...]"         PlanAudit scans, all queries by default
  *
  * The kg_* queries share a per-session pipeline memo (Pipeline.runCached):
  * their runs after the first time only the projection from it.
  *
  * Env: SPARK_GRAFT_CPUS (default: available processors).
  */
object Probe {

  /** Completed-stage task metrics, reset per timed run. */
  private final class Stages extends SparkListener {
    val rows = ArrayBuffer.empty[String]
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      val m = i.taskMetrics
      val wall = (i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)) / 1e3
      rows.synchronized(rows += f"${i.stageId}%5d $wall%7.2f " +
        f"${m.executorRunTime / 1e3}%7.1f ${m.executorCpuTime / 1e9}%7.1f " +
        f"${m.jvmGCTime / 1e3}%6.1f ${i.numTasks}%5d " +
        f"${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1f " +
        f"${(m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6}%8.1f ${i.name.take(60)}")
    }
    def print(): Unit = {
      Thread.sleep(500) // listener events arrive asynchronously
      println(" stage  wall_s   run_s   cpu_s   gc_s tasks shuf_wMB spill_MB name")
      rows.synchronized(rows.foreach(println))
    }
  }

  /** Run `f` k times; print each wall, the min / median, and the stage
    * table of the last run.
    */
  private def timed(label: String, k: Int, stages: Stages)(f: => Unit): Unit = {
    val ws = (1 to k).map { i =>
      stages.rows.synchronized(stages.rows.clear())
      val t0 = System.nanoTime()
      f
      val w = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $label run $i: $w%.2fs")
      w
    }
    println(f"[probe] $label min ${ws.min}%.2fs median ${Bench.median(ws)}%.2fs")
    stages.print()
  }

  /** The pipeline's stages, each materialized (Ckpt) so its wall is its
    * own work; `prep` is Pipeline's per-document NER + merge + embed map,
    * `link` the linker over its output; `pipeline` is the whole
    * Pipeline.run + triples count.
    */
  private def pipelineStages(spark: SparkSession, dir: String, k: Int,
                             stages: Stages): Unit = {
    import graft.cluster.NilCluster
    import graft.link.Linker
    val docs = Ckpt(fixtures.Corpus.inputDocs(spark, dir).repartition(Bench.ScaleParts))
    val reg = kb.Registry.seed(spark).toDF()
    println(s"[probe] docs=${docs.count()}")
    var emb, linked: DataFrame = null
    def stage(name: String)(f: => Unit): Unit = timed(name, k, stages)(f)
    stage("prep") {
      val (prep, embedded) = Pipeline.prepare(spark, docs)
      emb = Ckpt(embedded)
      prep.unpersist()
    }
    stage("candidates")(Ckpt(Linker.candidates(spark, emb.filter(!col("skip")), reg)))
    stage("link") { linked = Ckpt(Linker.linkEmbedded(spark, emb, reg)._1) }
    stage("cluster") {
      val r = NilCluster.clusterFull(spark,
        linked.filter(col("is_nil") && col("mention_type") =!= "DATE"))
      Ckpt(r.clusters); Ckpt(r.surfaceMap)
    }
    stage("pipeline")(Pipeline.run(spark, docs, reg).triples.count())
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe <sfDir> query <q,...> [k] | pipeline [k] | " +
      "plan <q> | exec <q> | audit [<q>,...]"
    require(args.length >= 2, usage)
    val dir = args(0)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = Bench.session(cpus)
    val stages = new Stages
    spark.sparkContext.addSparkListener(stages)
    def query(q: String): DataFrame =
      SparkEntry.queries.getOrElse(q, sys.error(s"unknown query $q"))(spark, dir)
    def k(i: Int) = if (args.length > i) args(i).toInt else 3
    try args(1) match {
      case "query" =>
        require(args.length >= 3, usage)
        query("q1_agg").count() // same warm-up as Bench's query pass
        args(2).split(",").map(_.trim).foreach(q => timed(q, k(3), stages)(query(q).count()))
      case "pipeline" => pipelineStages(spark, dir, k(2), stages)
      case "plan" =>
        println(query(args(2)).queryExecution.explainString(FormattedMode))
      case "exec" =>
        val df = query(args(2))
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      case "audit" =>
        // executes every query; >1 live scan of one file means a
        // multi-branch subtree failed exchange reuse (see PlanAudit)
        val subset = args.lift(2).map(_.split(",").map(_.trim).toSet)
        SparkEntry.queries.keys.toSeq.sorted
          .filter(q => subset.forall(_.contains(q))).foreach { q =>
            try {
              val df = query(q)
              df.collect()
              val a = PlanAudit.audit(df.queryExecution.executedPlan)
              val byFile = a.scans.groupBy(identity).view.mapValues(_.size).toMap
                .toSeq.sortBy(-_._2).map { case (p, n) => s"${p}x$n" }
              println(s"[audit] $q scans=${byFile.mkString(",")} " +
                s"cachereads=${a.cacheReads} reused=${a.reused}")
            } catch {
              case e: Throwable => println(s"[audit] $q ERROR ${e.getMessage}")
            }
            // an identical cached subtree from an earlier query would
            // satisfy later scans from cache and hide a re-scan
            finally spark.catalog.clearCache()
          }
      case other => sys.error(s"unknown command $other\n$usage")
    } finally spark.stop()
  }
}
