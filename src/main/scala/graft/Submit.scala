package graft

import org.apache.spark.sql.SparkSession

/** spark-submit entry point (north rule: "runs via spark-submit on
  * multi-executor clusters"). Unlike the dev/bench mains, this builds
  * its session WITHOUT a master override, so cluster settings come from
  * spark-submit / spark-defaults as they would in production:
  *
  *   spark-submit --class graft.Submit \
  *     --master spark://host:7077 --executor-cores 4 --executor-memory 8g \
  *     target/scala-2.13/ikbpspark_2.13-0.1.0.jar \
  *     run   <docs-parquet-dir> <workDir> [numBatches]   # incremental KB run
  *   spark-submit ... graft.Submit reannotate <workDir> <docId>[,docId...]
  *   spark-submit ... graft.Submit maintain <workDir> [keepLast]    # compact+expire+vacuum
  *
  * `run` executes the full incremental KB population (per-partition
  * lineage, resumable: re-submitting after a kill continues from the
  * last completed partition). State lands in IceLite tables under
  * workDir (documents, mentions, mention_candidates, entity_registry,
  * triples, lineage, metrics).
  */
object Submit {
  def main(args: Array[String]): Unit = {
    val usage = "usage: run <sfDir> <workDir> [numBatches] | " +
      "reannotate <workDir> <docIds> | maintain <workDir> [keepLast]"
    require(args.nonEmpty, usage)
    // setIfMissing: production defaults that a spark-submit --conf can
    // still override. Kryo + lz4 block compression matter here — the
    // pipeline's stage-boundary checkpoints hold InternalRows, and the
    // JavaSerializer fallback was measured ~10x slower serializing them.
    val conf = new org.apache.spark.SparkConf()
    conf.setIfMissing("spark.serializer",
      "org.apache.spark.serializer.KryoSerializer")
    conf.setIfMissing("spark.rdd.compress", "true")
    conf.setIfMissing("spark.sql.session.timeZone", "UTC")
    val spark = SparkSession.builder()
      .appName("graft-kb-population")
      .config(conf)
      .getOrCreate()
    try args(0) match {
      case "run" =>
        require(args.length >= 3, usage)
        val (sfDir, workDir) = (args(1), args(2))
        val numBatches =
          if (args.length > 3) args(3).toInt
          else math.max(1, spark.sparkContext.defaultParallelism / 4)
        val docs = fixtures.Corpus.inputDocs(spark, sfDir)
        val t = Incremental.run(spark, docs, workDir, numBatches)
        val triples = t.triples.read(spark).map(_.count()).getOrElse(0L)
        println(s"graft: KB population complete, $triples triples in $workDir")
      case "reannotate" =>
        require(args.length >= 3, usage)
        val (workDir, ids) = (args(1), args(2))
        Incremental.reannotate(spark, workDir, ids.split(",").toSeq)
        println(s"graft: reannotated $ids in $workDir")
      case "maintain" =>
        require(args.length >= 2, usage)
        val keepLast = if (args.length > 2) args(2).toInt else 2
        Incremental.maintain(spark, args(1), keepLast)
        println(s"graft: maintenance complete in ${args(1)} (keepLast=$keepLast)")
      case other => sys.error(s"unknown command: $other\n$usage")
    } finally spark.stop()
  }
}
