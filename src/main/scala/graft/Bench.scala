package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import graft.core.InputDoc

/** Benchmark main: prints ONE JSON line, and rewrites BENCH_LOCAL.json
  * after every query and every ladder level, so a killed run still
  * leaves the phases it finished. It takes two measurements:
  *
  *  1. the 28 `headline` queries, `Passes` times, each pass in a fresh
  *     local[cpus] session after a q1_agg warm-up, `count()` per query.
  *     `queries` holds the per-query minimum; `queries_stats` adds the
  *     median and the spread (max - min) over the passes;
  *  2. the KB-population job (docs -> Pipeline.run -> triples count) on a
  *     loopback standalone cluster ([[BenchCluster]]) at N and 4N
  *     executor JVMs of equal cores and heap, sized from the host.
  *
  * Every value in the output is measured by this run. Each query pass and
  * ladder level carries a host stamp (CPU used by this process tree vs
  * the rest of the host over its timed window); a contended level is
  * reported with its stamp but never enters the scaling pair.
  *
  * Env: SPARK_GRAFT_SF_DIR (input tables, required), SPARK_GRAFT_CPUS
  * (query-pass parallelism, default: available processors).
  */
object Bench {

  /** Partition count for the queries and the ladder. Deliberately LEVEL-
    * INDEPENDENT: on a real cluster the partitioning is a property of
    * the DATA, and going N -> 4N executors changes only how many run at
    * once. Tying partitions to the core count both changed the job
    * between levels and let partition SIZE grow with the input (640k
    * docs in 2-8 shuffle partitions spilled and GC-thrashed, ~2x per-doc
    * slowdown vs the same input in 64 partitions).
    */
  val ScaleParts = 64
  val Passes = 3
  /** Ladder input = the sf corpus replicated this many times (doc ids
    * suffixed), so the per-level fixed cost of a Pipeline.run (planning,
    * ~30 jobs, driver-side steps) does not dominate the pair.
    */
  val Replicate = 16
  /** A window is contended when the rest of the host (other processes
    * plus hypervisor steal) used more than this share of its cores.
    */
  val ContendedShare = 0.1
  /** The whole run, queries and ladder; past it the watchdog emits what
    * has landed (complete:false) and tears the ladder cluster down.
    */
  val WallBudgetS = 585

  /** Representative query set: one per operator family. */
  val headline = Seq(
    "q1_agg", "q2_topk_window", "q3_join_agg", "q6_sessionize",
    "q13_interval_overlap", "q16_asof", "q17_rollup", "q18_range_join",
    "t1_exact_dedup", "t6_ngram_neardup", "t7_minhash_lsh", "t8_simhash",
    "t11_splits", "e1_ann_topk", "e2_ann_lsh", "e4_ann_ivf",
    "q29_path2", "q30_pagerank", "q34_bloom_join",
    "t27_tfidf", "t30_dsir", "q54_skyline",
    "q57_ancestors", "t39_best_rep", "t40_bpe_step",
    "kg_spans", "kg_sections", "kg_triples")

  /** Shuffle/spill dir on tmpfs when available: 32 concurrent shuffle
    * writers on a virtio disk showed up as blocked task time; tmpfs
    * removed ~40% of executor run time.
    */
  def localDir: String =
    try {
      val d = java.nio.file.Paths.get("/dev/shm/spark-local")
      java.nio.file.Files.createDirectories(d)
      d.toString
    } catch { case _: Throwable => System.getProperty("java.io.tmpdir") }

  // ---- measured results (pure data; buildJson is a function of these) --

  /** Host use over one timed window, in average cores: `host` = busy
    * user+nice+system time of the whole host, `own` = CPU of this JVM
    * and its descendants (the ladder's master/worker/executor JVMs).
    */
  final case class Stamp(wallS: Double, load1: Double, nproc: Int,
      hostCores: Double, ownCores: Double, stealCores: Double) {
    def foreignCores: Double = math.max(0.0, hostCores - ownCores)
    def contended: Boolean = foreignCores + stealCores > ContendedShare * nproc
  }
  final case class QueryPass(times: Map[String, Double], stamp: Stamp)
  final case class Level(executors: Int, sec: Double, docs: Long,
      triples: Long, stamp: Stamp)
  /** Ladder shape: `low` -> `high` = 4 x `low` executors of `cores`
    * cores and `heapMB` heap each.
    */
  final case class Shape(nproc: Int, memTotalMB: Long, low: Int, cores: Int,
      heapMB: Int) {
    def high: Int = 4 * low
  }
  final case class Run(sfDir: String, shape: Shape, passes: Seq[QueryPass],
      running: Map[String, Double], levels: Seq[Level],
      failedLevels: Map[Int, String], finished: Boolean,
      aborted: Option[String])

  /** N = 1 (the smallest N -> 4N ladder); cores per executor so the top
    * level takes a quarter of a large host and all of a small one; heap
    * so the top level's executors together hold a quarter of MemTotal,
    * within [512 MiB, 5 GiB] (a larger heap grows in-heap aggregation
    * maps instead of spilling to tmpfs, measured 2.2x slower).
    */
  def shapeFor(nproc: Int, memTotalMB: Long): Shape = {
    val heap = (memTotalMB / 4 / 4 / 128 * 128).toInt
    Shape(nproc, memTotalMB, 1, math.max(1, nproc / 16),
      math.min(5120, math.max(512, heap)))
  }

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val mapper = new ObjectMapper()

  private def stampJson(s: Stamp): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("wall_s", s.wallS).put("load1_at_start", s.load1)
      .put("host_busy_cores", s.hostCores).put("own_cores", s.ownCores)
      .put("foreign_cores", s.foreignCores).put("steal_cores", s.stealCores)
      .put("contended", s.contended)
    o
  }

  private def lvlName(l: Int) = s"executors$l"

  /** The result document. Pure: every value derives from `r`. */
  def buildJson(r: Run): String = {
    val times = (r.passes.map(_.times) :+ r.running)
      .flatMap(_.toSeq).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val root = mapper.createObjectNode()
    val queries = root.put("metric", "total")
      .put("value", headline.flatMap(times.get).map(_.min).sum)
      .put("unit", "sec").putObject("queries")
    val stats = mapper.createObjectNode()
    headline.filter(times.contains).foreach { q =>
      val ts = times(q)
      queries.put(q, ts.min)
      stats.putObject(q).put("min", ts.min).put("median", median(ts))
        .put("spread", ts.max - ts.min).put("runs", ts.size)
    }
    root.set[ObjectNode]("queries_stats", stats)
    val passes = root.putArray("queries_passes")
    r.passes.foreach { p =>
      passes.addObject().put("ran", p.times.size).put("of", headline.size)
        .set[ObjectNode]("host", stampJson(p.stamp))
    }
    val levels = r.levels.sortBy(_.executors)
    val byN = levels.map(l => l.executors -> l).toMap
    val wanted = Seq(r.shape.low, r.shape.high)
    val missing = wanted.filterNot(byN.contains)
    val contended = levels.filter(_.stamp.contended).map(_.executors)
    val complete = r.finished && r.aborted.isEmpty && missing.isEmpty &&
      r.passes.size == Passes &&
      r.passes.forall(p => headline.forall(p.times.contains))
    root.put("sf", r.sfDir).put("complete", complete)
    r.aborted.foreach(root.put("aborted", _))

    val kb = root.putObject("kb_pipeline")
    levels.headOption.foreach { l =>
      kb.put("docs", l.docs).put("triples", l.triples)
        .put("triples_check_equal", levels.map(_.triples).distinct.size == 1)
    }
    kb.put("mode", "jvms").put("replicate", Replicate)
    val lv = kb.putObject("levels")
    levels.foreach { l =>
      lv.putObject(lvlName(l.executors)).put("sec", l.sec)
        .put("docs_per_sec", l.docs / l.sec).put("docs", l.docs)
        .put("triples", l.triples).put("contended", l.stamp.contended)
        .set[ObjectNode]("host", stampJson(l.stamp))
    }
    if (r.failedLevels.nonEmpty) {
      val f = kb.putObject("failed_levels")
      r.failedLevels.toSeq.sorted.foreach { case (l, why) => f.put(lvlName(l), why) }
    }
    val pairs = kb.putObject("scaling_pairs")
    if (missing.nonEmpty)
      kb.put("scaling_provenance",
        "incomplete: " + missing.map(lvlName).mkString(",") + " not measured")
    else if (contended.nonEmpty)
      kb.put("scaling_provenance",
        "contended: " + contended.map(lvlName).mkString(",") + " not counted")
    else {
      val (a, b) = (byN(r.shape.low), byN(r.shape.high))
      val eff = (b.docs / b.sec) / (4.0 * (a.docs / a.sec))
      pairs.put(s"eff_${a.executors}_${b.executors}", eff)
      kb.put("scaling_efficiency", eff).put("scaling_provenance", "this_run")
    }
    val sh = kb.putObject("host")
    sh.put("nproc", r.shape.nproc).put("mem_total_mb", r.shape.memTotalMB)
      .put("executor_cores", r.shape.cores).put("executor_heap_mb", r.shape.heapMB)
    sh.putArray("ladder").add(r.shape.low).add(r.shape.high)
    mapper.writeValueAsString(root)
  }

  // ---- host accounting ------------------------------------------------

  /** /proc/stat line 1 in seconds: user nice system idle iowait irq
    * softirq steal (USER_HZ = 100).
    */
  private def procStat(): Array[Double] =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
      .linesIterator.next().split("\\s+").slice(1, 9).map(_.toLong / 100.0)
    catch { case NonFatal(_) => Array.fill(8)(0.0) }

  private def ownCpuS(): Double = {
    val me = ProcessHandle.current()
    (Iterator(me) ++ me.descendants().iterator().asScala)
      .map(_.info().totalCpuDuration().map[Long](_.toNanos).orElse(0L)).sum / 1e9
  }

  private def load1(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case NonFatal(_) => 0.0 }

  /** Time `f` and stamp the host over the same window. */
  private def stamped[T](f: => T): (T, Stamp) = {
    val (l0, s0, o0, t0) = (load1(), procStat(), ownCpuS(), System.nanoTime())
    val r = f
    val (s1, o1) = (procStat(), ownCpuS())
    val wall = (System.nanoTime() - t0) / 1e9
    val d = s1.zip(s0).map { case (a, b) => a - b }
    (r, Stamp(wall, l0, Runtime.getRuntime.availableProcessors(),
      (d(0) + d(1) + d(2)) / wall, (o1 - o0) / wall, d(7) / wall))
  }

  private def memTotalMB(): Long =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/meminfo"))
      .asScala.find(_.startsWith("MemTotal:"))
      .map(_.split("\\s+")(1).toLong / 1024)
      .getOrElse(sys.error("MemTotal missing from /proc/meminfo"))

  // ---- the measured work ----------------------------------------------

  private[graft] def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", ScaleParts.toString)
      .config("spark.sql.limit.initialNumPartitions", ScaleParts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.rdd.compress", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The KB-population job benched for scaling: docs (replicated) ->
    * full pipeline -> triples count; same input at every level.
    */
  private def kbJob(spark: SparkSession, dir: String, replicate: Int): (Long, Long) = {
    import spark.implicits._
    val base = graft.fixtures.Corpus.inputDocs(spark, dir)
    // the sf corpus is one small parquet file (1-2 input splits): without
    // an explicit repartition the heavy narrow NER/embedding chain runs
    // on one or two threads at any level. Repartition BEFORE the
    // replicate flatMap (expanding on two threads is a serial step);
    // expanded rows stay in their partitions. No persist + count of the
    // replicated corpus: the one-pass prep consumes `docs` exactly once,
    // and the repartition's shuffle files back any recompute.
    val docs: org.apache.spark.sql.Dataset[InputDoc] =
      if (replicate <= 1) base.repartition(ScaleParts)
      else base.repartition(ScaleParts).flatMap(d => (0 until replicate).map(r =>
        d.copy(doc_id = s"${d.doc_id}_$r")))
    val nDocs = base.count() * replicate
    val res = Pipeline.run(spark, docs, graft.kb.Registry.seed(spark).toDF())
    (nDocs, res.triples.count())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to an sf table directory"))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val shape = shapeFor(Runtime.getRuntime.availableProcessors(), memTotalMB())
    println(s"[bench] $shape replicate=$Replicate query cpus=$cpus")

    // read by the watchdog thread: every update swaps an immutable Run
    @volatile var run = Run(sfDir, shape, Nil, Map.empty, Nil, Map.empty,
      finished = false, aborted = None)
    def flush(): Unit =
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_LOCAL.json"), buildJson(run) + "\n")
      catch { case NonFatal(_) => () }
    val emitted = new java.util.concurrent.atomic.AtomicBoolean(false)
    def emit(): Unit = if (emitted.compareAndSet(false, true)) {
      val json = buildJson(run)
      System.out.println(json)
      System.out.flush()
      flush()
    }

    val watchdog = new Thread(() => {
      try {
        Thread.sleep(WallBudgetS * 1000L)
        run = run.copy(aborted = Some("wall_budget"))
        emit()
        BenchCluster.killAll()
        Runtime.getRuntime.halt(0)
      } catch { case _: InterruptedException => () }
    }, "graft-bench-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()

    try {
      (1 to Passes).foreach { pass =>
        val (_, stamp) = stamped {
          val s = session(cpus)
          try {
            // warm-up: parquet footer reads + codegen
            SparkEntry.queries("q1_agg")(s, sfDir).count()
            headline.foreach { name =>
              val q0 = System.nanoTime()
              // a failed query never enters the table: elapsed-to-failure
              // is not a timing
              try {
                SparkEntry.queries(name)(s, sfDir).count()
                run = run.copy(running =
                  run.running + (name -> (System.nanoTime() - q0) / 1e9))
              } catch { case NonFatal(e) =>
                println(s"[bench] pass $pass $name failed: ${e.getMessage}")
              }
              flush()
            }
          } finally s.stop()
        }
        run = run.copy(passes = run.passes :+ QueryPass(run.running, stamp),
          running = Map.empty)
        println(f"[bench] queries pass $pass ${stamp.wallS}%.1fs " +
          f"ran=${run.passes.last.times.size}/${headline.size} " +
          f"foreign=${stamp.foreignCores}%.2f steal=${stamp.stealCores}%.2f")
        flush()
      }

      Seq(shape.low, shape.high).foreach { workers =>
        try {
          val c = BenchCluster.start(workers, shape.cores, shape.heapMB)
          try {
            val s = BenchCluster.session(c, workers, shape.cores, shape.heapMB)
            try {
              // warm-up at 1x the corpus: codegen, classloading and JIT
              // stay out of the timed window
              kbJob(s, sfDir, 1)
              val ((docs, triples), stamp) = stamped(kbJob(s, sfDir, Replicate))
              run = run.copy(levels = run.levels :+
                Level(workers, stamp.wallS, docs, triples, stamp))
              println(f"[bench] L$workers ${stamp.wallS}%.1fs docs=$docs " +
                f"foreign=${stamp.foreignCores}%.2f steal=${stamp.stealCores}%.2f " +
                s"contended=${stamp.contended}")
            } finally s.stop()
          } finally c.shutdown()
        } catch { case NonFatal(e) =>
          println(s"[bench] L$workers failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          run = run.copy(failedLevels = run.failedLevels +
            (workers -> s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
        flush()
      }
      run = run.copy(finished = true)
    } catch { case t: Throwable =>
      t.printStackTrace()
      run = run.copy(aborted = Some(s"exception:${t.getClass.getSimpleName}"))
      BenchCluster.killAll()
    }
    watchdog.interrupt()
    emit()
  }
}
