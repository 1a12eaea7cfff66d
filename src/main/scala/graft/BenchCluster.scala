package graft

import java.io.File
import java.net.{InetSocketAddress, Socket}
import org.apache.spark.sql.SparkSession

/** Local Spark STANDALONE cluster harness for the north-rule scaling
  * evidence: one master + N worker JVMs on 127.0.0.1, each worker running
  * one executor with a fixed core count and its OWN heap.
  *
  * Rationale: the rule's criterion is N vs 4N EXECUTORS. A thread ladder
  * inside a single local[k] JVM conflates scale-out with two single-JVM
  * artifacts a real cluster does not have: (a) one shared young
  * generation, so GC cost scales with TOTAL thread count and stop-the-
  * world pauses act as a serial fraction; (b) one memory bus saturated by
  * k threads. Separate executor JVMs (the thing actually being scaled in
  * production) keep per-executor heap and allocation rate CONSTANT across
  * ladder levels — only genuine cross-executor effects (shuffle fan-out,
  * scheduler pressure) change, which is exactly what the rule measures on
  * a real cluster.
  *
  * Everything ships with stock Spark (org.apache.spark.deploy.Master /
  * Worker on the /opt/spark/jars classpath); no scripts, no network
  * beyond loopback.
  */
object BenchCluster {

  private val SparkJars = "/opt/spark/jars/*"

  /** Same JDK17 module opens the driver needs (build.sbt) — master and
    * worker JVMs need them too (netty/unsafe).
    */
  private val Jdk17Opens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** The application jar executors need on their classpath (graft classes
    * + closures). build.sbt makes runMain depend on packageBin, so it is
    * always fresh when Bench runs.
    */
  def appJar: String = {
    val dir = new File("target/scala-2.13")
    val jars = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("ikbpspark") && f.getName.endsWith(".jar"))
    require(jars.nonEmpty, s"app jar not found under $dir — run `sbt package`")
    jars.maxBy(_.lastModified).getAbsolutePath
  }

  final case class Cluster(masterUrl: String, procs: Seq[Process], logDir: File) {
    def shutdown(): Unit = {
      procs.reverse.foreach { p =>
        p.destroy()
        if (!p.waitFor(5, java.util.concurrent.TimeUnit.SECONDS)) p.destroyForcibly()
      }
      live.synchronized { live -= this }
    }
  }

  /** Clusters started and not yet shut down — so an abnormal exit path
    * (Bench's wall-budget watchdog) can reap the daemon JVMs instead of
    * orphaning a multi-GiB cluster on a memory-overcommitted host.
    */
  private val live = scala.collection.mutable.Set.empty[Cluster]

  def killAll(): Unit = {
    val snapshot = live.synchronized(live.toSeq)
    snapshot.foreach { c =>
      try c.shutdown() catch { case _: Throwable => () }
    }
  }

  private def spawn(cls: String, args: Seq[String], log: File,
                    extraEnv: Map[String, String]): Process = {
    val cmd = (Seq("java", "-cp", SparkJars, "-Xmx1g",
      "-Dspark.ui.enabled=false") ++ Jdk17Opens :+ cls) ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    val env = pb.environment()
    extraEnv.foreach { case (k, v) => env.put(k, v) }
    pb.start()
  }

  private def portOpen(port: Int): Boolean = {
    val s = new Socket()
    try { s.connect(new InetSocketAddress("127.0.0.1", port), 250); true }
    catch { case _: Throwable => false }
    finally s.close()
  }

  /** Start master + `workers` worker JVMs, each advertising `coresPer`
    * cores and `memMB` MiB. Blocks until the master port accepts.
    */
  def start(workers: Int, coresPer: Int, memMB: Int): Cluster = {
    val logDir = new File(s"/tmp/graft-cluster-${System.nanoTime()}")
    logDir.mkdirs()
    val port = (0 until 50).map(7177 + _).find(!portOpen(_))
      .getOrElse(sys.error("no free master port"))
    val masterUrl = s"spark://127.0.0.1:$port"
    val env = Map("SPARK_LOCAL_DIRS" -> Bench.localDir,
      "SPARK_NO_DAEMONIZE" -> "1", "SPARK_LOCAL_IP" -> "127.0.0.1",
      // the worker builds each executor's command from a SPARK_HOME
      // layout (jars under $SPARK_HOME/jars) + the scala version
      "SPARK_HOME" -> "/opt/spark", "SPARK_SCALA_VERSION" -> "2.13")
    val m = spawn("org.apache.spark.deploy.master.Master",
      Seq("--host", "127.0.0.1", "--port", port.toString, "--webui-port", "0"),
      new File(logDir, "master.log"), env)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!portOpen(port)) {
      if (System.nanoTime() > deadline) sys.error(s"master did not bind: $logDir")
      Thread.sleep(200)
    }
    val ws = (1 to workers).map { i =>
      spawn("org.apache.spark.deploy.worker.Worker",
        Seq(masterUrl, "--cores", coresPer.toString, "--memory", s"${memMB}m",
          "--port", "0", "--webui-port", "0",
          "--work-dir", new File(logDir, s"worker$i").getAbsolutePath),
        new File(logDir, s"worker$i.log"), env)
    }
    val c = Cluster(masterUrl, m +: ws, logDir)
    live.synchronized { live += c }
    c
  }

  /** SparkSession on the standalone cluster: one executor per worker
    * (executor.cores = worker cores), fixed per-executor heap — the
    * quantity held constant while the ladder scales the executor COUNT.
    */
  def session(c: Cluster, workers: Int, coresPer: Int, execMemMB: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(c.masterUrl)
      .appName(s"graft-bench-${workers}x$coresPer")
      .config("spark.executor.cores", coresPer.toString)
      .config("spark.executor.memory", s"${execMemMB}m")
      .config("spark.cores.max", (workers * coresPer).toString)
      // Each executor must size itself for ITS slice of the box, not the
      // whole box: without ActiveProcessorCount an 8-executor level
      // spawns 8 x ~20 GC/JIT/netty threads sized for 32 CPUs (observed
      // loadavg 64 on 32 cores — thrash that penalizes exactly the 4N
      // level). On a real cluster this is what container CPU limits do.
      // NewRatio=1 (half the heap young): the pipeline's hot stages
      // allocate streams of short-lived rows (cogroup buffers, codegen
      // rows); with the default 1:2 ratio survivors overflow into the
      // old gen and a 480k-doc run measured 224 core-s of GC in ONE
      // checkpoint stage (30% of its run time).
      // Pre-fault the WHOLE heap at executor launch (-Xms=-Xmx +
      // AlwaysPreTouch): this host provisions fresh anonymous pages
      // slowly under co-tenant demand (BENCH.md pathology section), and
      // lazy heap growth pays that cost INSIDE the measured main pass —
      // the 4N level faults ~4x the pages and absorbs a kernel-time
      // penalty the 1-executor level never sees (every 8/20 ladder L4
      // carried sys 0.26-0.94x user while L1 ran clean). Pre-touch moves
      // all heap faulting into cluster start, which the ladder does not
      // time. Real clusters run AlwaysPreTouch for the same reason
      // (page-fault-free steady state); build.sbt's Xms warning is about
      // the DRIVER/sbt JVM, whose startup is inside measured wall time.
      .config("spark.executor.extraJavaOptions",
        s"-XX:+UseParallelGC -XX:ActiveProcessorCount=$coresPer -XX:NewRatio=1 " +
          s"-Xms${execMemMB}m -XX:+AlwaysPreTouch")
      // Loopback cluster: a "remote" fetch costs microseconds, so never
      // hold a task back waiting for block locality (the default 3s
      // locality.wait turns every post-checkpoint stage into scheduler
      // latency — pure serial fraction that Amdahl-caps the ladder).
      .config("spark.locality.wait", "0s")
      // Checkpoint/persisted RDD blocks hold InternalRows; the default
      // JavaSerializer writes them via ObjectOutputStream (measured: the
      // candidate-list checkpoint stage spent ~90% of its CPU there).
      // UnsafeRow is KryoSerializable (raw bytes), so Kryo + lz4 block
      // compression cuts both the serialize CPU and the bytes shipped
      // on remote checkpoint reads.
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.rdd.compress", "true")
      // zstd over the default lz4 for shuffle/RDD blocks: ~2x fewer
      // bytes written means ~2x fewer FRESH tmpfs pages per level — on
      // this host fresh-page provisioning is the 4N level's bottleneck
      // (BENCH.md pathology), so compression ratio buys kernel time, not
      // just I/O. The compression CPU itself stays in user time where
      // the executors have idle headroom.
      .config("spark.io.compression.codec", "zstd")
      .config("spark.jars", appJar)
      // long stop-the-world pauses + a busy driver must not get an
      // executor (and its lineage-truncated checkpoint blocks) removed
      .config("spark.network.timeout", "300s")
      .config("spark.executor.heartbeatInterval", "30s")
      // A co-tenant storm can wedge one executor into orderly shutdown
      // (heartbeat loss) while its queued tasks are still being offered
      // to it; with the default 4 task failures the whole LEVEL dies on
      // one sick executor (observed 2026-08-20: L1 lost to 4x
      // RejectedExecutionException from a single shutting-down pool).
      // Tolerate more failures and stop offering work to an executor
      // that just failed — the master relaunches a replacement anyway.
      .config("spark.task.maxFailures", "10")
      // exclusion only helps when another executor can take the work; on
      // a 1-executor level it would starve the app until the exclusion
      // timeout. Short timeout: the sick executor is usually already
      // being replaced by the master.
      .config("spark.excludeOnFailure.enabled", (workers > 1).toString)
      .config("spark.excludeOnFailure.timeout", "60s")
      .config("spark.excludeOnFailure.task.maxTaskAttemptsPerExecutor", "2")
      .config("spark.excludeOnFailure.application.maxFailedTasksPerExecutor", "4")
      .config("spark.sql.shuffle.partitions", Bench.ScaleParts.toString)
      // take(n) defaults to an incremental partition scan (1, 4, 16, ...
      // partitions = one sequential JOB each). The pipeline's two guard
      // takes (vocabulary probe, cluster guard) each burned 4-5 job
      // round-trips of pure driver latency — level-independent serial
      // fraction. Scan all partitions in the first job instead.
      .config("spark.sql.limit.initialNumPartitions", Bench.ScaleParts.toString)
      // AQE OFF for the ladder: its per-stage re-planning is
      // driver-side latency (~8 s level-independent at 80k docs,
      // measured), i.e. pure serial fraction. At 100 TB the same latency
      // amortizes over minutes-long stages and AQE's skew handling pays
      // for itself — this is a bench-scale setting, not a design stance.
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Bench.localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // wait for every executor to register so the timed run sees full
    // parallelism from its first stage
    val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
    while (s.sparkContext.getExecutorMemoryStatus.size - 1 < workers) {
      if (System.nanoTime() > deadline)
        sys.error(s"only ${s.sparkContext.getExecutorMemoryStatus.size - 1}" +
          s"/$workers executors registered; logs: ${c.logDir}")
      Thread.sleep(300)
    }
    s
  }
}
