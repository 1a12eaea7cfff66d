package kbbench

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Benchmark JVM entry. Runs one workload and writes its raw result
  * (metrics, attempted/failed counts, run facts) as JSON to `--out`;
  * `run.py` turns that into the benchmark's result line.
  *
  * Also `--gen-digest`: print SHA-256 digests of the generated inputs
  * for a seed (used by the generator determinism test).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing $k"))
    val seed = opt("--seed").toLong

    if (opts.contains("--gen-digest")) {
      val n = opt("--gen-digest").toInt
      println("docs " + Gen.sha256(Gen.docs(seed, n).iterator.map(Gen.render)))
      println("batches " + Gen.sha256((0 until 4).iterator
        .flatMap(KbWorkloads.incBatch(seed, _)).map(Gen.render)))
      return
    }

    val run = new Run(
      workload = opt("--workload"), seed = seed,
      seconds = opt("--seconds").toDouble, traced = opt("--trace") == "1",
      work = opt("--work"), threads = opt("--threads").toInt,
      partitions = opt("--partitions").toInt)

    val t0 = System.nanoTime()
    run.workload match {
      case "kb_bulk" => KbWorkloads.bulk(run, opt("--data"), opt("--expected"))
      case "kb_incremental" => KbWorkloads.incremental(run)
      case w => sys.error(s"unknown workload $w")
    }
    if (run.traced) {
      Kernels(run)
      run.tracer.all.foreach { case (name, t) if !name.startsWith("query.") =>
        run.metric(s"$name.wall_s", t.wallS)
        run.metric(s"$name.cpu_s", t.cpuNs / 1e9)
        run.metric(s"$name.gc_s", t.gcMs / 1e3)
        run.metric(s"$name.shuffle_write_mb", t.shuffleWriteBytes / 1e6)
        run.metric(s"$name.spill_mb", t.spillBytes / 1e6)
        run.metric(s"$name.jobs", t.jobs.toDouble)
      case _ =>
      }
      run.info("spans") = run.tracer.spans.map { case (n, a, b) =>
        s"[${Json.str(n)},${Json.num(a)},${Json.num(b)}]" }.mkString("[", ",", "]")
    }
    run.metric("peak_rss_mb", peakRssMb())
    run.note("jvm_wall_s", run.elapsedSince(t0))
    run.note("jvm_max_heap_mb", Runtime.getRuntime.maxMemory / 1e6)

    val json = new StringBuilder("{")
    json.append("\"attempted\":").append(run.attempted)
    json.append(",\"failed\":").append(run.failed)
    json.append(",\"metrics\":").append(run.metrics.map { case (k, v) =>
      Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}"))
    json.append(",\"info\":").append(run.info.map { case (k, v) =>
      Json.str(k) + ":" + v }.mkString("{", ",", "}"))
    json.append("}")
    Files.write(Paths.get(opt("--out")), json.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
}
