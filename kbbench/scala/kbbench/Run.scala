package kbbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** One benchmark run: its settings, the metrics it measured, and the
  * operations and output checks it attempted.
  */
final class Run(val workload: String, val seed: Long, val seconds: Double,
                val traced: Boolean, val work: String, val threads: Int,
                val partitions: Int) {
  val tracer = new Tracer(traced)
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** Extra facts for the run record (raw JSON values). */
  val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0
  var failed = 0

  def metric(name: String, v: Double): Unit = metrics(name) = v

  def note(name: String, v: Any): Unit = info(name) = v match {
    case s: String => Json.str(s)
    case d: Double => Json.num(d)
    case xs: Seq[_] => xs.map {
      case d: Double => Json.num(d)
      case x => x.toString
    }.mkString("[", ",", "]")
    case x => x.toString
  }

  /** An output check: one attempted operation, failed when `ok` is false. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[kbbench] CHECK FAILED $name $detail")
    }
    ok
  }

  /** One operation of the workload; an exception counts as a failure. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[kbbench] OP FAILED $name: $e")
        e.printStackTrace()
        None
    }
  }

  /** A fresh local session with `threads` task threads. Shuffle partitions
    * are fixed per run, independent of the thread count.
    */
  def session(threads: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"kbbench-$workload")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.rdd.compress", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    tracer.attach(s)
    s
  }

  def elapsedSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Run {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-independent digest of a frame: row count plus the sum of
    * per-row 64-bit hashes, in one job. Floating columns are rounded to
    * 6 decimals first so summation order cannot change the digest.
    */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6)
        case ArrayType(DoubleType | FloatType, _) =>
          transform(col(f.name), x => round(x, 6))
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
      .collect()(0)
    (r.getLong(0), r.get(1).toString)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
