package kbbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Task metrics rolled up per span (= Spark job group). */
final class SpanTotals {
  var wallS = 0.0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var jobs = 0
  var stages = 0
}

/** Listener that attributes jobs, stages and task metrics to the job
  * group that was set when the job started. Events arrive on Spark's
  * listener thread; stopping the session drains them, so totals are read
  * after the session stops.
  */
final class SpanListener(totals: String => SpanTotals) extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]

  private def group(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    group(e.properties).foreach(g => totals(g).jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    group(e.properties).foreach { g =>
      stageGroup(e.stageInfo.stageId) = g
      totals(g).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageGroup.get(e.stageId).foreach { g =>
      val t = totals(g)
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
    }
  }
}

/** Spans around calls into the program's layers. A disabled tracer runs
  * the body and records nothing, so untraced runs carry no listener and
  * no job groups.
  */
final class Tracer(val enabled: Boolean) {
  private val byName = mutable.LinkedHashMap.empty[String, SpanTotals]
  private val origin = System.nanoTime()
  /** Every span as (name, start s, end s) from tracer creation, in order. */
  val spans = mutable.ArrayBuffer.empty[(String, Double, Double)]

  def totals(name: String): SpanTotals = synchronized {
    byName.getOrElseUpdate(name, new SpanTotals)
  }

  def all: Map[String, SpanTotals] = synchronized { byName.toMap }

  /** Attach the roll-up listener to a freshly built session. */
  def attach(spark: SparkSession): Unit =
    if (enabled) spark.sparkContext.addSparkListener(new SpanListener(totals))

  def span[T](spark: SparkSession, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(name, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        totals(name).wallS += (t1 - t0) / 1e9
        synchronized { spans += ((name, (t0 - origin) / 1e9, (t1 - origin) / 1e9)) }
        sc.clearJobGroup()
      }
    }
}
