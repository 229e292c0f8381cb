package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The traced run's instruments, all in memory until the end of the run.
  *
  *  - spans: walls of calls from the benchmark into a layer's public
  *    functions, recorded only inside `traced { ... }`;
  *  - values: per-layer figures from the layer probes;
  *  - a SparkListener that sums task CPU, GC, shuffle and spill and
  *    counts stages, again only inside `traced { ... }`.
  *
  * Disabled (the untraced run), `span` is a plain call and no listener is
  * attached.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val spans = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  @volatile private var active = false

  private var taskCpuNs = 0L
  private var gcMs = 0L
  private var shuffleWrite = 0L
  private var shuffleRead = 0L
  private var spill = 0L
  private var stages = 0L

  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (active && e.taskMetrics != null) synchronizedAdd(e)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (active) Tracer.this.synchronized { stages += 1 }
  }

  private def synchronizedAdd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    taskCpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    spill += m.memoryBytesSpilled + m.diskBytesSpilled
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  private def drain(): Unit =
    org.apache.spark.GraftBenchBridge.drainListenerBus(spark.sparkContext)

  /** Runs an op with spans and Spark counters on. The bus is drained on
    * entry (events of the op before belong to no span) and on exit. */
  def traced[A](body: => A): A = {
    drain()
    active = true
    try body
    finally { drain(); active = false }
  }

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val t0 = System.nanoTime()
      try body
      finally synchronized {
        spans.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      }
    }

  def value(name: String, v: Double, unit: String): Unit = synchronized {
    values(name) = (v, unit)
  }

  def toJson(mapper: ObjectMapper): JsonNode = synchronized {
    val root = mapper.createObjectNode()
    val sp = root.putObject("spans")
    spans.foreach { case (k, xs) => val a = sp.putArray(k); xs.foreach(a.add(_)) }
    val vs = root.putObject("values")
    values.foreach { case (k, (v, u)) => vs.putObject(k).put("value", v).put("unit", u) }
    if (enabled) {
      val s = root.putObject("spark")
      s.put("task_cpu_s", taskCpuNs / 1e9)
      s.put("gc_s", gcMs / 1e3)
      s.put("shuffle_write_mb", shuffleWrite / 1e6)
      s.put("shuffle_read_mb", shuffleRead / 1e6)
      s.put("spill_mb", spill / 1e6)
      s.put("stages", stages)
    }
    root
  }

  def close(): Unit = if (enabled) spark.sparkContext.removeSparkListener(listener)
}
