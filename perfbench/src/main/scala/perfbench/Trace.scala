package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory tracing for the traced run: spans (name, start, end, parent,
  * op id) taken around the benchmark's calls into each layer, and named
  * counters. Nothing is written until [[write]] at exit. With tracing off
  * every call is a plain pass-through.
  */
final class Tracer(val enabled: Boolean) {
  case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                  parent: Int, op: Int)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, t0, System.nanoTime(), parent, op)
      }
    }

  def add(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

  def max(name: String, v: Double): Unit =
    if (enabled) counters(name) = math.max(counters.getOrElse(name, v), v)

  def counter(name: String): Double = counters.getOrElse(name, 0.0)

  /** Total seconds of every span named `name`. */
  def seconds(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("{\"spans\":[")
    sb.append(spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}""").mkString(","))
    sb.append("],\"counters\":{")
    sb.append(counters.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(","))
    sb.append("}}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Engine counters for the span it is active in: a SparkListener for
  * jobs, stages and task metrics, Spark's codegen and file-listing
  * metric sources, and the JVM's GC, JIT and heap-pool MXBeans.
  */
final class EngineProbe(cores: Int) extends SparkListener {
  @volatile private var active = false
  private val sums = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  private def bump(k: String, v: Double): Unit =
    sums.merge(k, v, (a: java.lang.Double, b: java.lang.Double) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (active) bump("engine.jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (active) bump("engine.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
    bump("engine.tasks", 1)
    if (!e.taskInfo.successful) bump("engine.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      bump("engine.task_run_s", m.executorRunTime / 1e3)
      bump("engine.task_cpu_s", m.executorCpuTime / 1e9)
      bump("engine.gc_s", m.jvmGCTime / 1e3)
      bump("engine.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      bump("engine.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      bump("engine.input_bytes", m.inputMetrics.bytesRead.toDouble)
      bump("engine.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  private val compileHist =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  private val filesDiscovered =
    org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED
  private val jit = ManagementFactory.getCompilationMXBean
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  /** Run `body` with the counters live and add what it moved to `t`. */
  def measure[T](t: Tracer)(body: => T): T = {
    if (!t.enabled) return body
    sums.clear()
    val compiles0 = compileHist.getCount
    val files0 = filesDiscovered.getCount
    val jit0 = jit.getTotalCompilationTime
    heapPools.foreach(_.resetPeakUsage())
    val t0 = System.nanoTime()
    active = true
    try body
    finally {
      active = false
      val wall = (System.nanoTime() - t0) / 1e9
      sums.asScala.foreach { case (k, v) => t.add(k, v) }
      val compiles = compileHist.getCount - compiles0
      t.add("engine.codegen_compiles", compiles.toDouble)
      // the histogram keeps a sample, not a sum: compiles × sampled mean
      t.add("engine.codegen_compile_s",
        compiles * compileHist.getSnapshot.getMean / 1e3)
      t.add("engine.files_discovered", (filesDiscovered.getCount - files0).toDouble)
      t.add("engine.slot_idle_s",
        math.max(0.0, wall * cores - sums.getOrDefault("engine.task_run_s", 0.0)))
      t.add("jvm.jit_compile_s", (jit.getTotalCompilationTime - jit0) / 1e3)
      t.max("jvm.heap_peak_mb", heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
    }
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
