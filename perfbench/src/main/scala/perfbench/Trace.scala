package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into each layer. Spans of
  * one operation share `op`; `parent` is the enclosing span (-1 at top).
  * Spans are recorded only while `active`, which a traced run switches
  * on for every other unit of work.
  */
final class Tracer(val enabled: Boolean, runId: String) {
  import Tracer.Span
  var active = false

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = 0

  /** Start a new operation: later top-level spans belong to it. */
  def newOp(): Unit = op += 1

  def apply[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def jsonLines: Iterator[String] = spans.iterator.map { s =>
    s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
      s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
      startNs: Long, endNs: Long)
}

/** Spark-side counts for the traced run: jobs, stages, tasks, shuffle,
  * spill, executor time and GC, counted only while `active`.
  */
final class SparkCounters extends SparkListener {
  @volatile var active = false
  @volatile var jobs, stages, tasks = 0L
  @volatile var jobStages, submittedStages = 0L
  @volatile var shuffleWrite, shuffleRead, spill = 0L
  @volatile var cpuNs, runMs, gcMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) synchronized {
    jobs += 1
    jobStages += e.stageInfos.size
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (active) synchronized { submittedStages += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (active) synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
    }
  }

  def metrics(sc: SparkContext): Seq[(String, Double, String)] = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    synchronized {
      val mb = 1024.0 * 1024.0
      Seq(
        ("spark.jobs", jobs.toDouble, "count"),
        ("spark.stages", stages.toDouble, "count"),
        ("spark.tasks", tasks.toDouble, "count"),
        ("spark.stages_skipped_ratio",
          if (jobStages == 0) 0.0 else (jobStages - submittedStages).max(0L).toDouble / jobStages,
          "ratio"),
        ("spark.shuffle_write_mb", shuffleWrite / mb, "MB"),
        ("spark.shuffle_read_mb", shuffleRead / mb, "MB"),
        ("spark.spill_mb", spill / mb, "MB"),
        ("spark.executor_cpu_s", cpuNs / 1e9, "s"),
        ("spark.executor_run_s", runMs / 1e3, "s"),
        ("spark.gc_s", gcMs / 1e3, "s"))
    }
  }
}

/** Whole-stage codegen compile count and time. The time is the count
  * times the mean of Spark's sampled compile-time histogram, so it is an
  * estimate; the count is exact.
  */
object Codegen {
  private def hist = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  def count: Long = hist.getCount
  def meanMs: Double = hist.getSnapshot.getMean
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
