package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A span recorded around one call: `op` is shared by every span of one
  * query or request; times are epoch microseconds. Parents are resolved
  * later by interval containment within the op (see perfbench/graftbench/trace.py). */
final case class Span(op: String, name: String, startUs: Long, endUs: Long)

/** Per-op sums of task metrics, attributed through the op's job tag. */
final class OpCounters {
  val c = new ConcurrentHashMap[String, AtomicLong]()
  def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
}

/** Spans and Spark-side attribution for one run. With `enabled` false
  * every method is a pass-through, so the untraced run pays nothing but
  * the branch. Spans are kept in memory and written out when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val counters = new ConcurrentHashMap[String, OpCounters]()
  def opCounters(op: String): OpCounters =
    counters.computeIfAbsent(op, _ => new OpCounters)

  private val TagPrefix = "graftbench-op-"
  private val current = new ThreadLocal[String]()

  /** Run `body` as operation `op` on this thread: every Spark job it
    * launches carries the op's job tag, and a root span `op` covers it. */
  def op[T](sc: SparkContext, op: String, on: Boolean = true)(body: => T): T =
    if (!enabled || !on) body
    else {
      val tag = TagPrefix + op
      sc.addJobTag(tag)
      current.set(op)
      val t0 = nowUs
      try body
      finally {
        spans.add(Span(op, "op", t0, nowUs))
        current.remove()
        sc.removeJobTag(tag)
      }
    }

  /** A child span of the current op (no-op outside a traced op). */
  def span[T](name: String)(body: => T): T = {
    val op = if (enabled) current.get() else null
    if (op == null) body
    else {
      val t0 = nowUs
      try body finally spans.add(Span(op, name, t0, nowUs))
    }
  }

  def count(name: String, v: Long): Unit = {
    val op = if (enabled) current.get() else null
    if (op != null) opCounters(op).add(name, v)
  }

  private def opOf(tags: Iterable[String]): Option[String] =
    tags.collectFirst { case t if t.startsWith(TagPrefix) => t.drop(TagPrefix.length) }

  private def opOfProps(p: java.util.Properties): String =
    Option(p).flatMap(pp => Option(pp.getProperty("spark.job.tags")))
      .flatMap(s => opOf(s.split(",").toSeq)).getOrElse(Tracer.Unattributed)

  /** The Spark listener: jobs become `spark.job` spans, planning phases of
    * each SQL execution become `spark.plan.<phase>` spans, and task
    * metrics are summed per op. Events without an op tag (the streaming
    * thread, set-up) land under [[Tracer.Unattributed]]. */
  val listener: SparkListener = new SparkListener {
    private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
    private val stageOp = new ConcurrentHashMap[Int, String]()
    private val execOp = new ConcurrentHashMap[Long, String]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOfProps(e.properties)
      jobStart.put(e.jobId, (op, e.time))
      e.stageIds.foreach(s => stageOp.put(s, op))
      opCounters(op).add("jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
        spans.add(Span(op, "spark.job", t0 * 1000L, e.time * 1000L))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      opCounters(stageOp.getOrDefault(e.stageInfo.stageId, Tracer.Unattributed))
        .add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = opCounters(stageOp.getOrDefault(e.stageId, Tracer.Unattributed))
      c.add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        c.add("task_run_ms", m.executorRunTime)
        c.add("task_cpu_ns", m.executorCpuTime)
        c.add("gc_ms", m.jvmGCTime)
        c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        c.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        c.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        c.add("input_bytes", m.inputMetrics.bytesRead)
        c.add("input_records", m.inputMetrics.recordsRead)
      }
    }
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
      opCounters(Tracer.Unattributed).add("unpersists", 1)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execOp.put(s.executionId, opOf(s.jobTags).getOrElse(Tracer.Unattributed))
      case x: SparkListenerSQLExecutionEnd =>
        val op = Option(execOp.remove(x.executionId)).getOrElse(Tracer.Unattributed)
        org.apache.spark.sql.graftbench.Bridge.phases(x).foreach { case (phase, (s, t)) =>
          spans.add(Span(op, s"spark.plan.$phase", s * 1000L, t * 1000L))
        }
      case _ =>
    }
  }

  def spanRows: Seq[Span] = spans.asScala.toSeq
}

object Tracer {
  val Unattributed = "-"
}

/** Janino compile count and time, read from Spark's CodegenMetrics
  * histograms. The time is the sum of the histogram's retained samples,
  * exact while the JVM has compiled fewer classes than the reservoir holds. */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  def count: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def totalMs: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
}
