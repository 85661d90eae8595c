package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Everything one run measures, kept in memory and written once at the
  * end as JSON. Times are nanoseconds since the recorder was made;
  * Spark listener times (epoch milliseconds) are mapped onto that clock.
  *
  * Every op and step of the timed phase is recorded, traced or not. Spans,
  * job records and per-op attributes are recorded only while `tracing` is
  * on, which the workloads switch per step in a traced run.
  */
final class Recorder(sc: SparkContext, traceRun: Boolean) {
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  def now(): Long = System.nanoTime() - nano0

  final case class Op(kind: String, t0: Long, t1: Long, traced: Boolean, ok: Boolean)
  final case class Step(kind: String, t0: Long, t1: Long, traced: Boolean)
  final case class Span(op: Int, name: String, t0: Long, t1: Long)
  final case class Job(op: Int, t0: Long, t1: Long)
  final class TaskSum { var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var shuffleBytes = 0L }

  val ops = ArrayBuffer.empty[Op]
  val steps = ArrayBuffer.empty[Step]
  val spans = ArrayBuffer.empty[Span]
  val attrs = ArrayBuffer.empty[(Int, String, Double)]
  val checks = scala.collection.mutable.LinkedHashMap.empty[String, Array[Long]]
  val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  /** True while the current step is traced. */
  var tracing = false
  private var curOp = -1

  /** Time one op. A thrown exception or a `false` result is a failed op. */
  def op(kind: String)(f: => Boolean): Boolean = {
    curOp = ops.length
    if (tracing) sc.setLocalProperty(Recorder.OpKey, curOp.toString)
    val t0 = now()
    val ok = try f catch {
      case e: Exception =>
        System.err.println(s"graftbench: $kind op failed: $e"); false
    }
    val t1 = now()
    sc.setLocalProperty(Recorder.OpKey, null)
    ops += Op(kind, t0, t1, tracing, ok)
    ok
  }

  /** Time one whole step: its ops and, when traced, the tracing work
    * around them (listings, replayed calls). Traced and untraced steps of
    * a kind are compared for the tracing overhead.
    */
  def step(kind: String)(f: => Unit): Unit = {
    val t0 = now()
    f
    steps += Step(kind, t0, now(), tracing)
  }

  /** A span around a call into a layer, attached to the current op: the
    * running one, or the last one when measured right after it, outside
    * its timed interval. No-op when untraced.
    */
  def span[T](name: String)(f: => T): T =
    if (!tracing) f
    else {
      val t0 = now()
      try f finally spans += Span(curOp, name, t0, now())
    }

  /** Drop the warm-up's ops, steps, spans and attributes; its failed ops are
    * kept as a count (`warmup_failed`). Checks keep counting.
    */
  def resetOps(): Unit = {
    info("warmup_failed") = ops.count(!_.ok)
    ops.clear(); steps.clear(); spans.clear(); attrs.clear()
    jobs.synchronized(jobs.clear())
    taskSums.synchronized(taskSums.clear())
  }

  def attr(name: String, v: Double): Unit =
    if (tracing) attrs += ((curOp, name, v))

  def check(name: String, ok: Boolean): Boolean = {
    val c = checks.getOrElseUpdate(name, Array(0L, 0L))
    c(if (ok) 0 else 1) += 1
    if (!ok) System.err.println(s"graftbench: check failed: $name")
    ok
  }

  // ---- Spark scheduler: job spans and task sums per traced op ----
  private val jobsOpen = scala.collection.concurrent.TrieMap.empty[Int, (Int, Long)]
  private val stageOp = scala.collection.concurrent.TrieMap.empty[Int, Int]
  val jobs = ArrayBuffer.empty[Job]
  val taskSums = scala.collection.mutable.HashMap.empty[Int, TaskSum]
  private def fromEpoch(ms: Long): Long = (ms - epochMs0) * 1000000L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.OpKey)))
        .foreach { o =>
          val op = o.toInt
          jobsOpen(e.jobId) = (op, fromEpoch(e.time))
          e.stageIds.foreach(s => stageOp.putIfAbsent(s, op))
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobsOpen.remove(e.jobId).foreach { case (op, t0) =>
        jobs.synchronized { jobs += Job(op, t0, fromEpoch(e.time)) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageOp.get(e.stageId).foreach { op =>
        val m = e.taskMetrics
        taskSums.synchronized {
          val s = taskSums.getOrElseUpdate(op, new TaskSum)
          s.tasks += 1
          if (m != null) {
            s.runMs += m.executorRunTime
            s.cpuNs += m.executorCpuTime
            s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
  }
  if (traceRun) sc.addSparkListener(listener)

  /** Wait for the listener bus, then detach. */
  def finish(): Unit = if (traceRun) {
    org.apache.spark.GraftbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  // ---- JVM ----
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def gcTotals(): (Long, Long) =
    (gcBeans.map(_.getCollectionTime.max(0L)).sum,
      gcBeans.map(_.getCollectionCount.max(0L)).sum)

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  def allocatedBytes(): Long = threads.getThreadAllocatedBytes(Thread.currentThread().getId)

  /** Heap still in use after full collections, in MB. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }

  def toJson: String = {
    val opRows = ops.map(o => Seq(o.kind, o.t0, o.t1, o.traced, o.ok))
    val stepRows = steps.map(s => Seq(s.kind, s.t0, s.t1, s.traced))
    val spanRows = spans.map(s => Seq(s.op, s.name, s.t0, s.t1))
    val jobRows = jobs.synchronized(jobs.map(j => Seq(j.op, j.t0, j.t1)).toSeq)
    val taskRows = taskSums.synchronized(taskSums.toSeq.sortBy(_._1).map {
      case (op, s) => Seq(op, s.tasks, s.runMs, s.cpuNs / 1e6, s.shuffleBytes)
    })
    new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(Map(
      "info" -> info,
      "checks" -> checks.map { case (k, v) => k -> v.toSeq },
      "ops" -> opRows, "steps" -> stepRows, "spans" -> spanRows, "jobs" -> jobRows,
      "tasks" -> taskRows,
      "attrs" -> attrs.map { case (o, n, v) => Seq(o, n, v) }))
  }
}

object Recorder {
  val OpKey = "graftbench.op"
}
