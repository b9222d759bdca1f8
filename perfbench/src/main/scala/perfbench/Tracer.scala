package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.perfbench.BusFlush
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed interval at a layer boundary. Spans of one
  * operation share `op`; `parent` is the span that caused this one (0 for
  * an operation's root span).
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startMs: Double, endMs: Double)

/** One timed operation of a workload, with the layer counters the traced
  * run collected while it ran (empty when tracing is off).
  */
final case class OpRecord(kind: String, name: String, seconds: Double,
                          ok: Boolean, error: String, layers: Map[String, Double])

/** Per-operation counters fed by the listeners. Only the closed loop's
  * single client runs operations, so at most one is open at a time.
  */
private final class OpAcc(val opId: Long, val rootSpan: Long) {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, shuffleWrite, spill, bytesWritten = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  var scanFiles = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Records spans and per-layer counters around the benchmark's calls into
  * the engine. With `enabled` false it only times operations: no
  * listener is registered and no span is kept.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobStarts = mutable.Map.empty[Int, (Long, Long, Long)] // job -> (startMs, op, parent)
  @volatile private var cur: OpAcc = null
  private val epochNs = System.nanoTime()
  private def nowMs: Double = (System.nanoTime() - epochNs) / 1e6
  private val wallOffsetMs = System.currentTimeMillis() - nowMs

  private object PlanWalk extends AdaptiveSparkPlanHelper

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val a = cur
        if (a != null) {
          a.jobs += 1
          jobStarts(e.jobId) = (e.time, a.opId, a.rootSpan)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobStarts.remove(e.jobId).foreach { case (start, op, parent) =>
          spans.synchronized {
            spans += Span(ids.incrementAndGet(), parent, op, s"spark.job.${e.jobId}",
              start - wallOffsetMs, e.time - wallOffsetMs)
          }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val a = cur
        if (a != null) a.stages += 1
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        val a = cur
        if (a != null) {
          a.tasks += 1
          val m = e.taskMetrics
          if (m != null) {
            a.runMs += m.executorRunTime
            a.cpuNs += m.executorCpuTime
            a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            a.bytesWritten += m.outputMetrics.bytesWritten
          }
          a.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
        val a = cur
        if (a != null) {
          val ph = qe.tracker.phases
          a.analysisMs += ph.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
          a.optimizationMs += ph.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0)
          a.planningMs += ph.get("planning").map(_.durationMs.toDouble).getOrElse(0.0)
          a.scanFiles += scanFiles(qe)
        }
      }
    })
  }

  /** Files the plan's file-source scans read (AQE stages included). */
  def scanFiles(qe: QueryExecution): Long =
    scala.util.Try(PlanWalk.collect(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum).getOrElse(0L)

  /** The running operation's span context, for child spans. */
  final class Ctx(val opId: Long, val rootSpan: Long) {
    private[Tracer] val extra = mutable.Map.empty[String, Double]

    /** Add a workload-specific layer counter to the operation's record. */
    def count(name: String, v: Double): Unit = extra(name) = extra.getOrElse(name, 0.0) + v

    /** Time `body` as a child span of the operation; its duration is
      * also kept as the counter `<name>_ms`.
      */
    def phase[T](name: String)(body: => T): T = {
      val s = nowMs
      try body
      finally {
        val e = nowMs
        count(s"${name}_ms", e - s)
        if (enabled) spans.synchronized {
          spans += Span(ids.incrementAndGet(), rootSpan, opId, name, s, e)
        }
      }
    }
  }

  /** Run one operation: time it, catch its failure, and with tracing on
    * collect the layer counters its Spark jobs, plans and filesystem
    * calls produced. Counters the body adds through [[Ctx.count]] are
    * kept in both modes.
    */
  def op(kind: String, name: String)(body: Ctx => Unit): OpRecord = {
    val opId = ids.incrementAndGet()
    val root = ids.incrementAndGet()
    val ctx = new Ctx(opId, root)
    val fs0 = (CountingLocalFs.meta.get, CountingLocalFs.dataFilesCreated.get)
    val acc = new OpAcc(opId, root)
    if (enabled) { BusFlush(spark.sparkContext); cur = acc }
    val wall0 = System.currentTimeMillis()
    val s = nowMs
    val cpu0 = Tracer.processCpuNs()
    val t0 = System.nanoTime()
    val err = try { body(ctx); "" } catch {
      case e: Throwable => s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    ctx.count("process_cpu_s", (Tracer.processCpuNs() - cpu0) / 1e9)
    val e = nowMs
    val wall1 = System.currentTimeMillis()
    val layers =
      if (!enabled) Map.empty[String, Double]
      else {
        BusFlush(spark.sparkContext)
        cur = null
        spans.synchronized { spans += Span(root, 0, opId, s"$kind:$name", s, e) }
        Map(
          "jobs" -> acc.jobs.toDouble, "stages" -> acc.stages.toDouble,
          "tasks" -> acc.tasks.toDouble,
          "executor_run_s" -> acc.runMs / 1e3, "executor_cpu_s" -> acc.cpuNs / 1e9,
          "shuffle_write_bytes" -> acc.shuffleWrite.toDouble,
          "spill_bytes" -> acc.spill.toDouble,
          "bytes_written" -> acc.bytesWritten.toDouble,
          "driver_gap_s" -> (wall1 - wall0 - busyMs(acc.taskIntervals.toSeq, wall0, wall1)) / 1e3,
          "analysis_ms" -> acc.analysisMs, "optimization_ms" -> acc.optimizationMs,
          "planning_ms" -> acc.planningMs, "scan_files" -> acc.scanFiles.toDouble,
          "fs_meta_ops" -> (CountingLocalFs.meta.get - fs0._1).toDouble,
          "data_files_written" -> (CountingLocalFs.dataFilesCreated.get - fs0._2).toDouble)
      }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    OpRecord(kind, name, seconds, err.isEmpty, err, layers ++ ctx.extra)
  }

  /** Length of the union of task intervals, clipped to [lo, hi]. */
  private def busyMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var busy, end = 0L
    var endSet = false
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (!endSet || a > end) { busy += b - a; end = b; endSet = true }
        else if (b > end) { busy += b - end; end = b }
      }
    busy
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
}

object Tracer {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (driver, executor, JIT and GC threads). */
  def processCpuNs(): Long = os.getProcessCpuTime
}
