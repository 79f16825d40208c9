package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did underneath the benchmark's calls: job intervals, stage
  * and task counts, task time, shuffle and spill bytes (SparkListener),
  * Catalyst phase times and files scanned per action
  * (QueryExecutionListener), codegen compiles (CodegenMetrics) and GC.
  * Every event carries a wall-clock time in ms, so the numbers can be
  * cut by any window the benchmark recorded. Installed only in traced
  * runs. */
final class SparkProbe(spark: SparkSession) {
  case class Job(start: Long, end: Long)
  case class Task(end: Long, runMs: Long, shuffleBytes: Long, spillBytes: Long,
      outputBytes: Long)
  case class Action(end: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, filesRead: Long)

  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  private val jobs = ArrayBuffer.empty[Job]
  private val stageEnds = ArrayBuffer.empty[Long]
  private val tasks = ArrayBuffer.empty[Task]
  private val actions = ArrayBuffer.empty[Action]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      SparkProbe.this.synchronized { jobStarts(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      SparkProbe.this.synchronized {
        jobStarts.remove(e.jobId).foreach(s => jobs += Job(s, e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      SparkProbe.this.synchronized {
        e.stageInfo.completionTime.foreach(stageEnds += _)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) SparkProbe.this.synchronized {
        tasks += Task(e.taskInfo.finishTime, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten)
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val files =
        try Plans.collect(qe.executedPlan) { case s: FileSourceScanExec =>
          s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }.sum
        catch { case _: Throwable => 0L }
      SparkProbe.this.synchronized {
        // planning's end lies inside the action, unlike this callback,
        // which the listener bus may deliver later
        val end = ph.values.map(_.endTimeMs).maxOption
          .getOrElse(System.currentTimeMillis())
        actions += Action(end, ms("analysis"),
          ms("optimization"), ms("planning"), files)
      }
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def drain(): Unit = org.apache.spark.graftbench.ListenerBusAccess.drain(spark.sparkContext)

  /** Counters the engine keeps process-wide; sampled at window edges. */
  case class Gauges(codegenCompiles: Long, codegenNs: Long, gcMs: Long, cpuNs: Long)
  def gauges(): Gauges = Gauges(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
    SparkProbe.processCpuNs())

  /** Spark-side totals inside [from, to] (wall ms). */
  case class Window(wallMs: Long, jobs: Int, stages: Int, tasks: Int,
      jobUnionMs: Long, taskRunMs: Long, shuffleBytes: Long, spillBytes: Long,
      outputBytes: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, filesRead: Long) {
    def driverGapMs: Long = wallMs - jobUnionMs
  }

  def window(from: Long, to: Long): Window = synchronized {
    val js = jobs.filter(j => j.start >= from && j.start <= to)
    val ts = tasks.filter(t => t.end >= from && t.end <= to)
    val as = actions.filter(a => a.end >= from && a.end <= to)
    Window(to - from, js.size, stageEnds.count(t => t >= from && t <= to), ts.size,
      Stats.unionLength(jobs.toSeq.map(j => (j.start, j.end)), from, to),
      ts.map(_.runMs).sum, ts.map(_.shuffleBytes).sum, ts.map(_.spillBytes).sum,
      ts.map(_.outputBytes).sum, as.map(_.analysisMs).sum,
      as.map(_.optimizationMs).sum, as.map(_.planningMs).sum, as.map(_.filesRead).sum)
  }
}

object SparkProbe {
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
}
