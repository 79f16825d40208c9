package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{graftshim, SparkSession}
import org.apache.spark.sql.functions.col
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.SparkEntry
import graft.cdc.CdcApply
import graft.model.Corpus
import graft.queries.Scratch
import graft.table.LakeTable

/** One profiler for the engine's two hot surfaces. Every measured step
  * (one query, or one steady-state apply batch) prints one JSON line:
  * its wall time split into the Spark jobs that ran inside it and the
  * driver gap, the part of the wall during which no job was running
  * (analysis, planning, codegen, listing, footer reads, commit publish).
  * A step that throws is reported as `"status":"fail"` with its message
  * and carries no timing.
  *
  * Usage:
  *   runMain graft.tools.Profile query [name ...]
  *     builds and counts each named SparkEntry query (all when none is
  *     named) over `$SPARK_GRAFT_SF_DIR`, `$GRAFT_PROFILE_REPS` times
  *   runMain graft.tools.Profile steady [nEvents] [batches]
  *     Bench's steady CDC section: a bulk preload, then `batches`
  *     applies of nEvents/20 events each into a 64-bucket table
  */
object Profile {

  /** Every Spark job that ends while registered: (id, description,
    * start ms, end ms), on the listener clock. */
  private class JobTimeline extends SparkListener {
    private val started = new ConcurrentHashMap[Int, (String, Long)]()
    private val ended = ArrayBuffer[(Int, String, Long, Long)]()
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      started.put(js.jobId, (desc, js.time))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(started.remove(je.jobId)).foreach { case (desc, t0) =>
        ended.synchronized { ended += ((je.jobId, desc, t0, je.time)) }
      }
    /** The jobs that ended since the last call, by id. */
    def take(): List[(Int, String, Long, Long)] = ended.synchronized {
      val jobs = ended.toList.sortBy(_._1)
      ended.clear()
      jobs
    }
  }

  private def withTimeline(spark: SparkSession)(f: JobTimeline => Unit): Unit = {
    val timeline = new JobTimeline
    spark.sparkContext.addSparkListener(timeline)
    try f(timeline)
    finally {
      spark.sparkContext.removeSparkListener(timeline)
      spark.sparkContext.setJobDescription(null)
    }
  }

  private def secs(ms: Long): Double = ms / 1000.0

  /** Runs `body` and returns its JSON line: `fields`, the status and,
    * when it succeeded, the wall, the jobs and the driver gap. */
  private def measure(spark: SparkSession, timeline: JobTimeline,
      fields: ListMap[String, Any])(body: => Unit): String = {
    graftshim.drainListeners(spark.sparkContext)
    timeline.take()
    val t0 = System.currentTimeMillis()
    val failure = try { body; None } catch { case NonFatal(e) => Some(e) }
    val t1 = System.currentTimeMillis()
    graftshim.drainListeners(spark.sparkContext)
    val jobs = timeline.take()
    val line = failure match {
      case Some(e) => fields ++ ListMap("status" -> "fail", "error" -> e.toString)
      case None =>
        // wall covered by at least one job: jobs may overlap (AQE runs
        // independent stages concurrently), so the gap is measured
        // against their union within [t0, t1], not their sum
        val (busy, _) = jobs.map { case (_, _, a, b) => (a max t0, b min t1) }
          .filter { case (a, b) => a < b }
          .sortBy(_._1)
          .foldLeft((0L, t0)) { case ((acc, end), (a, b)) =>
            if (b <= end) (acc, end) else (acc + b - (a max end), b)
          }
        fields ++ ListMap(
          "status" -> "ok",
          "wall_s" -> secs(t1 - t0),
          "jobs" -> jobs.size,
          "job_s" -> secs(jobs.map { case (_, _, a, b) => b - a }.sum),
          "driver_gap_s" -> secs(t1 - t0 - busy),
          "job_list" -> jobs.map { case (id, desc, a, b) =>
            ListMap("id" -> id, "s" -> secs(b - a), "desc" -> desc)
          })
    }
    Serialization.write(line)(DefaultFormats)
  }

  /** Query mode: one line per (rep, query); the cache is cleared
    * between reps so every rep starts cold. */
  def queries(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int)(
      emit: String => Unit): Unit = withTimeline(spark) { timeline =>
    (0 until reps).foreach { rep =>
      if (rep > 0) spark.catalog.clearCache()
      names.foreach { name =>
        spark.sparkContext.setJobDescription(s"profile:$name")
        emit(measure(spark, timeline,
            ListMap("mode" -> "query", "query" -> name, "rep" -> rep)) {
          SparkEntry.queries(name)(spark, sfDir).count()
        })
      }
    }
  }

  /** Steady mode: one line per steady batch, after an unmeasured bulk
    * preload of everything before them. */
  def steady(spark: SparkSession, nEvents: Long, batches: Int)(
      emit: String => Unit): Unit = {
    val per = (nEvents / 20).max(1L)
    require(batches >= 1 && batches * per < nEvents,
      s"$batches batches of $per events leave no preload out of $nEvents")
    val scratch = Scratch.dir("profile-steady-")
    try withTimeline(spark) { timeline =>
      Corpus.changeEvents(spark, nEvents,
          nConvs = (nEvents / 200).toInt.max(1000), maxTurns = 40,
          partitions = spark.sparkContext.defaultParallelism * 4)
        .write.mode("overwrite").parquet(s"$scratch/changelog")
      val events = spark.read.parquet(s"$scratch/changelog")
      val table = new LakeTable(s"$scratch/steady", numBuckets = 64)
      val preload = nEvents - batches * per
      spark.sparkContext.setJobDescription("profile: bulk preload")
      CdcApply.applyBatch(spark, table, events.where(col("_txid") <= preload),
        pruneBuckets = false)
      (0 until batches).foreach { i =>
        val lo = preload + i * per + 1
        spark.sparkContext.setJobDescription(s"profile: steady batch $i")
        emit(measure(spark, timeline,
            ListMap("mode" -> "steady", "batch" -> i, "events" -> per)) {
          CdcApply.applyBatch(spark, table,
            events.where(col("_txid").between(lo, lo + per - 1)))
        })
      }
    } finally LakeTable.deleteRecursively(java.nio.file.Paths.get(scratch))
  }

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.headOption match {
      case Some("query") =>
        val names =
          if (args.length > 1) args.toSeq.tail else SparkEntry.queries.keys.toSeq.sorted
        val reps = sys.env.get("GRAFT_PROFILE_REPS").fold(1)(_.toInt)
        spark => queries(spark, Session.sfDir, names, reps)(println)
      case Some("steady") =>
        val nEvents = args.lift(1).fold(2000000L)(_.toLong)
        val batches = args.lift(2).fold(6)(_.toInt)
        spark => steady(spark, nEvents, batches)(println)
      case _ =>
        sys.error("usage: Profile query [name ...] | Profile steady [nEvents] [batches]")
    }
    val spark = Session("graft-profile")
    try run(spark) finally spark.stop()
  }
}
