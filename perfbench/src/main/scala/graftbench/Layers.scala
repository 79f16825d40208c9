package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.table.{Commit, LakeTable}

/** Per-layer metrics shared by the workloads. */
object Layers {

  /** graft.cdc: per-apply cost split into Spark jobs and the time between them,
    * waste and the maintenance recorded in the commit log. */
  def cdc(applyMs: Seq[Double], perApply: Seq[SparkProbe#Window],
      offered: Long, applied: Long, log: Seq[Commit]): Map[String, Double] = {
    def med(f: SparkProbe#Window => Double) = Stats.median(perApply.map(f))
    Map(
      "cdc.apply_ms" -> Stats.median(applyMs),
      "cdc.jobs_per_apply" -> med(_.jobs.toDouble),
      "cdc.stages_per_apply" -> med(_.stages.toDouble),
      "cdc.tasks_per_apply" -> med(_.tasks.toDouble),
      "cdc.driver_gap_ms_per_apply" -> med(_.driverGapMs.toDouble),
      "cdc.shuffle_bytes_per_event" ->
        perApply.map(_.shuffleBytes).sum.toDouble / math.max(1L, offered),
      "table.bytes_written_per_event" ->
        perApply.map(_.outputBytes).sum.toDouble / math.max(1L, offered),
      "cdc.effective_ratio" -> applied.toDouble / math.max(1L, offered),
      "cdc.delta_commits" -> log.count(_.metrics.get("deltaCommit").contains(1L)).toDouble,
      "cdc.folded_buckets" -> log.map(_.metrics.getOrElse("foldedBuckets", 0L)).sum.toDouble,
      "cdc.consolidated_buckets" ->
        log.map(_.metrics.getOrElse("consolidatedBuckets", 0L)).sum.toDouble)
  }

  /** The Spark engine over one measured window, per unit of the
    * workload's work (a trigger or a query rep). */
  def spark(p: SparkProbe, from: Long, to: Long, g0: SparkProbe#Gauges,
      g1: SparkProbe#Gauges, cores: Int, units: Double): Map[String, Double] = {
    val w = p.window(from, to)
    val u = math.max(units, 1.0)
    Map(
      "spark.analysis_ms" -> w.analysisMs / u,
      "spark.optimization_ms" -> w.optimizationMs / u,
      "spark.planning_ms" -> w.planningMs / u,
      "spark.codegen_compiles" -> (g1.codegenCompiles - g0.codegenCompiles) / u,
      "spark.codegen_ms" -> (g1.codegenNs - g0.codegenNs) / 1e6 / u,
      "spark.jobs" -> w.jobs / u,
      "spark.tasks" -> w.tasks / u,
      "spark.task_busy_frac" -> w.taskRunMs.toDouble / math.max(1L, w.wallMs * cores),
      "spark.shuffle_write_bytes" -> w.shuffleBytes / u,
      "spark.spill_bytes" -> w.spillBytes / u,
      "spark.gc_ms" -> (g1.gcMs - g0.gcMs) / u,
      "spark.driver_gap_ms" -> w.driverGapMs / u)
  }

  /** Bytes of the data files the current snapshot references, per live row. */
  def liveBytesPerRow(spark: SparkSession, table: LakeTable): Double = {
    val c = table.currentCommit().get
    val dirs = (c.buckets.values ++ c.deltaFiles).toSeq.distinct
    val bytes = dirs.map { rel =>
      val d = Paths.get(table.location, rel)
      if (!Files.isDirectory(d)) 0L
      else {
        val s = Files.walk(d)
        try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
        finally s.close()
      }
    }.sum
    bytes.toDouble / math.max(1L, table.read(spark).count())
  }
}

/** Assembles what a workload hands back to Main. */
object Result {
  def apply(ctx: Ctx, e2e: Map[String, Double], details: Map[String, Any],
      layers: Map[String, Double]): Map[String, Any] = {
    val selfMs = ctx.trace.selfMsByLayer
    if (ctx.traced) ctx.trace.write(ctx.root.resolve("spans.jsonl"))
    Map(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.traced,
      "attempted" -> ctx.attempted, "failed" -> ctx.failures.size,
      "failures" -> ctx.failures.take(50),
      "e2e" -> e2e, "details" -> details,
      "layers" -> (layers ++ selfMs.map { case (l, ms) => s"self.${l}_ms" -> ms }),
      "spans" -> ctx.trace.all.size)
  }
}
