package graft.tools

import org.apache.spark.sql.SparkSession

import graft.cdc.CdcApply
import graft.model.Corpus
import graft.queries.Scratch
import graft.table.LakeTable

/** Two-cluster-size scaling evidence (BASELINE.json north rule): run the
  * SAME CDC replay at local[N] and local[4N] on the same generated
  * corpus and report throughput at both + scaling efficiency
  * (sandbox substitute for N vs 4N executors, per the task brief).
  *
  * Usage: runMain graft.tools.ScalingBench [nEvents] [nBatches] [N]
  */
object ScalingBench {

  case class RunResult(cpus: Int, events: Long, secs: Double, cpuSecs: Double) {
    def throughput: Double = events / secs
    def perCpuThroughput: Double = if (cpuSecs > 0) events / cpuSecs else 0.0
  }

  /** Accumulates task CPU time — host steal/preemption does NOT count,
    * so events-per-CPU-second compares parallel overhead across
    * parallelism levels even on a throttled shared VM. */
  private class CpuTimeListener extends org.apache.spark.scheduler.SparkListener {
    val cpuNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (te.taskMetrics != null) cpuNanos.addAndGet(te.taskMetrics.executorCpuTime)
  }

  def runAt(cpus: Int, nEvents: Long, nBatches: Int, workDir: String): RunResult = {
    val spark = Session(s"graft-scaling-$cpus", cpus)
    replayBench(spark, cpus, nEvents, nBatches, workDir)
  }

  /** MULTI-JVM variant: `local-cluster[workers, cores, memMB]` forks one
    * EXECUTOR JVM per worker, each owning its heap and GC — the closest
    * this box gets to the north rule's real N-vs-4N executor clusters
    * (local[N] shares one heap across all "executors", so GC and
    * allocator contention scale differently than a cluster's would).
    * Executors are fresh JVMs, so they need the application classes and
    * the JDK17 module opens passed explicitly. */
  def runCluster(workers: Int, coresPerWorker: Int, memMB: Int,
      nEvents: Long, nBatches: Int, workDir: String): RunResult = {
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
    val cpus = workers * coresPerWorker
    val spark = Session.builder(s"graft-cluster-${workers}x$coresPerWorker", cpus)
      .master(s"local-cluster[$workers,$coresPerWorker,$memMB]")
      .config("spark.executor.memory", s"${memMB}m")
      // executors must load the application classes; derive the path
      // from the driver's own classpath so a moved build output
      // (packaged jar, different Scala dir) cannot silently strand them
      .config("spark.executor.extraClassPath",
        System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions", addOpens)
      .getOrCreate()
    replayBench(spark, cpus, nEvents, nBatches, workDir)
  }

  private def replayBench(spark: SparkSession, cpus: Int, nEvents: Long,
      nBatches: Int, workDir: String): RunResult = {
    val cpuListener = new CpuTimeListener
    spark.sparkContext.addSparkListener(cpuListener)
    try {
      // materialize the changelog first (untimed) — the metric is the
      // ENGINE's apply throughput over an existing changelog, not the
      // synthetic generator's speed
      val logDir = s"$workDir/changelog"
      Corpus.changeEvents(spark, nEvents,
          nConvs = math.max(1000, (nEvents / 200).toInt), maxTurns = 40,
          partitions = cpus * 4)
        .write.mode("overwrite").parquet(logDir)
      val events = spark.read.parquet(logDir)
      val table = new LakeTable(s"$workDir/table-$cpus", numBuckets = 64)
      // warm the JVM/codegen on a slice, then time the full replay
      CdcApply.applyBatch(spark, new LakeTable(s"$workDir/warm-$cpus", 16),
        events.where(org.apache.spark.sql.functions.col("_txid") <= 10000))
      val t0 = System.nanoTime()
      val cpuStart = cpuListener.cpuNanos.get()
      val step = nEvents / nBatches
      (0 until nBatches).foreach { i =>
        val lo = i * step + 1
        val hi = if (i == nBatches - 1) nEvents else (i + 1) * step
        val tb = System.nanoTime()
        val st = CdcApply.applyBatch(spark, table,
          events.where(org.apache.spark.sql.functions.col("_txid").between(lo, hi)),
          pruneBuckets = false)
        System.err.println(f"[scaling] cpus=$cpus batch$i: " +
          f"applied=${st.applied} ${(System.nanoTime() - tb) / 1e9}%.1f s")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val cpu0 = cpuListener.cpuNanos.get() - cpuStart
      RunResult(cpus, nEvents, secs, cpu0 / 1e9)
    } finally spark.stop()
  }

  /** Steady-state incremental apply: a pre-loaded table takes a train
    * of SMALL batches — the CDC shape the per-bucket delta classes
    * exist for. `forceBulk` applies each batch without facts
    * (`pruneBuckets = false`), so every touched bucket folds from the
    * raw events, and the two plans' wall/CPU cost per event can be
    * A/B'd on identical input. */
  def runSteady(cpus: Int, baseEvents: Long, batchEvents: Long,
      nBatches: Int, forceBulk: Boolean, workDir: String,
      hotBuckets: Int = 0): RunResult = {
    val spark = Session(s"graft-steady-$cpus", cpus)
    val cpuListener = new CpuTimeListener
    spark.sparkContext.addSparkListener(cpuListener)
    try {
      val total = baseEvents + batchEvents * nBatches
      val logDir = s"$workDir/changelog"
      Corpus.changeEvents(spark, total,
          nConvs = math.max(1000, (total / 200).toInt), maxTurns = 40,
          partitions = cpus * 4)
        .write.mode("overwrite").parquet(logDir)
      val events = spark.read.parquet(logDir)
      val mode = if (forceBulk) "bulk" else "bcast"
      val table = new LakeTable(s"$workDir/table-$cpus-$mode", numBuckets = 64)
      // base load (untimed): the table the steady batches merge into
      CdcApply.applyBatch(spark, table,
        events.where(org.apache.spark.sql.functions.col("_txid") <= baseEvents),
        pruneBuckets = false)
      val t0 = System.nanoTime()
      val cpuStart = cpuListener.cpuNanos.get()
      var appliedTotal = 0L
      (0 until nBatches).foreach { i =>
        val lo = baseEvents + i * batchEvents + 1
        val hi = baseEvents + (i + 1) * batchEvents
        val tb = System.nanoTime()
        // hotBuckets > 0 concentrates the churn on that many of the 64
        // buckets (hot-conversation skew shape): per-bucket MoR folds
        // must then rewrite ONLY the hot buckets, so per-fold-cycle cost
        // tracks the hot set, not the table
        var batch = events.where(
          org.apache.spark.sql.functions.col("_txid").between(lo, hi))
        if (hotBuckets > 0) batch = batch.where(table.bucketCol(
          org.apache.spark.sql.functions.col("conv_id")) < hotBuckets)
        val st = CdcApply.applyBatch(spark, table, batch, pruneBuckets = !forceBulk)
        appliedTotal += st.applied
        val folded = table.currentCommit()
          .flatMap(_.metrics.get("foldedBuckets")).getOrElse(0L)
        val cons = table.currentCommit()
          .flatMap(_.metrics.get("consolidatedBuckets")).getOrElse(0L)
        System.err.println(f"[steady] batch$i applied=${st.applied} " +
          f"folded=$folded cons=$cons ${(System.nanoTime() - tb) / 1e9}%.2f s")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val cpu0 = cpuListener.cpuNanos.get() - cpuStart
      RunResult(cpus,
        if (hotBuckets > 0) appliedTotal else batchEvents * nBatches,
        secs, cpu0 / 1e9)
    } finally spark.stop()
  }

  /** Generation-only microbench: counts the corpus (no shuffle/persist/
    * write) — isolates the expression layer when diagnosing scaling. */
  def genOnly(cpus: Int, nEvents: Long): Unit = {
    val spark = Session("graft-gen-only", cpus)
    try {
      val ev = Corpus.changeEvents(spark, nEvents, nConvs = 100000,
        maxTurns = 40, partitions = cpus * 4)
      val t0 = System.nanoTime()
      val n = ev.select(org.apache.spark.sql.functions.max("_etag")).head()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"""{"bench":"gen_only","cpus":$cpus,"secs":$secs%.1f,"rows_per_sec":${nEvents / secs}%.0f}""")
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("gen") =>
      genOnly(args(1).toInt, if (args.length > 2) args(2).toLong else 16000000L)
    // single pinned run (drive with `taskset -c 0-(N-1)` so local[N]
    // really has N cores — on one box the JVM otherwise borrows idle
    // cores for GC and shuffle threads, skewing the N vs 4N compare)
    // steady-state A/B: runMain ... steady <cpus> <baseEvents> <batchEvents> <nBatches> <bcast|bulk>
    case Some("steady") =>
      val cpus = args(1).toInt
      val base = if (args.length > 2) args(2).toLong else 4000000L
      val per = if (args.length > 3) args(3).toLong else 100000L
      val nb = if (args.length > 4) args(4).toInt else 20
      val mode = if (args.length > 5) args(5) else "bcast"
      val r = runSteady(cpus, base, per, nb, forceBulk = mode == "bulk",
        Scratch.dir(s"steady-$cpus-$mode-"))
      println(f"""{"bench":"cdc_steady","mode":"$mode","cpus":$cpus,""" +
        f""""base_events":$base,"batch_events":$per,"n_batches":$nb,""" +
        f""""secs":${r.secs}%.1f,"events_per_sec":${r.throughput}%.0f,""" +
        f""""cpu_secs":${r.cpuSecs}%.1f,"cpu_us_per_event":${r.cpuSecs * 1e6 / r.events}%.1f}""")
    // hot-bucket steady state: churn concentrated on <hot> of 64 buckets
    // — evidences per-bucket MoR folds (fold cost ∝ hot set, ≥3 cycles)
    case Some("steadyhot") =>
      val cpus = args(1).toInt
      val base = if (args.length > 2) args(2).toLong else 8000000L
      val per = if (args.length > 3) args(3).toLong else 100000L
      val nb = if (args.length > 4) args(4).toInt else 27
      val hot = if (args.length > 5) args(5).toInt else 8
      val r = runSteady(cpus, base, per, nb, forceBulk = false,
        Scratch.dir(s"steadyhot-$cpus-"), hotBuckets = hot)
      println(f"""{"bench":"cdc_steady_hot","cpus":$cpus,"base_events":$base,""" +
        f""""batch_events_prefilter":$per,"n_batches":$nb,"hot_buckets":$hot,""" +
        f""""applied":${r.events},"secs":${r.secs}%.1f,""" +
        f""""applied_per_sec":${r.throughput}%.0f,""" +
        f""""cpu_secs":${r.cpuSecs}%.1f,"cpu_us_per_event":${r.cpuSecs * 1e6 / r.events}%.1f}""")
    // multi-JVM: runMain ... cluster <workers> <coresPerWorker> [memMB] [nEvents] [nBatches]
    case Some("cluster") =>
      val w = args(1).toInt
      val c = args(2).toInt
      val mem = if (args.length > 3) args(3).toInt else 4096
      val nEvents = if (args.length > 4) args(4).toLong else 16000000L
      val nBatches = if (args.length > 5) args(5).toInt else 4
      val r = runCluster(w, c, mem, nEvents, nBatches, Scratch.dir(s"cluster-$w-$c-"))
      println(f"""{"bench":"cdc_cluster","workers":$w,"cores_per_worker":$c,""" +
        f""""executor_mem_mb":$mem,"n_events":$nEvents,""" +
        f""""secs":${r.secs}%.1f,"events_per_sec":${r.throughput}%.0f,""" +
        f""""cpu_secs":${r.cpuSecs}%.1f,"events_per_cpu_sec":${r.perCpuThroughput}%.0f}""")
    case Some("single") =>
      val cpus = args(1).toInt
      val nEvents = if (args.length > 2) args(2).toLong else 2000000L
      val nBatches = if (args.length > 3) args(3).toInt else 4
      val r = runAt(cpus, nEvents, nBatches, Scratch.dir(s"scaling-$cpus-$nEvents-"))
      println(f"""{"bench":"cdc_single","cpus":$cpus,"n_events":$nEvents,""" +
        f""""secs":${r.secs}%.1f,"events_per_sec":${r.throughput}%.0f,""" +
        f""""cpu_secs":${r.cpuSecs}%.1f,"events_per_cpu_sec":${r.perCpuThroughput}%.0f}""")
    // both in one JVM (unpinned; quick look only)
    case _ =>
      val nEvents = if (args.length > 0) args(0).toLong else 2000000L
      val nBatches = if (args.length > 1) args(1).toInt else 4
      val n = if (args.length > 2) args(2).toInt else 8
      val work = Scratch.dir(s"scaling-$nEvents-")
      val rN = runAt(n, nEvents, nBatches, work)
      val r4N = runAt(n * 4, nEvents, nBatches, work)
      val efficiency = (r4N.throughput / rN.throughput) / 4.0
      println(f"""{"bench":"cdc_scaling","n_events":$nEvents,"n_batches":$nBatches,""" +
        f""""local_${n}":{"secs":${rN.secs}%.1f,"events_per_sec":${rN.throughput}%.0f},""" +
        f""""local_${n * 4}":{"secs":${r4N.secs}%.1f,"events_per_sec":${r4N.throughput}%.0f},""" +
        f""""speedup":${r4N.throughput / rN.throughput}%.2f,"scaling_efficiency":$efficiency%.3f}""")
  }
}
