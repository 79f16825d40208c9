package graft.tools

import org.apache.spark.sql.functions._

import graft.model.Corpus
import graft.streaming.CdcStream
import graft.table.LakeTable

/** Endurance soak for the streaming tail: many micro-batches through
  * consolidate → fold → auto-compact → checkpointLog → vacuum cycles,
  * reporting whether per-batch wall stays FLAT (no hidden O(stream
  * lifetime) cost) and the commit log / data dirs stay BOUNDED. A
  * 10^10-event production tail is ~10^5 commits; this drives the same
  * maintenance loop at bench scale and prints one JSON line with the
  * per-third batch-wall p50/p95 (flatness evidence), max commit-log
  * size, final data-dir count, and maintenance-cycle counts.
  *
  * `runMain graft.tools.SoakBench <workDir> [nEvents] [nSegments]`
  */
object SoakBench {

  private def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else s(math.min(s.size - 1, math.ceil(s.size * p).toInt - 1))
  }

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("target/test-tmp/soak")
    val nEvents = args.lift(1).map(_.toLong).getOrElse(2000000L)
    val nSegments = args.lift(2).map(_.toInt).getOrElse(100)
    val cpus = Session.cpus
    val spark = Session("graft-soak-bench", cpus)

    val events = Corpus.changeEvents(spark, nEvents,
      nConvs = (nEvents / 200).toInt.max(1000), maxTurns = 40,
      partitions = cpus * 2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // seed the table with the first half as one bulk load so the soak
    // measures steady-state maintenance on a table of ~CONSTANT size —
    // an empty-to-full run conflates batch cost with table growth
    val seedTx = nEvents / 2
    val table = new LakeTable(s"$workDir/table", numBuckets = 64)
    graft.cdc.CdcApply.applyBatch(spark, table,
      events.where(col("_txid") <= seedTx), pruneBuckets = false)
    val seedVersion = table.currentCommit().get.version
    val per = (nEvents - seedTx) / nSegments
    val logDir = s"$workDir/log"
    (0 until nSegments).foreach { i =>
      val lo = seedTx + i * per + 1
      val hi = if (i == nSegments - 1) nEvents else seedTx + (i + 1) * per
      CdcStream.writeSegment(
        events.where(col("_txid").between(lo, hi)), f"$logDir/dc1/seg$i%05d")
    }
    events.unpersist()
    val batchMs = scala.collection.mutable.ArrayBuffer[Double]()
    val maxLogSize = new java.util.concurrent.atomic.AtomicInteger(0)
    var compactions = 0
    var checkpoints = 0
    var folded = 0L
    var consolidated = 0L
    // commit-metric counters polled per batch via onBatch (the log is
    // checkpoint-TRUNCATED during the run, so a post-hoc walk would
    // only see the retained window; per-batch polling sees every
    // commit except the rare ones rolled up within their own batch —
    // the counts are honest lower bounds)
    var maxSeen = seedVersion
    val ckptVersions = scala.collection.mutable.Set[String]()
    val onBatch: (Long, graft.cdc.ApplyStats) => Unit = { (ms, stats) =>
      batchMs += ms.toDouble
      val log = table.log()
      maxLogSize.getAndUpdate(m => math.max(m, log.names.size))
      val fresh = log.commits.filter(_.version > maxSeen)
      compactions += fresh.count(_.metrics.contains("compaction"))
      folded += fresh.map(_.metrics.getOrElse("foldedBuckets", 0L)).sum
      consolidated += fresh.map(_.metrics.getOrElse("consolidatedBuckets", 0L)).sum
      maxSeen = fresh.lastOption.map(_.version).getOrElse(maxSeen)
      // rollup files are themselves rolled up later; count DISTINCT
      // checkpoint versions ever observed
      ckptVersions ++= log.names.filter(_.endsWith(".ckpt.json"))
    }
    val t0 = System.nanoTime()
    // aggressive maintenance knobs so the run crosses SEVERAL
    // compaction and log-checkpoint cycles (the thing being soaked)
    CdcStream.start(spark, s"$logDir/dc1", table, s"$workDir/ckpt",
      maxFilesPerTrigger = 1,
      autoCompactMinDeletes = (nEvents / 40).max(1000L),
      logCheckpointEvery = 24, onBatch = onBatch).awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    checkpoints = ckptVersions.size
    val lastLogSize = table.commitLogSize
    val dataDirs = {
      val d = java.nio.file.Paths.get(table.location, "data")
      if (java.nio.file.Files.isDirectory(d)) {
        val s = java.nio.file.Files.list(d)
        try s.count().toInt finally s.close()
      } else 0
    }
    val thirds = batchMs.grouped(math.max(1, batchMs.size / 3)).toSeq.take(3)
    val thirdStats = thirds.map(t =>
      f"""{"p50":${pct(t.toSeq, 0.5)}%.0f,"p95":${pct(t.toSeq, 0.95)}%.0f,"n":${t.size}}""")
    // final-state integrity: the soak must end exactly where a pure
    // replay of the full event set (seed bulk + tailed segments) would
    val allEvents = Corpus.changeEvents(spark, nEvents,
      nConvs = (nEvents / 200).toInt.max(1000), maxTurns = 40,
      partitions = cpus * 2)
    val oracle = Corpus.oracleFinalState(allEvents)
      .select("conv_id", "turn_idx", "text")
    val got = table.read(spark).select("conv_id", "turn_idx", "text")
    val mismatch = got.exceptAll(oracle).count() + oracle.exceptAll(got).count()
    println(s"""{"soak_events":$nEvents,"segments":$nSegments,""" +
      s""""state_match":${mismatch == 0L},""" +
      f""""wall_secs":$wall%.1f,"batches_applied":${batchMs.size},""" +
      s""""batch_ms_thirds":[${thirdStats.mkString(",")}],""" +
      s""""compactions":$compactions,"ckpt_rollups":$checkpoints,""" +
      s""""folded_bucket_commits":$folded,"consolidated_bucket_commits":$consolidated,""" +
      s""""max_commit_log_files":${maxLogSize.get},""" +
      s""""final_commit_log_files":$lastLogSize,"final_data_dirs":$dataDirs}""")
    spark.stop()
  }
}
