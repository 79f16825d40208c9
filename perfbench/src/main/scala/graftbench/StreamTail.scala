package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.cdc.ApplyStats
import graft.model.Corpus
import graft.streaming.CdcStream
import graft.table.LakeTable

/** Open-loop tail of NDJSON change segments into a 64-bucket table.
  *
  * Set-up: write a seeded corpus as NDJSON with `CdcStream.writeSegment`,
  * cut it into a seed segment and txid-ordered tail segments (a few
  * malformed lines and, from the middle on, one novel field injected),
  * and tail the seed plus the first segments into the empty table. Run: a generator thread moves one segment into the tailed
  * directory every `intervalMs`, whatever the engine is doing; the
  * main thread tails the directory on one checkpoint (`CdcStream.start`
  * + `awaitTermination`, i.e. `runOnce` with an `onBatch` callback)
  * whenever released segments are not yet applied. A segment's lag runs
  * from its due time to the `onBatch` whose txid watermark covers the
  * segment's highest `_txid`. After the last segment is applied, a
  * closed-loop read mix runs on the tailed table: point lookups of the
  * hot and of cold conversations (`readBuckets` on the key's bucket plus
  * a filter), a full `read` with an aggregate and a `changesBetween` over
  * the last two commits, each fully materialized. */
final class StreamTail(ctx: Ctx) {
  import ctx.{spark, trace}

  private val intervalMs = 100L
  private val linesPerSegment = 100
  private val warmSegments = 2
  private val measured = ctx.seconds * 1000 / intervalMs.toInt
  private val nSegments = warmSegments + measured
  private val seedEvents = 10000L
  // the corpus re-emits every 37th txid, so lines outnumber txids
  private val totalEvents = seedEvents + nSegments * linesPerSegment * 37L / 38
  private val nConvs = 1000
  private val malformedEvery = 8
  private val novelFrom = nSegments / 2
  private val setupReps = 2
  private val lookups = 12
  private val tableReads = 1

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private case class Prepared(dir: Path, table: LakeTable, staged: IndexedSeq[Path],
      segMaxTx: IndexedSeq[Long], malformed: Int)

  private def logDir(dir: Path): Path = dir.resolve("log").resolve("dc1")
  private def checkpoint(dir: Path): String = dir.resolve("checkpoint").toString

  private val txidRe = "\"_txid\":(\\d+)".r

  private def corpus() =
    Corpus.changeEvents(spark, totalEvents, nConvs = nConvs, maxTurns = 40,
      seed = ctx.seed, partitions = ctx.cores * 2)

  /** One set-up into its own directory: the corpus as one txid-ordered
    * NDJSON file, cut into a seed segment (the first `seedEvents` txids)
    * and the tail's segments; then one trigger applies the seed and the
    * warm-up segments to the empty table, which also warms the tail path
    * (stream start, schema inference, apply) outside the measured window. */
  private def setUp(rep: Int): Prepared = {
    val dir = ctx.root.resolve(s"setup$rep")
    val all = dir.resolve("all")
    CdcStream.writeSegment(corpus().orderBy("_txid"), all.toString)
    val part = Files.list(all).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    val lines = Files.readAllLines(part).asScala.toIndexedSeq
    ctx.deleteTree(all)
    def txid(l: String) = txidRe.findFirstMatchIn(l).get.group(1).toLong
    val (seed, tail) = lines.span(l => txid(l) <= seedEvents)
    val staged = dir.resolve("staged")
    Files.createDirectories(staged)
    Files.createDirectories(logDir(dir))
    val seedFile = staged.resolve("seed.json")
    Files.write(seedFile, (seed.mkString("\n") + "\n").getBytes("UTF-8"))
    val per = math.ceil(tail.size.toDouble / nSegments).toInt
    var malformed = 0
    val segs = tail.grouped(per).zipWithIndex.map { case (seg, i) =>
      val body = ArrayBuffer.from(
        if (i < novelFrom) seg
        else seg.map(l => l.stripSuffix("}") + s""","origin_host":"host-${i % 3}"}"""))
      if (i % malformedEvery == malformedEvery / 2) {
        // a line cut short by a crashed producer: unparseable under any schema
        body.insert(body.size / 2, body(body.size / 2).take(40))
        malformed += 1
      }
      val p = staged.resolve(f"seg-$i%05d.json")
      Files.write(p, (body.mkString("\n") + "\n").getBytes("UTF-8"))
      (p, seg.map(txid).max)
    }.toIndexedSeq

    val table = new LakeTable(dir.resolve("table").toString, numBuckets = 64)
    release(dir, seedFile)
    segs.take(warmSegments).foreach { case (p, _) => release(dir, p) }
    CdcStream.runOnce(spark, logDir(dir).getParent.toString, table, checkpoint(dir))
    Prepared(dir, table, segs.map(_._1), segs.map(_._2), malformed)
  }

  private val lastMtime = new AtomicLong(0L)

  /** Publish a staged segment into the tailed directory. The file source
    * orders new files by modification time, so each gets a strictly
    * later one than the previous. */
  private def release(dir: Path, staged: Path): Unit = {
    val target = logDir(dir).resolve(staged.getFileName)
    Files.move(staged, target, StandardCopyOption.ATOMIC_MOVE)
    val mt = lastMtime.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))
    Files.setLastModifiedTime(target, FileTime.fromMillis(mt))
  }

  def run(): Map[String, Any] = {
    var prepared: Prepared = null
    val setupTimes = (0 until setupReps).map { rep =>
      val t0 = System.nanoTime()
      prepared = setUp(rep)
      val s = secs(t0)
      ctx.note(f"set-up $rep: $s%.2f s")
      if (rep < setupReps - 1) ctx.deleteTree(prepared.dir)
      s
    }
    ctx.sampleLoad("setup")
    val Prepared(dir, table, staged, segMaxTx, malformed) = prepared

    val dueNs = new Array[Long](nSegments)
    val releasedNs = new Array[Long](nSegments)
    val coveredNs = new Array[Long](nSegments)
    val released = new AtomicInteger(warmSegments)
    val covered = new AtomicInteger(warmSegments)
    val batches = ArrayBuffer.empty[(Long, Long, ApplyStats)] // (endNs, ms, stats)
    val triggers = ArrayBuffer.empty[(Long, Long, Int)] // (startNs, endNs, batches)
    var logFilesMax = table.commitLogSize
    var lastTwo = (table.currentCommit().get, table.currentCommit().get)
    // the log is checkpoint-truncated as the tail runs, so a traced run
    // collects each new commit when its batch reports
    val startVersion = table.currentCommit().get.version
    val commits = scala.collection.mutable.TreeMap.empty[Long, graft.table.Commit]

    val onBatch: (Long, ApplyStats) => Unit = { (ms, stats) =>
      val now = System.nanoTime()
      batches.synchronized { batches += ((now, ms, stats)) }
      var c = covered.get
      while (c < nSegments && c < released.get && segMaxTx(c) <= stats.txidWatermark) {
        coveredNs(c) = now
        c += 1
      }
      covered.set(c)
      logFilesMax = math.max(logFilesMax, table.commitLogSize)
      lastTwo = (lastTwo._2, table.currentCommit().get)
      if (ctx.traced) table.commitLog().filter(_.version > startVersion)
        .foreach(c => commits(c.version) = c)
    }

    val g0 = ctx.probe.map(_.gauges())
    val cpu0 = SparkProbe.processCpuNs()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime() + 50L * 1000000L
    (warmSegments until nSegments).foreach(i =>
      dueNs(i) = t0 + (i - warmSegments) * intervalMs * 1000000L)
    val generator = new Thread(() => {
      (warmSegments until nSegments).foreach { i =>
        val wait = dueNs(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        release(dir, staged(i))
        releasedNs(i) = System.nanoTime()
        released.set(i + 1)
      }
    }, "graftbench-generator")
    generator.setDaemon(true)
    generator.start()

    val deadline = t0 + (ctx.seconds + 90L) * 1000000000L
    while (covered.get < nSegments && System.nanoTime() < deadline) {
      if (covered.get < released.get) {
        val nBefore = batches.synchronized(batches.size)
        val s0 = System.nanoTime()
        trace.span("streaming.runOnce") {
          CdcStream.start(spark, logDir(dir).getParent.toString, table, checkpoint(dir),
            maxFilesPerTrigger = 64, logCheckpointEvery = 4,
            onBatch = onBatch).awaitTermination()
        }
        val s1 = System.nanoTime()
        val n = batches.synchronized(batches.size) - nBefore
        triggers += ((s0, s1, n))
        if (ctx.traced) {
          val parent = trace.all.last.id
          batches.synchronized(batches.takeRight(n).toList).foreach { case (end, ms, _) =>
            trace.record("cdc.microBatch", parent, end - ms * 1000000L, end)
          }
        }
        ctx.attempted += 1
      } else Thread.sleep(1)
    }
    generator.join(5000)
    val endNs = System.nanoTime()
    val w1 = System.currentTimeMillis()
    val cpuS = (SparkProbe.processCpuNs() - cpu0) / 1e9
    val g1 = ctx.probe.map(_.gauges())
    ctx.sampleLoad("tail")

    val lagMs = (warmSegments until nSegments).filter(i => coveredNs(i) > 0)
      .map(i => (coveredNs(i) - dueNs(i)) / 1e6)
    val uncovered = nSegments - covered.get
    ctx.attempted += measured
    if (uncovered > 0) ctx.fail("segments", s"$uncovered segments never applied")
    val lateMs = (warmSegments until nSegments).filter(i => releasedNs(i) > 0)
      .map(i => (releasedNs(i) - dueNs(i)) / 1e6)

    val reads = new ReadMix(ctx, table)
    val events = corpus()
    reads.run(events, lastTwo, lookups, tableReads)
    ctx.sampleLoad("reads")

    // correctness, outside the measured windows
    val oracle = Corpus.oracleFinalState(events).select("conv_id", "turn_idx", "text")
    val got = table.read(spark).select("conv_id", "turn_idx", "text")
    val mismatch = got.exceptAll(oracle).count() + oracle.exceptAll(got).count()
    ctx.attempted += 1
    if (mismatch != 0) ctx.fail("final_state", s"$mismatch rows differ from Corpus.oracleFinalState")
    val quarantined = quarantinedRows(table)
    ctx.attempted += 1
    if (quarantined != malformed)
      ctx.fail("quarantine", s"$quarantined quarantined rows, $malformed malformed lines injected")
    ctx.sampleLoad("check")

    val trigMs = triggers.toSeq.map { case (a, b, _) => (b - a) / 1e6 }
    val busyS = trigMs.sum / 1000
    val bs = batches.toSeq
    val applied = bs.map(_._3.applied).sum
    // a trigger's batches are the n callbacks it saw, in order
    val batchSums = {
      val it = bs.iterator
      triggers.toSeq.map { case (_, _, n) => it.take(n).map(_._2.toDouble).sum }
    }
    val runS = (endNs - t0) / 1e9
    val e2e = Map(
      "setup_s" -> Stats.median(setupTimes),
      "lag_p50_ms" -> Stats.percentile(lagMs, 0.5),
      "lag_p90_ms" -> Stats.percentile(lagMs, 0.9),
      "work_s" -> busyS,
      "cpu_s" -> cpuS,
      "peak_rss_mb" -> ctx.peakRssMb())
    val details = Map(
      "lag_samples" -> lagMs.size,
      "offered_events_per_s" -> linesPerSegment * 1000.0 / intervalMs,
      "steady_events_per_s" -> applied / math.max(busyS, 1e-9),
      "cpu_s_per_mevent" -> cpuS / math.max(applied / 1e6, 1e-9),
      "generator_late_ms_max" -> (if (lateMs.isEmpty) 0.0 else lateMs.max),
      "triggers" -> triggers.size, "micro_batches" -> bs.size,
      "setup_s_reps" -> setupTimes, "segments" -> measured,
      "malformed_lines" -> malformed) ++ reads.details

    val layers = ctx.probe.map { p =>
      p.drain()
      val batchWins = bs.map { case (end, ms, _) =>
        val endMs = w0 + (end - t0) / 1000000L + 50L
        p.window(endMs - ms, endMs)
      }
      Map(
        "stream.trigger_ms" -> Stats.median(trigMs),
        "stream.start_overhead_ms" -> Stats.median(
          trigMs.zip(batchSums).map { case (t, b) => t - b }),
        "stream.batch_ms" -> Stats.median(bs.map(_._2.toDouble)),
        "stream.events_per_batch" -> Stats.median(bs.map(_._3.applied.toDouble)),
        "stream.quarantined_rows" -> quarantined.toDouble,
        "stream.idle_frac" -> (1.0 - busyS / runS),
        "table.commit_log_files_max" -> logFilesMax.toDouble) ++
        Layers.cdc(bs.map(_._2.toDouble), batchWins,
          measured.toLong * linesPerSegment, applied, commits.values.toSeq) ++ reads.layers(p) ++
        Layers.spark(p, w0, w1, g0.get, g1.get, ctx.cores, units = triggers.size.toDouble)
    }.getOrElse(Map.empty)
    Result(ctx, e2e, details, layers)
  }

  private def quarantinedRows(table: LakeTable): Long = {
    val q = java.nio.file.Paths.get(table.location, "_quarantine")
    if (!Files.isDirectory(q)) 0L
    else {
      val s = Files.walk(q)
      try s.iterator().asScala.filter(p => p.getFileName.toString.startsWith("part-"))
        .map(p => Files.readAllLines(p).asScala.count(_.trim.nonEmpty).toLong).sum
      finally s.close()
    }
  }
}
