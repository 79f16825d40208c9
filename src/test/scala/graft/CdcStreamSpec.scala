package graft

import org.apache.spark.sql.functions._

import graft.model.Corpus
import graft.streaming.CdcStream
import graft.table.LakeTable

class CdcStreamSpec extends SparkSpec {

  /** Write the changelog as NDJSON files in txid-ordered chunks
    * (each chunk = one "WAL segment"); rows inside a chunk arrive
    * out of order. */
  private def writeChangelog(dir: String, events: org.apache.spark.sql.DataFrame,
      chunks: Seq[(Long, Long)]): Unit =
    chunks.zipWithIndex.foreach { case ((lo, hi), i) =>
      CdcStream.writeSegment(
        Corpus.shuffled(events.where(col("_txid") >= lo && col("_txid") <= hi)),
        s"$dir/chunk$i")
    }

  private def finalPayload(t: LakeTable) =
    t.read(spark).select("conv_id", "turn_idx", "role", "text", "tool", "ts")

  test("streaming tail applies the whole changelog and matches the oracle") {
    val events = Corpus.changeEvents(spark, 2000, nConvs = 40, maxTurns = 8)
    val dir = tmpDir("stream-log")
    writeChangelog(dir, events, Seq((1L, 700L), (701L, 1400L), (1401L, 2000L)))
    val table = new LakeTable(tmpDir("stream-table"), numBuckets = 16)
    CdcStream.runOnce(spark, s"$dir/chunk*", table, tmpDir("stream-ckpt"),
      maxFilesPerTrigger = 1)
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
  }

  test("long stream crosses consolidation and fold cycles; depth stays bounded") {
    // a preloaded table takes 24 single-segment micro-batches against
    // the default depth cap (8): stacks cross the cap ≥2 times, so the
    // stream must exercise CONSOLIDATE (stack small vs base) and later
    // FOLD (accumulated churn) transparently, converging to the oracle
    // sized so the FIRST cap cycle's stacks are small vs the base
    // (consolidate) and accumulated churn later crosses the 0.5x ratio
    // (fold): base ~475 rows/bucket, ~16 delta rows/bucket/batch
    val events = Corpus.changeEvents(spark, 15000, nConvs = 200, maxTurns = 20)
    val table = new LakeTable(tmpDir("longstream-table"), numBuckets = 8)
    graft.cdc.CdcApply.applyBatch(spark, table,
      events.where(col("_txid") <= 12000L), pruneBuckets = false)
    val dir = tmpDir("longstream-log")
    val step = 125L
    writeChangelog(dir, events, (0 until 24).map { i =>
      (12001L + i * step, 12000L + (i + 1) * step)
    })
    CdcStream.runOnce(spark, s"$dir/chunk*", table, tmpDir("longstream-ckpt"),
      maxFilesPerTrigger = 1)
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
    val log = table.commitLog()
    assert(log.exists(_.metrics.getOrElse("consolidatedBuckets", 0L) > 0L),
      "no consolidation happened across 24 capped micro-batches")
    assert(log.forall(_.deltaDepth <= graft.cdc.CdcApply.MaxDeltaDepth),
      s"depth cap violated: ${log.map(_.deltaDepth)}")
  }

  test("checkpoint resume: stop mid-stream, add segments, resume — identical final state") {
    val events = Corpus.changeEvents(spark, 3000, nConvs = 60, maxTurns = 10)
    val logDir = tmpDir("resume-log")
    val ckpt = tmpDir("resume-ckpt")
    val table = new LakeTable(tmpDir("resume-table"), numBuckets = 16)
    // phase 1: only the first two segments exist
    writeChangelog(logDir, events, Seq((1L, 1000L), (1001L, 2000L)))
    CdcStream.runOnce(spark, s"$logDir/chunk*", table, ckpt, maxFilesPerTrigger = 1)
    val midState = table.read(spark).count()
    assert(midState > 0)
    assert(table.txidWatermark == 2000L)
    // phase 2: a new segment arrives; resume from the same checkpoint
    writeChangelog(logDir, events, Seq((1L, 1000L), (1001L, 2000L), (2001L, 3000L)))
    CdcStream.runOnce(spark, s"$logDir/chunk*", table, ckpt, maxFilesPerTrigger = 1)
    assert(table.txidWatermark == 3000L)
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
  }

  test("a commit refused by a concurrent compaction stops the tail; the next start replays the batch") {
    val events = Corpus.changeEvents(spark, 2000, nConvs = 40, maxTurns = 8)
    val logDir = tmpDir("refused-log")
    val ckpt = tmpDir("refused-ckpt")
    val table = new LakeTable(tmpDir("refused-table"), numBuckets = 8)
    writeChangelog(logDir, events, Seq((1L, 1000L)))
    CdcStream.runOnce(spark, s"$logDir/chunk*", table, ckpt)
    CdcStream.writeSegment(Corpus.shuffled(events.where(col("_txid") > 1000L)), s"$logDir/chunk1")
    // a maintenance job lands a compaction between the tail's read of
    // the table and its publish
    val compactor = new LakeTable(table.location, numBuckets = 8)
    table.testBeforePublish = () => compactor.compact(spark, tombstoneHorizon = 0L)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      CdcStream.runOnce(spark, s"$logDir/chunk*", table, ckpt))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.util.ConcurrentModificationException]), e)
    assert(table.currentCommit().get.metrics.contains("compaction"))
    assert(table.txidWatermark == 1000L)
    // the checkpoint replays the unacknowledged batch onto the compacted
    // snapshot
    CdcStream.runOnce(spark, s"$logDir/chunk*", table, ckpt)
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
    val batches = table.commitLog().filter(_.batchId >= 0).groupBy(c => (c.queryId, c.batchId))
    assert(batches.keySet.map(_._2) == Set(0L, 1L) && batches.values.forall(_.size == 1),
      s"commits per (queryId, batchId): ${batches.map { case (k, cs) => k -> cs.size }}")
    val head = table.currentCommit().get
    val top = table.readRaw(spark).agg(max(col("_txid"))).head().getLong(0)
    assert(head.txidWatermark == 2000L && top <= head.txidWatermark,
      s"stored _txid $top, watermark ${head.txidWatermark}")
  }

  test("a checkpoint without readable stream metadata has no identity: queryIdFor names the file") {
    val ckpt = tmpDir("noid-ckpt")
    val meta = java.nio.file.Paths.get(ckpt, "metadata")
    val missing = intercept[IllegalStateException](CdcStream.queryIdFor(ckpt))
    assert(missing.getMessage.contains(meta.toString), missing.getMessage)
    java.nio.file.Files.writeString(meta, "{\"id\":")
    val damaged = intercept[IllegalStateException](CdcStream.queryIdFor(ckpt))
    assert(damaged.getMessage.contains(meta.toString), damaged.getMessage)
  }

  test("crash replay: re-running with a FRESH checkpoint over the same files is a no-op") {
    val events = Corpus.changeEvents(spark, 1000, nConvs = 30, maxTurns = 6)
    val logDir = tmpDir("crash-log")
    writeChangelog(logDir, events, Seq((1L, 1000L)))
    val table = new LakeTable(tmpDir("crash-table"), numBuckets = 8)
    CdcStream.runOnce(spark, s"$logDir/chunk*", table, tmpDir("crash-ckpt1"))
    val v1 = table.currentCommit().get.version
    // lost checkpoint = worst-case at-least-once replay of everything;
    // the txid watermark makes it a no-op
    CdcStream.runOnce(spark, s"$logDir/chunk*", table, tmpDir("crash-ckpt2"))
    assert(table.txidWatermark == 1000L)
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
    assert(table.read(spark).count() == Corpus.oracleFinalState(events).count())
    assert(table.currentCommit().get.version == v1) // no new data commits
  }

  test("ingest metrics: one lag/lineage line per applied micro-batch") {
    val events = Corpus.changeEvents(spark, 600, nConvs = 20, maxTurns = 6)
    val logDir = tmpDir("metrics-log")
    writeChangelog(logDir, events, Seq((1L, 300L), (301L, 600L)))
    val table = new LakeTable(tmpDir("metrics-table"), numBuckets = 8)
    CdcStream.runOnce(spark, s"$logDir/chunk*", table, tmpDir("metrics-ckpt"),
      maxFilesPerTrigger = 1)
    val lines = graft.streaming.IngestMetrics.read(table.location)
    assert(lines.size == 2, s"expected 2 metric lines, got: $lines")
    assert(lines.forall(l => l.contains("\"ingestLagMs\":") &&
      l.contains("\"bucketsTouched\":") && l.contains("\"applied\":")))
  }

  test("lineage: per-datacenter origin counts ride into the commit metrics") {
    val events = Corpus.changeEvents(spark, 900, nConvs = 20, maxTurns = 6)
    val logDir = tmpDir("lineage-log")
    // multi-DC layout: <changelogDir>/<dc>/segment (reference P6,
    // lib/moraydump_reorg.js:179-192 — origin_datacenter/origin_file)
    CdcStream.writeSegment(events.where(col("_txid") <= 450), s"$logDir/dcA/seg0")
    CdcStream.writeSegment(events.where(col("_txid") > 450), s"$logDir/dcB/seg0")
    val table = new LakeTable(tmpDir("lineage-table"), numBuckets = 8)
    CdcStream.runOnce(spark, logDir, table, tmpDir("lineage-ckpt"),
      maxFilesPerTrigger = 16)
    val metrics = table.commitLog().flatMap(_.metrics)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    // lineage counts RAW changelog lines per DC (incl. duplicate-txid
    // re-emissions — provenance is about what arrived, not what won)
    val expectA = events.where(col("_txid") <= 450).count()
    val expectB = events.where(col("_txid") > 450).count()
    assert(metrics.getOrElse("dc:dcA", 0L) == expectA, s"metrics: $metrics")
    assert(metrics.getOrElse("dc:dcB", 0L) == expectB, s"metrics: $metrics")
    assert(metrics.getOrElse("originFiles", 0L) >= 2L, s"metrics: $metrics")
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
  }

  test("new checkpoint over an existing table must not drop its batch 0 (queryId scope)") {
    val e1 = Corpus.changeEvents(spark, 500, nConvs = 20, maxTurns = 6)
    val log1 = tmpDir("qid-log1")
    writeChangelog(log1, e1, Seq((1L, 500L)))
    val table = new LakeTable(tmpDir("qid-table"), numBuckets = 8)
    CdcStream.runOnce(spark, s"$log1/chunk*", table, tmpDir("qid-ckpt1"))
    assert(table.txidWatermark == 500L)
    // a SECOND stream (fresh checkpoint → its batch ids restart at 0)
    // carries genuinely new events; a bare-batchId idempotence check
    // would silently skip them
    import spark.implicits._
    val e2 = e1.withColumn("_txid", col("_txid") + 1000L)
      .withColumn("text", concat(lit("v2 "), coalesce(col("text"), lit(""))))
    val log2 = tmpDir("qid-log2")
    writeChangelog(log2, e2, Seq((1001L, 1500L)))
    CdcStream.runOnce(spark, s"$log2/chunk*", table, tmpDir("qid-ckpt2"))
    assert(table.txidWatermark == 1500L,
      s"second stream's batch 0 was dropped (watermark ${table.txidWatermark})")
  }

  test("wiped-and-recreated checkpoint at the SAME path must not skip new batches") {
    val e1 = Corpus.changeEvents(spark, 500, nConvs = 20, maxTurns = 6)
    val logDir = tmpDir("wipe-log")
    writeChangelog(logDir, e1, Seq((1L, 500L)))
    val table = new LakeTable(tmpDir("wipe-table"), numBuckets = 8)
    val ckpt = tmpDir("wipe-ckpt")
    CdcStream.runOnce(spark, s"$logDir/chunk*", table, ckpt)
    assert(table.txidWatermark == 500L)
    // operator "reprocess" action: wipe the checkpoint, keep its PATH.
    // The recreated stream's batch ids restart at 0 — if the stream
    // identity were derived from the path alone, batch 0 (which now
    // carries genuinely NEW events) would collide with the old run's
    // batch 0 commit and be silently dropped.
    LakeTable.deleteRecursively(java.nio.file.Paths.get(ckpt))
    val e2 = e1.withColumn("_txid", col("_txid") + 1000L)
      .withColumn("text", concat(lit("v2 "), coalesce(col("text"), lit(""))))
    writeChangelog(logDir, e2, Seq((1L, 500L), (1001L, 1500L)))
    CdcStream.runOnce(spark, s"$logDir/chunk*", table, ckpt)
    assert(table.txidWatermark == 1500L,
      s"recreated checkpoint's batches were dropped (watermark ${table.txidWatermark})")
  }

  test("auto-compaction: heavy deletes trigger a fold; lateness-bounded tombstones survive") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2014-03-11 00:00:01")
    def ev(txid: Long, op: String, conv: String, text: String) =
      (txid, op, s"e$txid", conv, 0,
        if (op == "delete") null else "user",
        if (op == "delete") null else text,
        null: String, if (op == "delete") null else ts)
    val cols = Seq("_txid", "_op", "_etag", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val inserts = (0 until 500).map(i => ev(i + 1L, "update", s"c$i", s"t$i")).toDF(cols: _*)
    val deletes = (0 until 400).map(i => ev(1000L + i, "delete", s"c$i", "")).toDF(cols: _*)
    val logDir = tmpDir("compact-log")
    CdcStream.writeSegment(inserts, s"$logDir/seg0")
    CdcStream.writeSegment(deletes, s"$logDir/seg1")
    val table = new LakeTable(tmpDir("compact-table"), numBuckets = 8)
    val ckpt = tmpDir("compact-ckpt")
    // tombstoneLag 200: horizon = 1399 - 200 = 1199 → delete tombstones
    // with txid ≥ 1199 must survive the compaction, older ones drop
    CdcStream.start(spark, s"$logDir/seg*", table, ckpt, maxFilesPerTrigger = 1,
      autoCompactMinDeletes = 100L, tombstoneLag = 200L).awaitTermination()
    assert(table.commitLog().exists(_.metrics.contains("compaction")),
      "heavy deletes did not trigger auto-compaction")
    val physical = table.readRaw(spark).count()
    // 100 live + ~200 kept tombstones, vs 900 physical rows uncompacted
    assert(physical < 400, s"compaction did not shrink the table: $physical rows")
    assert(table.read(spark).count() == 100)
    // resurrection safety: c300's delete (txid 1300 ≥ horizon) kept its
    // tombstone — a stale update older than the delete must stay dead
    val stale = Seq(ev(1299L, "update", "c300", "stale")).toDF(cols: _*)
    CdcStream.writeSegment(stale, s"$logDir/seg2")
    CdcStream.runOnce(spark, s"$logDir/seg*", table, ckpt)
    assert(table.read(spark).where($"conv_id" === "c300").count() == 0,
      "stale update resurrected a tombstoned key after compaction")
  }

  test("type drift mid-stream: payload column widens int → double via corrupt-row detection") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2014-03-11 00:00:01")
    val cols = Seq("_txid", "_op", "_etag", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val e1 = (0 until 50).map(i =>
        (i + 1L, "update", s"e$i", s"c$i", 0, "user", s"t$i", null: String, ts))
      .toDF(cols: _*).withColumn("score", lit(7))
    val e2 = (0 until 50).map(i =>
        (100L + i, "update", s"f$i", s"d$i", 0, "user", s"u$i", null: String, ts))
      .toDF(cols: _*).withColumn("score", lit(2.5))
    val logDir = tmpDir("drift-log")
    CdcStream.writeSegment(e1, s"$logDir/seg0")
    val table = new LakeTable(tmpDir("drift-table"), numBuckets = 8)
    val ckpt = tmpDir("drift-ckpt")
    CdcStream.runOnce(spark, s"$logDir/seg*", table, ckpt)
    assert(table.currentCommit().get.schema("score").dataType ==
      org.apache.spark.sql.types.LongType) // JSON integers infer as long
    CdcStream.writeSegment(e2, s"$logDir/seg1")
    CdcStream.runOnce(spark, s"$logDir/seg*", table, ckpt)
    assert(table.currentCommit().get.schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType,
      s"drifted column not widened: ${table.currentCommit().get.schema("score")}")
    val scores = table.read(spark).select("conv_id", "score")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(scores("c1") == 7.0 && scores("d1") == 2.5)
    assert(table.read(spark).count() == 100)
  }

  test("nested drift: a novel subfield inside a struct payload column is detected") {
    // early segments: payload column `meta` is a struct with one key;
    // late segments add meta.b — NOT a novel top-level key and NOT a
    // corrupt row under the cached schema (from_json would silently
    // drop it), so only the recursive novel-key arm can catch it. On
    // detection the column degrades via the promotion lattice to
    // varchar (raw JSON text), so the novel subfield's DATA survives.
    val spark0 = spark
    import spark0.implicits._
    val early = (1 to 40).map { i =>
      s"""{"_txid":$i,"_op":"upsert","_etag":"e$i","conv_id":"c${i % 5}","turn_idx":${i / 5},"role":"user","text":"t$i","meta":{"a":$i}}"""
    }
    val late = (41 to 80).map { i =>
      s"""{"_txid":$i,"_op":"upsert","_etag":"e$i","conv_id":"c${i % 5}","turn_idx":${i / 5},"role":"user","text":"t$i","meta":{"a":$i,"b":"nv$i"}}"""
    }
    val logDir = tmpDir("nested-log")
    early.toDF("value").coalesce(1).write.mode("overwrite").text(s"$logDir/chunk0")
    late.toDF("value").coalesce(1).write.mode("overwrite").text(s"$logDir/chunk1")
    val table = new LakeTable(tmpDir("nested-table"), numBuckets = 8)
    val ckpt = tmpDir("nested-ckpt")
    CdcStream.runOnce(spark, s"$logDir/chunk0", table, ckpt)
    val metaType0 = table.currentCommit().get.schema("meta").dataType
    assert(metaType0.isInstanceOf[org.apache.spark.sql.types.StructType])
    CdcStream.runOnce(spark, s"$logDir/chunk*", table, ckpt)
    // drift detected → re-inference → struct vs wider struct conflicts
    // promote to varchar; the subfield values are present in the text
    val rows = table.read(spark).where(col("_txid") >= 41)
      .select(col("meta").cast("string")).as[String].collect()
    assert(rows.nonEmpty && rows.forall(_.contains("nv")),
      s"novel nested values lost: ${rows.take(3).mkString("; ")}")
  }

  test("schema evolution arrives mid-stream: tool column absorbed from late segments") {
    // corpus: tool is null before the evolve point → NDJSON omits the
    // key entirely → early segments genuinely lack the field
    val events = Corpus.changeEvents(spark, 2000, nConvs = 40, maxTurns = 8,
      evolveFrac = 0.5)
    val logDir = tmpDir("evo-log")
    writeChangelog(logDir, events, Seq((1L, 999L), (1000L, 2000L)))
    val table = new LakeTable(tmpDir("evo-table"), numBuckets = 8)
    val ckpt = tmpDir("evo-ckpt")
    CdcStream.runOnce(spark, s"$logDir/chunk0", table, ckpt)
    assert(!table.currentCommit().get.schema.fieldNames.contains("tool"))
    CdcStream.runOnce(spark, s"$logDir/chunk*", table, ckpt)
    assert(table.currentCommit().get.schema.fieldNames.contains("tool"))
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
  }

  test("malformed lines are quarantined with lineage, not silently dropped") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val events = Corpus.changeEvents(spark, 500, nConvs = 10, maxTurns = 4)
    val dir = tmpDir("dlq-log")
    writeChangelog(dir, events, Seq((1L, 500L)))
    // a garbage file inside the same segment dir: the micro-batch
    // mixes clean and corrupt rows (in-place edits would break the
    // hadoop .crc sidecars — a fresh file has none)
    val part = Paths.get(s"$dir/chunk0/zz-bad.json")
    Files.writeString(part, "{broken json!!\nnot json either\n")
    val table = new LakeTable(tmpDir("dlq-table"), numBuckets = 8)
    CdcStream.runOnce(spark, s"$dir/chunk*", table, tmpDir("dlq-ckpt"))
    // the clean rows applied exactly as if the garbage never existed
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
    // …and the garbage is preserved with its lineage, and counted
    // (one dir level per stream identity, then per batch)
    val q = spark.read.json(s"${table.location}/_quarantine/*/*")
    val rows = q.select("raw", "_origin_file").collect()
    assert(rows.map(_.getString(0)).toSet ==
      Set("{broken json!!", "not json either"))
    assert(rows.forall(r => r.getString(1) ==
      part.getFileName.toString))
    assert(table.commitLog().exists(_.metrics.get("corruptRows").contains(2L)),
      "corruptRows metric missing from the commit log")
  }

  test("a non-numeric string _txid is quarantined, not fatal; redrive keeps it preserved") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val events = Corpus.changeEvents(spark, 400, nConvs = 10, maxTurns = 4)
    val dir = tmpDir("badtx-log")
    // every _txid a JSON string, so the stream infers the column as one
    CdcStream.writeSegment(
      Corpus.shuffled(events.withColumn("_txid", col("_txid").cast("string"))),
      s"$dir/chunk0")
    val bad = """{"_txid":"x","_op":"update","_etag":"ex",""" +
      """"conv_id":"conv00000001","turn_idx":0,"text":"bad"}"""
    Files.writeString(Paths.get(s"$dir/chunk0/zz-bad.json"), bad + "\n")
    val table = new LakeTable(tmpDir("badtx-table"), numBuckets = 8)
    val ckpt = tmpDir("badtx-ckpt")
    CdcStream.runOnce(spark, s"$dir/chunk*", table, ckpt)
    // every other row committed; the one line is preserved and counted
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
    val queryId = CdcStream.queryIdFor(ckpt)
    val qroot = Paths.get(s"${table.location}/_quarantine/$queryId")
    val batches = Files.list(qroot).iterator().asScala.map(_.getFileName.toString).toList
    assert(batches.size == 1, s"quarantined batches: $batches")
    assert(spark.read.json(qroot.resolve(batches.head).toString)
      .select("raw").collect().map(_.getString(0)).toSeq == Seq(bad))
    assert(table.commitLog().exists(_.metrics.get("corruptRows").contains(1L)))
    // fresh inference still reads that _txid as a string: the redrive
    // applies nothing and leaves the line in -remaining
    val batchId = batches.head.stripPrefix("batch-").toLong
    val r = CdcStream.redrive(spark, table, queryId, batchId)
    assert(r.applied == 0L && r.remaining == 1L)
    assert(spark.read.json(s"$qroot/batch-$batchId-remaining")
      .select("raw").collect().map(_.getString(0)).toSeq == Seq(bad))
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
  }

  test("a line without a merge key is quarantined, never upserted under a null key") {
    import java.nio.file.{Files, Paths}
    val events = Corpus.changeEvents(spark, 400, nConvs = 10, maxTurns = 4)
    val dir = tmpDir("keyless-log")
    writeChangelog(dir, events, Seq((1L, 400L)))
    // well-formed JSON, numeric and newest _txid, but no turn_idx
    val bad = """{"_txid":999999,"_op":"update","_etag":"ek",""" +
      """"conv_id":"conv00000001","role":"user","text":"keyless"}"""
    Files.writeString(Paths.get(s"$dir/chunk0/zz-keyless.json"), bad + "\n")
    val table = new LakeTable(tmpDir("keyless-table"), numBuckets = 8)
    CdcStream.runOnce(spark, s"$dir/chunk*", table, tmpDir("keyless-ckpt"))
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
    val q = spark.read.json(s"${table.location}/_quarantine/*/*")
    assert(q.select("raw").collect().map(_.getString(0)).toSeq == Seq(bad))
    assert(q.select("_origin_file").collect().map(_.getString(0)).toSeq ==
      Seq("zz-keyless.json"))
    assert(table.commitLog().exists(_.metrics.get("corruptRows").contains(1L)),
      "corruptRows metric missing from the commit log")
  }

  test("a batch with no inferable change-event schema is quarantined, not skipped") {
    import java.nio.file.{Files, Paths}
    val events = Corpus.changeEvents(spark, 400, nConvs = 10, maxTurns = 4)
    val dir = tmpDir("noschema-log")
    // the FIRST trigger reads only malformed lines: no `_txid` schema
    // can be inferred from it, and the checkpoint moves past it anyway
    val bad = Paths.get(s"$dir/chunk0/bad.json")
    Files.createDirectories(bad.getParent)
    Files.writeString(bad, "{broken json!!\nnot json either\n")
    Files.setLastModifiedTime(bad, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 60000L))
    CdcStream.writeSegment(Corpus.shuffled(events), s"$dir/chunk1")
    val table = new LakeTable(tmpDir("noschema-table"), numBuckets = 8)
    CdcStream.runOnce(spark, s"$dir/chunk*", table, tmpDir("noschema-ckpt"),
      maxFilesPerTrigger = 1)
    val q = spark.read.json(s"${table.location}/_quarantine/*/*")
    val rows = q.select("raw", "_origin_file").collect()
    assert(rows.length == 2, s"quarantined ${rows.length} rows")
    assert(rows.map(_.getString(0)).toSet == Set("{broken json!!", "not json either"))
    assert(rows.forall(_.getString(1) == "bad.json"))
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
  }

  test("quarantine redrive: merge-key type drift applied once fixed; garbage stays") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val events = Corpus.changeEvents(spark, 1200, nConvs = 25, maxTurns = 6)
    val clean = events.where(col("_txid") <= 800L)
    val drifted = events.where(col("_txid") > 800L)
    val dir = tmpDir("redrive-log")
    // segment 0: clean — the stream caches turn_idx as LONG
    writeChangelog(dir, clean, Seq((1L, 800L)))
    // segment 1: a buggy producer quotes turn_idx ("3" not 3). Merge
    // keys never evolve (structural), so the live stream must
    // quarantine every row of this batch rather than widen the key
    CdcStream.writeSegment(
      Corpus.shuffled(drifted.withColumn("turn_idx", col("turn_idx").cast("string"))),
      s"$dir/chunk1")
    // plus one truly malformed line in the same segment
    Files.writeString(Paths.get(s"$dir/chunk1/zz-garbage.json"), "{not json\n")

    val table = new LakeTable(tmpDir("redrive-table"), numBuckets = 8)
    val ckpt = tmpDir("redrive-ckpt")
    CdcStream.runOnce(spark, s"$dir/chunk*", table, ckpt, maxFilesPerTrigger = 1)
    // pre-redrive: only the clean prefix applied; drift preserved
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(clean))
    val queryId = CdcStream.queryIdFor(ckpt)
    val qroot = Paths.get(s"${table.location}/_quarantine/$queryId")
    // one quarantined batch per trigger file: the drifted segment and
    // the garbage file landed in separate micro-batches
    val batchIds = Files.list(qroot).iterator().asScala
      .map(_.getFileName.toString).filter(_.matches("batch-\\d+"))
      .map(_.stripPrefix("batch-").toLong).toList.sorted
    assert(batchIds.size == 2, s"expected two quarantined batches, got $batchIds")

    // redrive with today's knowledge: the quoted keys parse under fresh
    // inference and cast back to ints; the garbage line stays preserved
    val results = batchIds.map(b =>
      b -> CdcStream.redrive(spark, table, queryId, b)).toMap
    val nDrifted = drifted.count()
    assert(results.values.map(_.applied).sum == nDrifted,
      s"applied ${results.values.map(_.applied).sum} of $nDrifted")
    assert(results.values.map(_.remaining).sum == 1L)
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
    val (garbageBatch, _) = results.find(_._2.remaining == 1L).get
    batchIds.foreach { b =>
      assert(!Files.exists(qroot.resolve(s"batch-$b")),
        "original quarantine dir must be released after redrive")
    }
    val rem = spark.read.json(s"$qroot/batch-$garbageBatch-remaining")
    assert(rem.select("raw").collect().map(_.getString(0)).toSeq == Seq("{not json"))

    // a repeated redrive of the same batch must not double-apply: the
    // original dir is gone, and the apply landed under the derived
    // identity so even a manual re-apply is a recorded replay
    val (appliedBatch, _) = results.find(_._2.applied > 0).get
    assert(table.hasBatch(appliedBatch, s"$queryId-redrive"))
    intercept[IllegalArgumentException] {
      CdcStream.redrive(spark, table, queryId, appliedBatch)
    }
  }

  test("redrive survives payloads whose fields collide with the lineage columns") {
    import java.nio.file.{Files, Paths}
    // a quarantined payload may itself contain fields named raw /
    // _origin_dc / _origin_file; the e.* expansion used to collide with
    // the evidence columns and make the batch un-redrivable (advice r5)
    val table = new LakeTable(tmpDir("redrive-collide"), numBuckets = 4)
    val qid = "qid-collide"
    val qdir = Paths.get(s"${table.location}/_quarantine/$qid/batch-7")
    Files.createDirectories(qdir)
    val inner = """{\"_txid\":1,\"conv_id\":\"c1\",\"turn_idx\":0,""" +
      """\"raw\":\"inner\",\"_origin_dc\":\"payload-dc\",\"text\":\"hello\"}"""
    Files.writeString(qdir.resolve("part-0.json"),
      s"""{"raw":"$inner","_origin_dc":"dc0","_origin_file":"f0"}\n""")
    val r = CdcStream.redrive(spark, table, qid, 7L)
    assert(r.applied == 1L && r.remaining == 0L)
    val got = table.read(spark)
      .select("conv_id", "turn_idx", "text").collect()
    assert(got.length == 1 && got.head.getString(0) == "c1" &&
      got.head.getString(2) == "hello")
    assert(!Files.exists(qdir), "quarantine dir released after redrive")
  }

  /** Segment `i` as one NDJSON file, newer than segment i-1's: the
    * file source takes segments in order, one per trigger at
    * `maxFilesPerTrigger = 1`. */
  private def writeLines(dir: String, i: Int, lines: Seq[String]): Unit = {
    val f = java.nio.file.Paths.get(s"$dir/chunk$i/part-0.json")
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.writeString(f, lines.mkString("", "\n", "\n"))
    java.nio.file.Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 60000L + i * 1000L))
  }

  private def metaLine(i: Int, meta: String, extra: String = "") =
    s"""{"_txid":$i,"_op":"upsert","_etag":"e$i","conv_id":"c${i % 5}",""" +
      s""""turn_idx":${i / 5},"role":"user","text":"t$i","meta":$meta$extra}"""

  private def keptSchema(ckpt: String) =
    org.apache.spark.sql.types.DataType.fromJson(java.nio.file.Files.readString(
      CdcStream.schemaPath(ckpt))).asInstanceOf[org.apache.spark.sql.types.StructType]

  test("a restarted tail runs every query on the caller's session, so it keeps its compiled classes") {
    // every segment carries every field (no evolve point), so each
    // restart runs the same plans: the first compiles them, and later
    // restarts find them in the codegen cache only if they run on the
    // caller's session (one executor classloader), not on a per-query
    // clone of it. The cache is a bounded LRU split into segments, so
    // how many of them a restart still finds depends on how its keys
    // hash: the assertion is on the session, the count is reported
    val events = Corpus.changeEvents(spark, 2000, nConvs = 40, maxTurns = 8,
      evolveFrac = 0.0)
    val logDir = tmpDir("warm-log")
    val ckpt = tmpDir("warm-ckpt")
    val table = new LakeTable(tmpDir("warm-table"), numBuckets = 16)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    import scala.jdk.CollectionConverters._
    // every named query a restart runs, with the session it ran on
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        ran.add(funcName -> (qe.sparkSession eq spark))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit =
        ran.add(funcName -> (qe.sparkSession eq spark))
    }
    val perRestart = (0 until 4).map { i =>
      CdcStream.writeSegment(Corpus.shuffled(events.where(
        col("_txid") > i * 500L && col("_txid") <= (i + 1) * 500L)), s"$logDir/chunk$i")
      val before = compiles.getCount
      if (i == 3) spark.listenerManager.register(listener)
      try CdcStream.runOnce(spark, s"$logDir/chunk*", table, ckpt, maxFilesPerTrigger = 1)
      finally if (i == 3) {
        org.apache.spark.sql.graftshim.drainListeners(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
      compiles.getCount - before
    }
    assert(table.txidWatermark == 2000L)
    val queries = ran.asScala.toSeq
    // the summary's collect and the apply's write at least
    assert(Set("collect", "command").subsetOf(queries.map(_._1).toSet) && queries.forall(_._2),
      s"queries of the 4th restart (name, on the caller's session): $queries")
    info(s"classes compiled per restart: $perRestart")
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
  }

  test("a restart whose first batch carries a narrower struct keeps the table's struct") {
    val logDir = tmpDir("narrow-log")
    val ckpt = tmpDir("narrow-ckpt")
    val table = new LakeTable(tmpDir("narrow-table"), numBuckets = 8)
    val wide = (1 to 40).map(i => metaLine(i, s"""{"a":$i,"b":"x$i"}"""))
    val narrow = (41 to 80).map(i => metaLine(i, s"""{"a":$i}"""))
    val novel = (81 to 120).map(i =>
      metaLine(i, s"""{"a":$i,"b":"y$i"}""", s""","origin_host":"h$i""""))
    writeLines(logDir, 0, wide)
    CdcStream.runOnce(spark, s"$logDir/chunk*", table, ckpt, maxFilesPerTrigger = 1)
    val metaType = table.currentCommit().get.schema("meta").dataType
    assert(metaType.isInstanceOf[org.apache.spark.sql.types.StructType])
    val kept = keptSchema(ckpt)
    // the restart's first batch knows only meta.a: it parses under the
    // kept schema instead of inferring a narrower struct
    writeLines(logDir, 1, narrow)
    CdcStream.runOnce(spark, s"$logDir/chunk*", table, ckpt, maxFilesPerTrigger = 1)
    assert(table.txidWatermark == 80L)
    assert(table.currentCommit().get.schema("meta").dataType == metaType)
    assert(keptSchema(ckpt) == kept)
    // drift widens the kept schema by exactly the novel field
    writeLines(logDir, 2, novel)
    CdcStream.runOnce(spark, s"$logDir/chunk*", table, ckpt, maxFilesPerTrigger = 1)
    assert(table.currentCommit().get.schema("meta").dataType == metaType)
    assert(keptSchema(ckpt) == org.apache.spark.sql.types.StructType(kept.fields :+
      org.apache.spark.sql.types.StructField("origin_host",
        org.apache.spark.sql.types.StringType)))
    assert(table.read(spark).where(col("_txid") > 40 && col("_txid") <= 80)
      .where(col("meta.a").isNull || col("meta.b").isNotNull).count() == 0)
  }

  test("a truncated line re-infers nothing: a narrower struct batch keeps the table's struct") {
    val logDir = tmpDir("trunc-log")
    val table = new LakeTable(tmpDir("trunc-table"), numBuckets = 8)
    val truncated = metaLine(99, """{"a":99}""").take(40)
    writeLines(logDir, 0, (1 to 40).map(i => metaLine(i, s"""{"a":$i,"b":"x$i"}""")))
    writeLines(logDir, 1, (41 to 80).map(i => metaLine(i, s"""{"a":$i}""")) :+ truncated)
    CdcStream.runOnce(spark, s"$logDir/chunk*", table, tmpDir("trunc-ckpt"),
      maxFilesPerTrigger = 1)
    assert(table.txidWatermark == 80L)
    assert(table.currentCommit().get.schema("meta").dataType
      .isInstanceOf[org.apache.spark.sql.types.StructType],
      s"meta degraded to ${table.currentCommit().get.schema("meta").dataType}")
    val q = spark.read.json(s"${table.location}/_quarantine/*/*")
    assert(q.select("raw").collect().map(_.getString(0)).toSeq == Seq(truncated))
    assert(table.commitLog().exists(_.metrics.get("corruptRows").contains(1L)))
  }

  test("drift with a novel key keeps a struct whose values lack a subfield") {
    val logDir = tmpDir("drift-narrow-log")
    val ckpt = tmpDir("drift-narrow-ckpt")
    val table = new LakeTable(tmpDir("drift-narrow-table"), numBuckets = 8)
    writeLines(logDir, 0, (1 to 40).map(i => metaLine(i, s"""{"a":$i,"b":"x$i"}""")))
    CdcStream.runOnce(spark, s"$logDir/chunk*", table, ckpt, maxFilesPerTrigger = 1)
    val metaType = table.currentCommit().get.schema("meta").dataType
    assert(metaType.isInstanceOf[org.apache.spark.sql.types.StructType])
    // the novel key re-infers this batch's schema, whose meta lacks b
    writeLines(logDir, 1, (41 to 80).map(i =>
      metaLine(i, s"""{"a":$i}""", s""","origin_host":"h$i"""")))
    CdcStream.runOnce(spark, s"$logDir/chunk*", table, ckpt, maxFilesPerTrigger = 1)
    assert(table.txidWatermark == 80L)
    val schema = table.currentCommit().get.schema
    assert(schema("meta").dataType == metaType, s"meta became ${schema("meta").dataType}")
    assert(schema.fieldNames.contains("origin_host"))
    assert(table.read(spark).where(col("_txid") > 40).where(col("meta.a").isNull ||
      col("meta.b").isNotNull || col("origin_host").isNull).count() == 0)
  }
}
