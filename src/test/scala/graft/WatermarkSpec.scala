package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.cdc.CdcApply
import graft.model.Corpus
import graft.streaming.CdcStream
import graft.table.LakeTable

/** The commit's txidWatermark bounds every stored row's _txid, and the
  * apply skips its per-key version gate exactly when a batch's txid
  * floor (every event carries a non-null _txid ≥ it) is above that
  * bound. */
class WatermarkSpec extends SparkSpec {

  private def finalPayload(t: LakeTable) =
    t.read(spark).select("conv_id", "turn_idx", "role", "text", "tool", "ts")

  private def gateFlags(t: LakeTable): Seq[Long] =
    t.commitLog().map(_.metrics.getOrElse("versionGate", -1L))

  test("every stored _txid stays at or below the watermark: apply, compact, rebucket, rename, redrive, checkpointLog") {
    val table = new LakeTable(tmpDir("wm-invariant"), numBuckets = 8)
    val events = Corpus.changeEvents(spark, 3000, nConvs = 40, maxTurns = 8)
    def holds(step: String): Unit = {
      val wm = table.currentCommit().get.txidWatermark
      val top = table.readRaw(spark).agg(max(col("_txid"))).head()
      assert(!top.isNullAt(0), s"after $step: no stored _txid")
      assert(top.getLong(0) <= wm, s"after $step: stored _txid ${top.getLong(0)} > watermark $wm")
    }
    CdcApply.applyBatch(spark, table, events.where(col("_txid") <= 2000))
    holds("first apply")
    CdcApply.applyBatch(spark, table,
      events.where(col("_txid") > 2000 && col("_txid") <= 2500))
    holds("in-order apply")
    CdcApply.applyBatch(spark, table,
      events.where(col("_txid") > 1800 && col("_txid") <= 2800))
    holds("overlapping apply")
    table.compact(spark, tombstoneHorizon = table.txidWatermark - 100)
    holds("compact")
    table.rebucket(spark, 16)
    holds("rebucket")
    table.renameColumn("tool", "tool_name")
    holds("renameColumn")
    // a quarantined batch with one late and one new event
    val qid = "qid-wm"
    val qdir = Paths.get(s"${table.location}/_quarantine/$qid/batch-3")
    Files.createDirectories(qdir)
    def line(tx: Long, conv: String) = {
      val raw = s"""{\\"_txid\\":$tx,\\"conv_id\\":\\"$conv\\",\\"turn_idx\\":0,\\"text\\":\\"redriven\\"}"""
      s"""{"raw":"$raw","_origin_dc":"dc0","_origin_file":"f0"}"""
    }
    Files.writeString(qdir.resolve("part-0.json"),
      Seq(line(5, "conv00000001"), line(3001, "convREDRIVE")).mkString("", "\n", "\n"))
    val r = CdcStream.redrive(spark, table, qid, 3L)
    assert(r.applied == 2L && r.remaining == 0L)
    assert(table.txidWatermark == 3001L)
    holds("redrive")
    table.checkpointLog()
    holds("checkpointLog")
  }

  test("a batch that lacks a _txid, or whose string _txid only looks newer, keeps the gate") {
    import spark.implicits._
    val table = new LakeTable(tmpDir("wm-floor"), numBuckets = 4)
    def ev(tx: Option[String], conv: String, text: String) =
      (tx, "update", s"e-$conv-$text", conv, 0, text)
    def batch(rows: (Option[String], String, String, String, Int, String)*) =
      rows.toDF("_txid", "_op", "_etag", "conv_id", "turn_idx", "text")
    CdcApply.applyBatch(spark, table,
      batch(ev(Some("8"), "convA", "a8"), ev(Some("9"), "convB", "b9")))
    assert(table.txidWatermark == 9L && gateFlags(table) == Seq(0L))
    def text(conv: String) = table.read(spark).where(col("conv_id") === conv)
      .select("text").collect().map(_.getString(0)).toSeq
    // "10" < "9" as strings: a lexical min would put the floor at 10,
    // above the watermark, and let the tie on convB through
    val s1 = CdcApply.applyBatch(spark, table,
      batch(ev(Some("10"), "convC", "c10"), ev(Some("9"), "convB", "b9-tie")))
    assert(s1.applied == 1L && text("convB") == Seq("b9") && text("convC") == Seq("c10"))
    // one event without a _txid voids the floor
    val s2 = CdcApply.applyBatch(spark, table,
      batch(ev(None, "convA", "a-null"), ev(Some("11"), "convD", "d11")))
    assert(s2.applied == 1L && text("convA") == Seq("a8") && text("convD") == Seq("d11"))
    assert(gateFlags(table) == Seq(0L, 1L, 1L))
    // strictly newer: the gate is skipped
    CdcApply.applyBatch(spark, table, batch(ev(Some("12"), "convA", "a12")))
    assert(text("convA") == Seq("a12") && gateFlags(table).last == 0L)
  }

  test("an in-order stream tail skips the gate; an overlapping segment runs it") {
    val events = Corpus.changeEvents(spark, 2000, nConvs = 40, maxTurns = 8)
    val dir = tmpDir("wm-stream-log")
    val table = new LakeTable(tmpDir("wm-stream-table"), numBuckets = 8)
    val ckpt = tmpDir("wm-stream-ckpt")
    // one runOnce per segment, so the arrival order is the list's order
    Seq((1L, 700L), (701L, 1400L), (1401L, 1800L), (1301L, 2000L)).zipWithIndex
      .foreach { case ((lo, hi), i) =>
        CdcStream.writeSegment(
          Corpus.shuffled(events.where(col("_txid") >= lo && col("_txid") <= hi)),
          s"$dir/chunk$i")
        CdcStream.runOnce(spark, s"$dir/chunk*", table, ckpt, maxFilesPerTrigger = 1)
      }
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
    assert(gateFlags(table) == Seq(0L, 0L, 0L, 1L), s"versionGate per commit: ${gateFlags(table)}")
    assert(table.txidWatermark == 2000L)
  }
}
