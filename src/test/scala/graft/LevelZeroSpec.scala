package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc.CdcApply
import graft.model.Corpus
import graft.table.LakeTable

/** Level 0 of the delta stacks: a delta-only apply writes its dir flat,
  * one file per write task shared by several buckets, and each bucket's
  * stack entry names the file holding its rows. A bucket consolidated
  * or folded since leaves stale rows in a file another bucket still
  * lists; no read, vacuum or changelog may see them or lose the file. */
class LevelZeroSpec extends SparkSpec {

  private val ts = java.sql.Timestamp.valueOf("2014-03-12 00:00:00")

  private def patch(rows: (Long, String, String)*): DataFrame = {
    import spark.implicits._
    rows.map { case (txid, conv, text) =>
      (txid, "update", s"e$txid", conv, 0, "user", text, null: String, ts)
    }.toDF("_txid", "_op", "_etag", "conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  /** A 4-bucket table with a base, then ONE delta apply patching
    * (conv, 0) of two convs in different buckets, whose entries name
    * the same level-0 file. Returns (table, (bucket, conv) of each). */
  private def sharedFile(name: String) = {
    val table = new LakeTable(tmpDir(name), numBuckets = 4)
    CdcApply.applyBatch(spark, table,
      Corpus.changeEvents(spark, 2000, nConvs = 40, maxTurns = 8))
    def bucketOf(conv: String) =
      spark.range(1).select(table.bucketCol(lit(conv))).head.getInt(0)
    val convs = (0 until 40).map(i => f"conv$i%08d")
    val x = convs.head
    val y = convs.find(c => bucketOf(c) != bucketOf(x)).get
    CdcApply.applyBatch(spark, table, patch((100001L, x, "x1"), (100001L, y, "y1")))
    val c = table.currentCommit().get
    val (bx, by) = (bucketOf(x), bucketOf(y))
    assert(c.metrics("deltaCommit") == 1L)
    assert(c.deltas(bx.toString) == c.deltas(by.toString) &&
      c.deltas(bx.toString).head.endsWith(".parquet"),
      s"the two buckets do not share one file: ${c.deltas}")
    (table, (bx, x), (by, y))
  }

  /** The patched rows (txid above the base's) a read returns, by text. */
  private def patched(df: DataFrame): Seq[String] =
    df.where(col("_txid") > 100000L).select("text").collect().map(_.getString(0)).toSeq.sorted

  /** Each read of the two buckets returns exactly each one's own rows. */
  private def assertOwnRows(table: LakeTable, bx: Int, by: Int,
      xDeltas: Seq[String], xLatest: String, yRow: String): Unit = {
    // the delta stacks alone: what a consolidation reads
    def deltaStacks(buckets: Seq[Int]) = table.readCommit(spark, table.currentCommit().get,
      buckets, resolve = false, includeBase = false)
    assert(patched(deltaStacks(Seq(bx, by))) == (xDeltas :+ yRow).sorted)
    assert(patched(deltaStacks(Seq(by))) == Seq(yRow))
    assert(patched(table.readBuckets(spark, Seq(bx, by), resolve = false)) ==
      (xDeltas ++ Seq(xLatest, yRow)).distinct.sorted)
    assert(patched(table.readBuckets(spark, Seq(bx, by))) == Seq(xLatest, yRow).sorted)
    assert(patched(table.readBuckets(spark, Seq(bx))) == Seq(xLatest))
  }

  test("a bucket consolidated or folded out of a shared level-0 file reads no stale row") {
    val (table, (bx, x), (by, _)) = sharedFile("l0-shared")
    val shared = table.currentCommit().get.deltas(by.toString)
    // x's bucket stacks a second delta, then consolidates at the cap
    CdcApply.applyBatch(spark, table, patch((100002L, x, "x2")), maxDeltaDepth = 2)
    CdcApply.applyBatch(spark, table, patch((100003L, x, "x3")), maxDeltaDepth = 2)
    val cons = table.currentCommit().get
    assert(cons.metrics("consolidatedBuckets") == 1L && cons.deltaDepthOf(bx) == 1)
    assert(cons.deltas(by.toString) == shared && !cons.deltas(bx.toString).contains(shared.head))
    // the shared file still holds x1: only y's rows may be read from it
    assertOwnRows(table, bx, by, xDeltas = Seq("x3"), xLatest = "x3", yRow = "y1")
    // then x's bucket folds: its stack is gone, the file still shared
    CdcApply.applyBatch(spark, table, patch((100004L, x, "x4")), maxDeltaDepth = 1,
      foldRatio = 0.0)
    val fold = table.currentCommit().get
    assert(fold.metrics("foldedBuckets") == 1L && fold.deltaDepthOf(bx) == 0)
    assert(fold.deltas(by.toString) == shared)
    assertOwnRows(table, bx, by, xDeltas = Nil, xLatest = "x4", yRow = "y1")
  }

  test("vacuum keeps a level-0 dir while a retained commit lists one of its files, then refuses it by name") {
    val (table, (_, x), (by, y)) = sharedFile("l0-vacuum")
    val sharedDir = table.currentCommit().get.deltas(by.toString).head.split("/")(1)
    CdcApply.applyBatch(spark, table, patch((100002L, x, "x2")), maxDeltaDepth = 1)
    val cons = table.currentCommit().get
    assert(cons.metrics("consolidatedBuckets") == 1L)
    assert(!table.vacuum(retainCommits = 1).contains(sharedDir))
    assert(Files.isDirectory(Paths.get(table.location, "data", sharedDir)))
    assert(patched(table.readBuckets(spark, Seq(by))) == Seq("y1"))
    // y's bucket consolidates too: no retained commit lists the dir
    CdcApply.applyBatch(spark, table, patch((100003L, y, "y2")), maxDeltaDepth = 1)
    assert(!table.vacuum(retainCommits = 2).contains(sharedDir))
    assert(table.vacuum(retainCommits = 1).contains(sharedDir))
    assert(!Files.exists(Paths.get(table.location, "data", sharedDir)))
    // a snapshot that listed the file now refuses by name
    val e = intercept[IllegalArgumentException](table.readVersion(spark, cons.version))
    assert(e.getMessage.contains(sharedDir), e.getMessage)
    // and the rolled-up log still reads the level-0 entries
    table.checkpointLog()
    assert(table.commitLog().size == 1)
    assert(patched(table.read(spark)) == Seq("x2", "y2"))
  }

  test("readVersion and changesBetween across level-0 deltas equal the partitioned answer") {
    val events = Corpus.changeEvents(spark, 2500, nConvs = 200, maxTurns = 8)
    // the same batches onto a table whose every apply folds (each
    // commit a `_bucket=N` base) and one that stacks level-0 entries on
    // a base, consolidates them at a cap of 2 and folds the last batch
    val flat = new LakeTable(tmpDir("l0-flat"), numBuckets = 8)
    val based = new LakeTable(tmpDir("l0-based"), numBuckets = 8)
    val ranges = (0L, 2000L) +: (0 until 5).map(i => (2000L + i * 100, 2100L + i * 100))
    ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
      val batch = events.where(col("_txid") > lo && col("_txid") <= hi)
      CdcApply.applyBatch(spark, flat, batch, maxDeltaDepth = 2,
        foldRatio = if (i == ranges.size - 1) 0.0 else CdcApply.FoldToBaseRatio)
      CdcApply.applyBatch(spark, based, batch, maxDeltaDepth = 0)
    }
    val log = flat.commitLog()
    assert(log.map(_.version) == based.commitLog().map(_.version))
    assert(log.exists(_.metrics("consolidatedBuckets") > 0) &&
      log.last.metrics("foldedBuckets") > 0 && log.exists(_.deltaFiles.exists(LakeTable.isFlat)))
    assert(based.commitLog().forall(_.deltas.isEmpty))
    val vs = log.map(_.version)
    vs.foreach(v => assertSameRows(flat.readVersion(spark, v), based.readVersion(spark, v)))
    ((0L +: vs).zip(vs) :+ (vs.head -> vs.last)).foreach { case (a, b) =>
      assertSameRows(flat.changesBetween(spark, a, b), based.changesBetween(spark, a, b))
    }
  }
}
