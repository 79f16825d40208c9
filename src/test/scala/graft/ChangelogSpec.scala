package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc.CdcApply
import graft.model.Corpus
import graft.table.LakeTable

/** Incremental changelog read (LakeTable.changesBetween) — the table
  * as a CDC *producer*: net insert/update/delete rows between two
  * retained snapshots, metadata-pruned to the buckets the range's
  * commits touched.
  */
class ChangelogSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, String, String, Int, String)*): DataFrame =
    rows.map { case (txid, op, conv, turn, text) =>
      (txid, op, s"e$txid", conv, turn,
        if (op == "delete") null else "user",
        if (op == "delete") null else text,
        null: String, java.sql.Timestamp.valueOf("2014-03-12 00:00:00"))
    }.toDF("_txid", "_op", "_etag", "conv_id", "turn_idx", "role", "text", "tool", "ts")

  private def version(t: LakeTable): Long = t.currentCommit().get.version

  private def changeMap(df: DataFrame): Map[(String, Int), (String, String)] =
    df.select("conv_id", "turn_idx", "_change_type", "text").collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getString(2), if (r.isNullAt(3)) null else r.getString(3))).toMap

  test("insert/update/delete classification with pre-image deletes") {
    val t = new LakeTable(tmpDir("cdf"), numBuckets = 4)
    CdcApply.applyBatch(spark, t, ev(
      (1L, "insert", "c1", 0, "a1"),
      (2L, "insert", "c2", 0, "a2"),
      (3L, "insert", "c3", 0, "a3")))
    val v1 = version(t)
    CdcApply.applyBatch(spark, t, ev(
      (4L, "update", "c2", 0, "b2"),
      (5L, "delete", "c3", 0, ""),
      (6L, "insert", "c4", 0, "a4")))
    val v2 = version(t)

    val got = changeMap(t.changesBetween(spark, v1, v2))
    assert(got == Map(
      ("c2", 0) -> ("update", "b2"),   // post-image
      ("c3", 0) -> ("delete", "a3"),   // PRE-image survives the tombstone
      ("c4", 0) -> ("insert", "a4")))
    // unchanged c1 emitted nothing; delete rows carry the pre-image envelope
    val del = t.changesBetween(spark, v1, v2)
      .where(col("_change_type") === "delete").collect()
    assert(del.map(r => r.getAs[Long]("_txid")).toSeq == Seq(3L))

    // fromVersion 0 = bootstrap: every live row at v2 is an insert
    val boot = changeMap(t.changesBetween(spark, 0L, v2))
    assert(boot == Map(
      ("c1", 0) -> ("insert", "a1"),
      ("c2", 0) -> ("insert", "b2"),
      ("c4", 0) -> ("insert", "a4")))
  }

  test("a key created and deleted inside the range nets out to nothing") {
    val t = new LakeTable(tmpDir("cdf-net"), numBuckets = 4)
    CdcApply.applyBatch(spark, t, ev((1L, "insert", "c1", 0, "a1")))
    val v1 = version(t)
    CdcApply.applyBatch(spark, t, ev((2L, "insert", "c9", 0, "x")))
    CdcApply.applyBatch(spark, t, ev((3L, "delete", "c9", 0, "")))
    val v3 = version(t)
    assert(t.changesBetween(spark, v1, v3).count() == 0)
  }

  test("maintenance-only commits (consolidate, compact, rename) emit no changes") {
    val events = Corpus.changeEvents(spark, 2000, nConvs = 40, maxTurns = 8)
    val t = new LakeTable(tmpDir("cdf-maint"), numBuckets = 4)
    CdcApply.applyBatch(spark, t, events)
    def patch(txid: Long) = ev((txid, "update", "conv00000001", 0, s"p$txid"))
    // force a consolidation (stack cap 2), then a standalone compaction
    CdcApply.applyBatch(spark, t, patch(100001), maxDeltaDepth = 2)
    CdcApply.applyBatch(spark, t, patch(100002), maxDeltaDepth = 2)
    CdcApply.applyBatch(spark, t, patch(100003), maxDeltaDepth = 2)
    val vPatched = version(t)
    val compacted = t.compact(spark, tombstoneHorizon = Long.MaxValue)
    assert(compacted.nonEmpty, "compaction expected a commit")
    t.renameColumn("text", "body")
    val vAfter = version(t)
    assert(vAfter > vPatched)
    // physical rewrites + a rename, zero logical change
    assert(t.changesBetween(spark, vPatched, vAfter).count() == 0)
    // and across the whole patched range the column surfaces under the
    // CURRENT name with the latest post-image
    val ch = t.changesBetween(spark, vPatched - 3, vAfter)
    assert(ch.columns.contains("body") && !ch.columns.contains("text"))
    val row = ch.where(col("conv_id") === "conv00000001" && col("turn_idx") === 0)
      .select("_change_type", "body").collect()
    assert(row.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("update", "p100003")))
  }

  test("scan is pruned to the buckets the range touched") {
    val events = Corpus.changeEvents(spark, 2000, nConvs = 40, maxTurns = 8)
    val t = new LakeTable(tmpDir("cdf-prune"), numBuckets = 8)
    CdcApply.applyBatch(spark, t, events)
    val v1 = version(t)
    CdcApply.applyBatch(spark, t, ev((100001L, "update", "conv00000001", 0, "zz")))
    val v2 = version(t)
    val bucket = spark.range(1)
      .select(pmod(xxhash64(lit("conv00000001")), lit(8L)).cast("int"))
      .head().getInt(0)
    val ch = t.changesBetween(spark, v1, v2)
    val files = ch.inputFiles.map(f => java.nio.file.Paths.get(new java.net.URI(f)))
    // every file the diff reads is one the endpoints list under the bucket
    val listed = Seq(v1, v2).map(v => t.commitLog().find(_.version == v).get).flatMap(c =>
        c.buckets.get(bucket.toString) ++ c.deltas.getOrElse(bucket.toString, Nil))
      .flatMap(rel => LakeTable.parquetParts(java.nio.file.Paths.get(t.location, rel).toAbsolutePath))
      .toSet
    assert(files.nonEmpty)
    assert(files.forall(listed), s"read outside bucket $bucket: " +
      files.filterNot(listed).take(3).mkString(", "))
    assert(changeMap(ch) == Map(("conv00000001", 0) -> ("update", "zz")))
  }

  test("image-pair form: an update emits pre- and post-image rows") {
    val t = new LakeTable(tmpDir("cdf-pairs"), numBuckets = 4)
    CdcApply.applyBatch(spark, t, ev(
      (1L, "insert", "c1", 0, "old"), (2L, "insert", "c2", 0, "keep")))
    val v1 = version(t)
    CdcApply.applyBatch(spark, t, ev(
      (3L, "update", "c1", 0, "new"),
      (4L, "delete", "c2", 0, ""),
      (5L, "insert", "c3", 0, "born")))
    val got = t.changesBetween(spark, v1, version(t), imagePairs = true)
      .select("conv_id", "_change_type", "text", "_txid").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      ("c1", "update_preimage", "old", 1L),
      ("c1", "update_postimage", "new", 3L),
      ("c2", "delete", "keep", 2L),
      ("c3", "insert", "born", 5L)))
  }

  test("payload columns with hostile names (present, __n) don't break the diff") {
    import spark.implicits._
    def e(txid: Long, conv: String, v: String) =
      Seq((txid, "update", s"e$txid", conv, 0))
        .toDF("_txid", "_op", "_etag", "conv_id", "turn_idx")
        .withColumn("present", lit(v)).withColumn("__n", lit(v))
    val t = new LakeTable(tmpDir("cdf-hostile"), numBuckets = 4)
    CdcApply.applyBatch(spark, t, e(1, "c1", "x"))
    val v1 = version(t)
    CdcApply.applyBatch(spark, t, e(2, "c1", "y"))
    val r = t.changesBetween(spark, v1, version(t))
      .select("conv_id", "_change_type", "present", "__n").collect()
      .map(x => (x.getString(0), x.getString(1), x.getString(2), x.getString(3)))
    assert(r.toSeq == Seq(("c1", "update", "y", "y")))
  }

  test("refuses rolled-up or invalid ranges explicitly") {
    val t = new LakeTable(tmpDir("cdf-refuse"), numBuckets = 4)
    CdcApply.applyBatch(spark, t, ev((1L, "insert", "c1", 0, "a1")))
    CdcApply.applyBatch(spark, t, ev((2L, "update", "c1", 0, "a2")))
    val v2 = version(t)
    intercept[IllegalArgumentException](t.changesBetween(spark, v2, v2))
    CdcApply.applyBatch(spark, t, ev((3L, "update", "c1", 0, "a3")))
    t.checkpointLog() // rolls up history: v1/v2 commits no longer retained
    intercept[IllegalArgumentException](t.changesBetween(spark, 1L, v2 + 1))
  }
}
