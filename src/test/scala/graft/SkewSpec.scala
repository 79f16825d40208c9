package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.cdc.CdcApply
import graft.model.Corpus
import graft.table.LakeTable

/** North-rule skew mandate (SURVEY.md §4.1, hard part (d)): a hot
  * conversation must not serialize its bucket into one task. The salted
  * repartition key is (bucket, hash(conv,turn) % salt), so a bucket
  * dominated by one conversation still fans out across salt groups —
  * observable as multiple part files per hot bucket dir. */
class SkewSpec extends SparkSpec {

  /** Corpus where one conversation receives ~half of all events. */
  private def hotCorpus(n: Long) = {
    val base = Corpus.changeEvents(spark, n, nConvs = 30, maxTurns = 500)
    base.withColumn("conv_id",
      when(pmod(col("_txid"), lit(2L)) === 0L, lit("convHOT"))
        .otherwise(col("conv_id")))
  }

  private def partFiles(table: LakeTable, bucket: Int): Int = {
    val c = table.currentCommit().get
    val dir = Paths.get(table.location).resolve(c.buckets(bucket.toString))
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    } finally s.close()
  }

  test("salted repartition spreads a hot conversation across tasks; unsalted serializes it") {
    val events = hotCorpus(20000)
    val hotBucket = spark.range(1)
      .select(pmod(xxhash64(lit("convHOT")), lit(8L)).cast("int"))
      .head().getInt(0)

    // the salt lives in the FOLD class's resolve — a delta append has
    // no key-based shuffle for a hot key to skew — so apply the batch
    // without facts, which folds every touched bucket
    val salted = new LakeTable(tmpDir("skew-salted"), numBuckets = 8)
    CdcApply.applyBatch(spark, salted, events, saltBuckets = 8,
      pruneBuckets = false)
    val unsalted = new LakeTable(tmpDir("skew-unsalted"), numBuckets = 8)
    CdcApply.applyBatch(spark, unsalted, events, saltBuckets = 1,
      pruneBuckets = false)

    val spread = partFiles(salted, hotBucket)
    val serial = partFiles(unsalted, hotBucket)
    assert(spread > 1, s"salt failed to spread the hot bucket ($spread file)")
    assert(serial == 1, s"unsalted control should serialize ($serial files)")

    // and the salt changes only the layout, never the state
    assertSameRows(
      salted.read(spark).select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
      unsalted.read(spark).select("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    assertSameRows(
      salted.read(spark).select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
      Corpus.oracleFinalState(events))
  }

  test("a known batch's winners collapse per bucket: a pre-scanned 600k-event first load writes its hot bucket as one file") {
    // the trade-off of choosing the plan from the batch's facts, never
    // its size: the salt lives in the FOLD resolve only, and a batch the
    // apply pre-scans takes the DELTA class (on an empty table its
    // winners are the bases), so its hot bucket resolves in one task
    // and one file however large the batch
    val events = hotCorpus(600000)
    val hotBucket = spark.range(1)
      .select(pmod(xxhash64(lit("convHOT")), lit(8L)).cast("int"))
      .head().getInt(0)
    val table = new LakeTable(tmpDir("skew-known"), numBuckets = 8)
    CdcApply.applyBatch(spark, table, events, saltBuckets = 8)
    assert(table.currentCommit().get.metrics("consolidatedBuckets") == 0L)
    assert(partFiles(table, hotBucket) == 1,
      s"a pre-scanned load's hot bucket wrote ${partFiles(table, hotBucket)} files")
    assertSameRows(
      table.read(spark).select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
      Corpus.oracleFinalState(events))
  }
}
