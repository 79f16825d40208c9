package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.cdc.CdcApply
import graft.model.Corpus
import graft.table.LakeTable

class CdcApplySpec extends SparkSpec {

  private def corpus(n: Long) =
    Corpus.changeEvents(spark, n, nConvs = 50, maxTurns = 10)

  private def finalPayload(t: LakeTable) =
    t.read(spark).select("conv_id", "turn_idx", "role", "text", "tool", "ts")

  /** Every entry the head commit references holds exactly the rows its
    * counts say: a base dir its `rowCounts` less its tracked delta rows,
    * each delta entry its `deltaRowCounts` entry. A `_bucket=N` dir is
    * counted by its footers; a flat entry by its rows whose `_bucket`
    * column is the bucket, and a flat FILE entry holds all of the
    * bucket's rows its dir holds. */
  private def assertCountsMatchFooters(t: LakeTable): Unit = {
    val c = t.currentCommit().get
    def path(rel: String) = java.nio.file.Paths.get(t.location, rel)
    def footer(rel: String) = LakeTable.flatFooterRowCount(path(rel))
    def rowsOf(rel: String, b: Int) =
      spark.read.parquet(path(rel).toString).where(col("_bucket") === b).count()
    c.buckets.foreach { case (b, rel) =>
      assert(c.baseRowsOf(b.toInt).contains(footer(rel)),
        s"v${c.version} base $rel: counted ${c.baseRowsOf(b.toInt)}, footers ${footer(rel)}")
    }
    c.deltas.foreach { case (b, stack) =>
      assert(c.deltaRowCounts(b).size == stack.size, s"v${c.version} bucket $b")
      stack.zip(c.deltaRowCounts(b)).foreach { case (rel, n) =>
        val got = if (LakeTable.isFlat(rel)) rowsOf(rel, b.toInt) else footer(rel)
        assert(n == got, s"v${c.version} delta $rel of bucket $b: counted $n, holds $got")
        if (rel.endsWith(".parquet")) {
          val dir = rel.split("/").take(2).mkString("/")
          assert(rowsOf(dir, b.toInt) == n, s"v${c.version} bucket $b has rows outside $rel")
        }
      }
    }
  }

  test("single-batch replay matches the reference-semantics oracle") {
    val events = corpus(2000)
    val table = new LakeTable(tmpDir("single"), numBuckets = 16)
    val stats = CdcApply.applyBatch(spark, table, Corpus.shuffled(events))
    // `applied` counts effective per-key events: on an empty table every
    // distinct key's winner takes effect
    assert(stats.applied == events.select("conv_id", "turn_idx").distinct().count())
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
    // the bootstrap base is written once, one file per bucket — not
    // rewritten again by the (salted) fold branch
    val Seq(baseDir) = dataDirsOf(table, 1L)
    val base = java.nio.file.Paths.get(table.location, baseDir)
    def list(d: java.nio.file.Path) = {
      val s = java.nio.file.Files.list(d)
      try s.iterator().asScala.toList finally s.close()
    }
    val perBucket = list(base).filter(_.getFileName.toString.startsWith("_bucket="))
      .map(b => list(b).count(_.toString.endsWith(".parquet")))
    assert(perBucket.nonEmpty && perBucket.forall(_ == 1), s"files per bucket: $perBucket")
  }

  test("multi-batch incremental replay matches the oracle") {
    val events = corpus(3000)
    val table = new LakeTable(tmpDir("multi"), numBuckets = 16)
    CdcApply.replay(spark, table, events, nBatches = 5)
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
  }

  test("overlapping replay is idempotent (exactly-once via txid watermark)") {
    val events = corpus(1500)
    val b1 = events.where(col("_txid") <= 1000)
    val b2 = events.where(col("_txid") > 500) // overlaps 501..1000
    // the default (pre-scanned, gated delta) plan; the unpruned fold,
    // where a stored row must win every _txid tie; and a replay onto stacks at
    // the depth cap, which runs the consolidate and fold parts
    Seq("delta", "bulk", "capped").foreach { mode =>
      val prune = mode != "bulk"
      val table = new LakeTable(tmpDir(s"overlap-$mode"), numBuckets = 16)
      CdcApply.applyBatch(spark, table, b1, pruneBuckets = prune)
      CdcApply.applyBatch(spark, table, b2, pruneBuckets = prune)
      val (depth, ratio) =
        if (mode != "capped") (CdcApply.MaxDeltaDepth, CdcApply.FoldToBaseRatio)
        else {
          // b2's delta put every bucket it touched at a cap of 1; a fold
          // ratio between the stacks' smallest and largest share of
          // their bases folds some and consolidates the others
          val c = table.currentCommit().get
          val capped = c.deltas.keys.map(_.toInt).toSeq.filter(b => c.baseRowsOf(b).exists(_ > 0))
          val shares = capped.map(b => c.deltaRowsOf(b).get.toDouble / c.baseRowsOf(b).get)
          val r = (shares.min + shares.max) / 2
          def folds(b: Int) = c.deltaRowsOf(b).get >= (c.baseRowsOf(b).get * r).toLong
          assert(capped.exists(folds) && capped.exists(b => !folds(b)),
            s"replay must both fold and consolidate: shares $shares")
          (1, r)
        }
      val head = table.currentCommit().get.version
      def dataDirs = {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get(table.location, "data"))
        try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
      }
      val before = dataDirs
      // replay everything again — must be a no-op
      val s3 = CdcApply.applyBatch(spark, table, events, pruneBuckets = prune,
        maxDeltaDepth = depth, foldRatio = ratio)
      assert(s3.applied == 0, s"mode=$mode")
      assert(table.currentCommit().get.version == head,
        s"mode=$mode: a pure replay committed")
      assert(dataDirs == before,
        s"mode=$mode: replay left ${dataDirs -- before} behind")
      assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
    }
  }

  test("the within-batch collapse ranks a string _txid as a number: \"10\" beats \"9\"") {
    import spark.implicits._
    def batch(rows: (String, String, String)*) =
      rows.map { case (tx, conv, text) => (tx, "update", s"e$tx", conv, 0, text) }
        .toDF("_txid", "_op", "_etag", "conv_id", "turn_idx", "text")
    val pair = batch(("9", "convK", "t9"), ("10", "convK", "t10"))
    def stored(t: LakeTable) = t.read(spark).where(col("conv_id") === "convK")
      .select("_txid", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // an empty table: the pre-scanned winners are the bases
    val empty = new LakeTable(tmpDir("strtx-empty"), numBuckets = 4)
    CdcApply.applyBatch(spark, empty, pair)
    // stored rows below the batch's floor: a pre-scanned, ungated delta
    val delta = new LakeTable(tmpDir("strtx-delta"), numBuckets = 4)
    CdcApply.applyBatch(spark, delta, batch(("1", "convA", "a1")))
    CdcApply.applyBatch(spark, delta, pair)
    assert(delta.currentCommit().get.metrics("deltaCommit") == 1L)
    // no facts: the fold's resolve collapses the raw events
    val fold = new LakeTable(tmpDir("strtx-fold"), numBuckets = 4)
    CdcApply.applyBatch(spark, fold, batch(("1", "convA", "a1")))
    CdcApply.applyBatch(spark, fold, pair, pruneBuckets = false)
    val m = fold.currentCommit().get.metrics
    assert(m("foldedBuckets") == m("bucketsTouched"))
    Seq("empty" -> empty, "delta" -> delta, "fold" -> fold).foreach { case (name, t) =>
      assert(stored(t) == Seq((10L, "t10")), s"$name stored ${stored(t)}")
    }
  }

  test("replay of an empty changelog applies nothing and commits nothing") {
    val table = new LakeTable(tmpDir("empty-replay"), numBuckets = 8)
    val stats = CdcApply.replay(spark, table, corpus(100).where(lit(false)), nBatches = 3)
    assert(stats.isEmpty)
    assert(table.currentCommit().isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(table.location, "data")))
  }

  test("batchId replay short-circuits") {
    val events = corpus(500)
    val table = new LakeTable(tmpDir("batchid"), numBuckets = 8)
    CdcApply.applyBatch(spark, table, events, batchId = 7)
    val again = CdcApply.applyBatch(spark, table, events, batchId = 7)
    assert(again.skippedReplay)
  }

  test("schema evolution: tool column absent in early batches, widened later") {
    val events = corpus(2000)
    val early = events.where(col("_txid") <= 1000).drop("tool")
    val late = events.where(col("_txid") > 1000)
    val table = new LakeTable(tmpDir("evolve"), numBuckets = 16)
    val s1 = CdcApply.applyBatch(spark, table, early)
    assert(!table.currentCommit().get.schema.fieldNames.contains("tool"))
    CdcApply.applyBatch(spark, table, late)
    assert(table.currentCommit().get.schema.fieldNames.contains("tool"))
    assert(s1.version == 1)
    // oracle over the same effective input: early events had no tool
    val oracleInput = events.withColumn("tool",
      when(col("_txid") <= 1000, lit(null).cast("string")).otherwise(col("tool")))
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(oracleInput))
  }

  test("deletes remove keys; fully-deleted buckets drop out of the snapshot") {
    import spark.implicits._
    val ins = Seq(
      (1L, "update", "e1", "convA", 0, "user", "hello", null: String, java.sql.Timestamp.valueOf("2014-03-11 00:00:01")),
      (2L, "update", "e2", "convB", 0, "user", "world", null: String, java.sql.Timestamp.valueOf("2014-03-11 00:00:02")))
      .toDF("_txid", "_op", "_etag", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val del = Seq(
      (3L, "delete", "e3", "convA", 0, null: String, null: String, null: String, null: java.sql.Timestamp))
      .toDF("_txid", "_op", "_etag", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val table = new LakeTable(tmpDir("delete"), numBuckets = 4)
    CdcApply.applyBatch(spark, table, ins)
    CdcApply.applyBatch(spark, table, del)
    val rows = finalPayload(table).collect()
    assert(rows.length == 1 && rows.head.getString(0) == "convB")
  }

  test("duplicated txids within a batch collapse to one application") {
    val events = corpus(1000) // corpus re-emits every 37th txid verbatim
    assert(events.count() > events.select("_txid").distinct().count())
    val table = new LakeTable(tmpDir("dups"), numBuckets = 8)
    CdcApply.applyBatch(spark, table, events)
    val st = finalPayload(table)
    assert(st.groupBy("conv_id", "turn_idx").count()
      .where(col("count") > 1).count() == 0)
    assertSameRows(st, Corpus.oracleFinalState(events))
  }

  test("type promotion on evolution: int payload column widens to double, then to string") {
    import spark.implicits._
    def ev(txid: Long, conv: String, score: Any) = {
      val base = Seq((txid, "update", s"e$txid", conv, 0))
        .toDF("_txid", "_op", "_etag", "conv_id", "turn_idx")
      score match {
        case i: Int => base.withColumn("score", lit(i))
        case d: Double => base.withColumn("score", lit(d))
        case s: String => base.withColumn("score", lit(s))
      }
    }
    val table = new LakeTable(tmpDir("promote"), numBuckets = 4)
    CdcApply.applyBatch(spark, table, ev(1, "convA", 5))
    assert(table.currentCommit().get.schema("score").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // int + double → double (typeThatWins: real beats integer)
    CdcApply.applyBatch(spark, table, ev(2, "convB", 2.5))
    assert(table.currentCommit().get.schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    // + string → varchar absorbs everything
    CdcApply.applyBatch(spark, table, ev(3, "convC", "high"))
    assert(table.currentCommit().get.schema("score").dataType ==
      org.apache.spark.sql.types.StringType)
    val rows = table.read(spark).select("conv_id", "score")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // convA may render "5" or "5.0" depending on whether its bucket was
    // physically rewritten while the column was at the double stage —
    // both are the same value under the promotion lattice
    assert(rows("convA").toDouble == 5.0)
    assert(rows("convB") == "2.5" && rows("convC") == "high")
    assert(rows.size == 3)
  }

  test("out-of-order segments: applying newer txid ranges FIRST still converges") {
    val events = corpus(2000)
    val table = new LakeTable(tmpDir("ooo"), numBuckets = 16)
    // segments arrive 3,1,2 — per-key version gate must sort it out
    CdcApply.applyBatch(spark, table, events.where(col("_txid") > 1400))
    CdcApply.applyBatch(spark, table, events.where(col("_txid") <= 700))
    CdcApply.applyBatch(spark, table,
      events.where(col("_txid") > 700 && col("_txid") <= 1400))
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
  }

  test("stale update after newer delete cannot resurrect the key (tombstone)") {
    import spark.implicits._
    def ev(txid: Long, op: String, text: String) =
      Seq((txid, op, s"e$txid", "convX", 1,
        if (op == "delete") null else "user",
        if (op == "delete") null else text,
        null: String,
        if (op == "delete") null else java.sql.Timestamp.valueOf("2014-03-11 00:00:01")))
        .toDF("_txid", "_op", "_etag", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val table = new LakeTable(tmpDir("tomb"), numBuckets = 4)
    CdcApply.applyBatch(spark, table, ev(10, "update", "v10"))
    CdcApply.applyBatch(spark, table, ev(20, "delete", ""))
    // stale update (txid 15 < delete txid 20) arrives late
    val s = CdcApply.applyBatch(spark, table, ev(15, "update", "v15-stale"))
    assert(s.applied == 0)
    assert(finalPayload(table).count() == 0)
    // but a GENUINELY newer update revives it
    CdcApply.applyBatch(spark, table, ev(30, "update", "v30"))
    val rows = finalPayload(table).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("text") == "v30")
  }

  test("delta, broadcast-rewrite and bulk paths produce identical final state") {
    val events = corpus(2000)
    val segs = Seq(
      events.where(col("_txid") <= 700),
      events.where(col("_txid") > 700 && col("_txid") <= 1400),
      events.where(col("_txid") > 1400))
    val tA = new LakeTable(tmpDir("path-delta"), numBuckets = 16)
    val tB = new LakeTable(tmpDir("path-bulk"), numBuckets = 16)
    val tC = new LakeTable(tmpDir("path-bcast-rw"), numBuckets = 16)
    val tD = new LakeTable(tmpDir("path-bulk-onto-deltas"), numBuckets = 16)
    segs.zipWithIndex.foreach { case (s, i) =>
      CdcApply.applyBatch(spark, tA, s) // default: base then MoR deltas
      CdcApply.applyBatch(spark, tB, s, pruneBuckets = false) // bulk
      CdcApply.applyBatch(spark, tC, s, maxDeltaDepth = 0) // pre-scanned, all fold
      // base + a delta stack, then a bulk merge onto the stack
      if (i < 2) CdcApply.applyBatch(spark, tD, s)
      else {
        assert(tD.currentCommit().get.deltaFiles.nonEmpty)
        CdcApply.applyBatch(spark, tD, s, pruneBuckets = false)
      }
    }
    assert(tA.currentCommit().get.metrics("deltaCommit") == 1L)
    assert(tA.currentCommit().get.deltaFiles.nonEmpty)
    def foldsAll(t: LakeTable) = {
      val m = t.currentCommit().get.metrics
      m("foldedBuckets") == m("bucketsTouched")
    }
    assert(foldsAll(tB))
    assert(foldsAll(tC))
    assert(tC.currentCommit().get.deltaFiles.isEmpty)
    assert(foldsAll(tD))
    assertSameRows(finalPayload(tA), finalPayload(tB))
    assertSameRows(finalPayload(tC), finalPayload(tB))
    assertSameRows(finalPayload(tA), Corpus.oracleFinalState(events))
    assertSameRows(finalPayload(tD), Corpus.oracleFinalState(events))
  }

  test("delta depth is bounded: the apply folds deltas into a fresh base at the cap") {
    val events = corpus(6000)
    val table = new LakeTable(tmpDir("depth"), numBuckets = 4)
    val step = 500L
    (0 until 12).foreach { i =>
      CdcApply.applyBatch(spark, table,
        events.where(col("_txid") > i * step && col("_txid") <= (i + 1) * step),
        maxDeltaDepth = 3)
    }
    val depths = table.commitLog().map(_.deltaDepth)
    assert(depths.max <= 3, s"depth exceeded cap: $depths")
    // at least one fold happened (depth reset after hitting the cap)
    assert(table.commitLog().count(_.metrics.getOrElse("deltaCommit", 0L) == 0L) >= 2)
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
  }

  test("per-bucket fold: only buckets at the depth cap are rewritten") {
    import spark.implicits._
    val events = corpus(2000)
    val table = new LakeTable(tmpDir("perbucket"), numBuckets = 16)
    CdcApply.applyBatch(spark, table, events) // base commit
    val basePaths = table.currentCommit().get.buckets
    def patch(txid: Long, conv: String) =
      Seq((txid, "update", s"e$txid", conv, 0, "user", s"p$txid",
        null: String, java.sql.Timestamp.valueOf("2014-03-12 00:00:00")))
        .toDF("_txid", "_op", "_etag", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val hot = "conv00000001"
    val hotBucket = spark.range(1).select(table.bucketCol(lit(hot))).head.getInt(0)
    // two delta commits stack the hot bucket to the cap...
    CdcApply.applyBatch(spark, table, patch(100001, hot), maxDeltaDepth = 2)
    CdcApply.applyBatch(spark, table, patch(100002, hot), maxDeltaDepth = 2)
    assert(table.currentCommit().get.deltaDepthOf(hotBucket) == 2)
    // ...the third FOLDS (foldRatio=0 forces fold over consolidation) —
    // and must rewrite ONLY the hot bucket
    CdcApply.applyBatch(spark, table, patch(100003, hot), maxDeltaDepth = 2,
      foldRatio = 0.0)
    val folded = table.currentCommit().get
    assert(folded.metrics("foldedBuckets") == 1L)
    assert(folded.deltaDepthOf(hotBucket) == 0)
    assert(folded.buckets(hotBucket.toString) != basePaths(hotBucket.toString))
    val untouched = basePaths.keySet - hotBucket.toString
    assert(untouched.forall(b => folded.buckets(b) == basePaths(b)),
      "fold rewrote buckets that were not at the cap")
    assert(table.read(spark).where($"conv_id" === hot && $"turn_idx" === 0)
      .head.getAs[String]("text") == "p100003")
  }

  test("mixed batch: capped bucket folds while a cold bucket deltas, in ONE commit") {
    import spark.implicits._
    val events = corpus(2000)
    val table = new LakeTable(tmpDir("mixed"), numBuckets = 16)
    CdcApply.applyBatch(spark, table, events)
    val hot = "conv00000001"
    val hotBucket = spark.range(1).select(table.bucketCol(lit(hot))).head.getInt(0)
    // pick a cold conv that hashes to a DIFFERENT bucket
    val cold = (2 to 40).map(i => f"conv$i%08d").find { c =>
      spark.range(1).select(table.bucketCol(lit(c))).head.getInt(0) != hotBucket
    }.get
    def patch(txid: Long, conv: String) =
      Seq((txid, "update", s"e$txid", conv, 0, "user", s"p$txid",
        null: String, java.sql.Timestamp.valueOf("2014-03-12 00:00:00")))
        .toDF("_txid", "_op", "_etag", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    CdcApply.applyBatch(spark, table, patch(100001, hot), maxDeltaDepth = 2)
    CdcApply.applyBatch(spark, table, patch(100002, hot), maxDeltaDepth = 2)
    val before = table.commitLog().size
    // hot is at the cap, cold is not — one batch touching both
    CdcApply.applyBatch(spark, table,
      patch(100003, hot).unionByName(patch(100004, cold)), maxDeltaDepth = 2,
      foldRatio = 0.0)
    val c = table.currentCommit().get
    assert(table.commitLog().size == before + 1, "mixed apply must be ONE commit")
    assert(c.metrics("foldedBuckets") == 1L && c.metrics("deltaRows") == 1L)
    assert(c.deltaDepthOf(hotBucket) == 0)
    val coldBucket = spark.range(1).select(table.bucketCol(lit(cold))).head.getInt(0)
    assert(c.deltaDepthOf(coldBucket) >= 1)
    val got = table.read(spark).where($"turn_idx" === 0 &&
        $"conv_id".isin(hot, cold))
      .select("conv_id", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got(hot) == "p100003" && got(cold) == "p100004")
  }

  test("one batch folds, consolidates and appends: one write, one dir, one commit") {
    import spark.implicits._
    val events = corpus(2000)
    val table = new LakeTable(tmpDir("oneplan"), numBuckets = 8)
    CdcApply.applyBatch(spark, table, events)
    val base = table.currentCommit().get
    def bucketOf(conv: String) =
      spark.range(1).select(table.bucketCol(lit(conv))).head.getInt(0)
    // one corpus conv per bucket, buckets ordered by base size: the
    // smallest base will fold, the largest consolidate, one more append
    val byBase = (0 until 50).map(i => f"conv$i%08d").groupBy(bucketOf)
      .map { case (b, cs) => (b, cs.min) }.toSeq
      .sortBy { case (b, _) => base.baseRowsOf(b).getOrElse(0L) }
    assert(byBase.size >= 3, s"corpus convs cover only ${byBase.size} buckets")
    val Seq((fB, fConv), (dB, dConv), (cB, cConv)) =
      Seq(byBase.head, byBase(byBase.size / 2), byBase.last)
    val patches = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    def apply(rows: Seq[(Long, String, Int)]) = {
      val df = rows.map { case (txid, conv, turn) =>
        (txid, "update", s"e$txid", conv, turn, "user", s"p$txid",
          null: String, java.sql.Timestamp.valueOf("2014-03-12 00:00:00"))
      }.toDF("_txid", "_op", "_etag", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      patches += df
      CdcApply.applyBatch(spark, table, df, maxDeltaDepth = 2)
    }
    // two batches stack the fold bucket with 50 new keys each and the
    // consolidate bucket with one patched key, up to the cap of 2
    (0 until 2).foreach { i =>
      apply((0 until 50).map(k => (100000L + 100 * i + k, fConv, 1000 + 100 * i + k)) :+
        ((100090L + 100 * i, cConv, 0)))
    }
    val stacked = table.currentCommit().get
    def reachesRatio(b: Int) = stacked.deltaRowsOf(b).get >=
      (stacked.baseRowsOf(b).get * CdcApply.FoldToBaseRatio).toLong
    assert(stacked.deltaDepthOf(fB) == 2 && stacked.deltaDepthOf(cB) == 2 &&
      stacked.deltaDepthOf(dB) == 0)
    assert(reachesRatio(fB) && !reachesRatio(cB),
      s"fold bucket $fB must reach the ratio and consolidate bucket $cB must not")

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    def dataDirs = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(table.location, "data"))
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    val dirsBefore = dataDirs
    val commitsBefore = table.commitLog().size
    spark.listenerManager.register(listener)
    try {
      val s = apply(Seq((100500L, fConv, 0), (100501L, cConv, 0), (100502L, dConv, 0)))
      assert(s.applied == 3)
      // listener delivery is async but in order: once a marker query
      // is seen, every plan the apply ran has been delivered
      spark.range(3).toDF("apply_marker").collect()
      var tries = 0
      while (!plans.asScala.exists(_.analyzed.output.exists(_.name == "apply_marker")) &&
          tries < 100) { Thread.sleep(100); tries += 1 }
    } finally spark.listenerManager.unregister(listener)
    val writes = plans.asScala.count { qe =>
      val p = qe.executedPlan.toString
      p.contains("WriteFiles") || p.contains("InsertIntoHadoopFsRelation")
    }
    assert(writes == 1, s"the apply ran $writes file writes")
    assert((dataDirs -- dirsBefore).size == 1, s"new dirs: ${dataDirs -- dirsBefore}")
    assert(table.commitLog().size == commitsBefore + 1)
    val c = table.currentCommit().get
    Seq("events" -> 3L, "upserts" -> 3L, "deletes" -> 0L, "bucketsTouched" -> 3L,
      "foldedBuckets" -> 1L, "consolidatedBuckets" -> 1L, "consolidatedRows" -> 1L,
      "deltaRows" -> 1L).foreach { case (k, v) =>
      assert(c.metrics.get(k).contains(v), s"metric $k = ${c.metrics.get(k)}, want $v")
    }
    assert(c.metrics.getOrElse("deltaCommit", 0L) == 0L)
    assert(c.deltaDepthOf(fB) == 0 && c.deltaDepthOf(cB) == 1 && c.deltaDepthOf(dB) == 1)
    assert(c.buckets(fB.toString) != base.buckets(fB.toString))
    assert(c.buckets(cB.toString) == base.buckets(cB.toString) &&
      c.buckets(dB.toString) == base.buckets(dB.toString))
    assertSameRows(finalPayload(table),
      Corpus.oracleFinalState(patches.foldLeft(events)(_ unionByName _)))
    assertCountsMatchFooters(table)
  }

  test("observed bucket counts equal the written footers: delta apply, compact, rebucket") {
    val events = corpus(3000)
    val table = new LakeTable(tmpDir("obscounts"), numBuckets = 8)
    CdcApply.applyBatch(spark, table, events.where(col("_txid") <= 2000))
    assertCountsMatchFooters(table)
    // an in-order batch: every touched bucket appends one delta dir
    CdcApply.applyBatch(spark, table, events.where(col("_txid") > 2000))
    assert(table.currentCommit().get.metrics.get("deltaCommit").contains(1L))
    assertCountsMatchFooters(table)
    table.compact(spark, tombstoneHorizon = Long.MaxValue)
    assert(table.currentCommit().get.deltas.isEmpty)
    assertCountsMatchFooters(table)
    table.rebucket(spark, 5)
    assertCountsMatchFooters(table)
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
  }

  test("at-cap stack CONSOLIDATES into one delta dir; the base is not rewritten") {
    import spark.implicits._
    val events = corpus(2000)
    val table = new LakeTable(tmpDir("consolidate"), numBuckets = 4)
    CdcApply.applyBatch(spark, table, events) // base commit (~125 keys/bucket)
    val basePaths = table.currentCommit().get.buckets
    def patch(txid: Long, conv: String) =
      Seq((txid, "update", s"e$txid", conv, 0, "user", s"p$txid",
        null: String, java.sql.Timestamp.valueOf("2014-03-12 00:00:00")))
        .toDF("_txid", "_op", "_etag", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val hot = "conv00000001"
    val hotBucket = spark.range(1).select(table.bucketCol(lit(hot))).head.getInt(0)
    CdcApply.applyBatch(spark, table, patch(100001, hot), maxDeltaDepth = 2)
    CdcApply.applyBatch(spark, table, patch(100002, hot), maxDeltaDepth = 2)
    val stacked = table.currentCommit().get
    assert(stacked.deltaDepthOf(hotBucket) == 2)
    // third patch: the stack is at the cap but holds 2 rows vs ~125 base
    // rows — the default policy must CONSOLIDATE, not fold
    CdcApply.applyBatch(spark, table, patch(100003, hot), maxDeltaDepth = 2)
    val c = table.currentCommit().get
    assert(c.metrics("consolidatedBuckets") == 1L && c.metrics("foldedBuckets") == 0L)
    assert(c.deltaDepthOf(hotBucket) == 1, "stack must collapse to ONE dir")
    assert(c.buckets == basePaths, "consolidation must not touch any base")
    // same-key updates collapse: the consolidated dir holds ONE row
    assert(c.deltaRowsOf(hotBucket).contains(1L))
    assert(table.read(spark).where($"conv_id" === hot && $"turn_idx" === 0)
      .head.getAs[String]("text") == "p100003")
    // the cycle repeats: one more append brings the consolidated dir
    // back to the cap, and the next patch consolidates again
    CdcApply.applyBatch(spark, table, patch(100004, hot), maxDeltaDepth = 2)
    assert(table.currentCommit().get.deltaDepthOf(hotBucket) == 2)
    CdcApply.applyBatch(spark, table, patch(100005, hot), maxDeltaDepth = 2)
    val c2 = table.currentCommit().get
    assert(c2.metrics("consolidatedBuckets") == 1L)
    assert(c2.deltaDepthOf(hotBucket) == 1 && c2.buckets == basePaths)
    assert(table.read(spark).where($"conv_id" === hot && $"turn_idx" === 0)
      .head.getAs[String]("text") == "p100005")
  }

  test("consolidated stack folds to a fresh base once delta rows reach the ratio") {
    import spark.implicits._
    val events = corpus(2000)
    val table = new LakeTable(tmpDir("cons-fold"), numBuckets = 4)
    CdcApply.applyBatch(spark, table, events)
    val basePaths = table.currentCommit().get.buckets
    val hot = "conv00000001"
    val hotBucket = spark.range(1).select(table.bucketCol(lit(hot))).head.getInt(0)
    val baseRows = table.currentCommit().get.baseRowsOf(hotBucket).get
    // each batch INSERTS 20 new keys into the hot conv, so the
    // consolidated delta grows by 20/cycle instead of collapsing
    def inserts(batch: Int) = {
      val rows = (0 until 20).map { i =>
        val k = batch * 20 + i
        (200000L + k, "update", s"n$k", hot, 1000 + k, "user", s"ins$k",
          null: String, java.sql.Timestamp.valueOf("2014-03-12 00:00:00"))
      }
      rows.toDF("_txid", "_op", "_etag", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    }
    var folded = false
    var consolidatedFirst = false
    var i = 0
    while (!folded && i < 30) {
      CdcApply.applyBatch(spark, table, inserts(i), maxDeltaDepth = 2)
      val c = table.currentCommit().get
      if (!folded && c.metrics.getOrElse("consolidatedBuckets", 0L) > 0L)
        consolidatedFirst = true
      folded = c.metrics.getOrElse("foldedBuckets", 0L) > 0L
      i += 1
    }
    assert(consolidatedFirst, "small stacks must consolidate before any fold")
    assert(folded, s"stack grew past ratio*base=${baseRows / 2} without folding")
    val c = table.currentCommit().get
    assert(c.deltaDepthOf(hotBucket) == 0)
    assert(c.buckets(hotBucket.toString) != basePaths(hotBucket.toString))
    // every inserted key is present exactly once with its latest text
    val got = table.read(spark).where($"conv_id" === hot && $"turn_idx" >= 1000)
    assert(got.count() == i * 20L)
  }

  test("ignore list: novel junk field does not widen the table schema") {
    val events = corpus(800)
    val junked = events.withColumn("junk_debug_field", lit("noise"))
    val table = new LakeTable(tmpDir("ignore"), numBuckets = 8)
    CdcApply.applyBatch(spark, table, junked,
      ignoreFields = Set("junk_debug_field"))
    val fields = table.currentCommit().get.schema.fieldNames.toSet
    assert(!fields.contains("junk_debug_field"), s"schema polluted: $fields")
    // without the ignore list the same field IS absorbed (P3 default)
    val t2 = new LakeTable(tmpDir("absorb"), numBuckets = 8)
    CdcApply.applyBatch(spark, t2, junked)
    assert(t2.currentCommit().get.schema.fieldNames.contains("junk_debug_field"))
  }

  test("batchId idempotence is scoped by queryId (new checkpoint restarts at 0 safely)") {
    val events = corpus(600)
    val table = new LakeTable(tmpDir("qid"), numBuckets = 8)
    val a = events.where(col("_txid") <= 300)
    val b = events.where(col("_txid") > 300)
    CdcApply.applyBatch(spark, table, a, batchId = 0, queryId = "streamA")
    // same stream replays batch 0 → skipped
    assert(CdcApply.applyBatch(spark, table, a, batchId = 0,
      queryId = "streamA").skippedReplay)
    // a DIFFERENT stream's batch 0 must NOT be skipped
    val s = CdcApply.applyBatch(spark, table, b, batchId = 0, queryId = "streamB")
    assert(!s.skippedReplay && s.applied > 0)
    assertSameRows(finalPayload(table), Corpus.oracleFinalState(events))
  }

  test("bucket pruning: second batch touching one conv rewrites few buckets") {
    val events = corpus(2000)
    val table = new LakeTable(tmpDir("prune"), numBuckets = 16)
    CdcApply.applyBatch(spark, table, events)
    import spark.implicits._
    val one = Seq((999999L, "update", "ee", "conv00000001", 0, "user", "patch",
      null: String, java.sql.Timestamp.valueOf("2014-03-12 00:00:00")))
      .toDF("_txid", "_op", "_etag", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val s = CdcApply.applyBatch(spark, table, one)
    assert(s.bucketsTouched == 1)
    assert(finalPayload(table).where($"text" === "patch").count() == 1)
  }

  test("reopening with a mismatched constructor bucket count still merges correctly") {
    val events = corpus(2000)
    val dir = tmpDir("layout")
    CdcApply.applyBatch(spark, new LakeTable(dir, numBuckets = 8),
      events.where(col("_txid") <= 1000))
    // a differently-configured writer opens the SAME table: the
    // persisted layout count must win or updates would hash to buckets
    // their stored rows are not in (split-key corruption)
    val reopened = new LakeTable(dir, numBuckets = 32)
    assert(reopened.effectiveNumBuckets == 8)
    CdcApply.applyBatch(spark, reopened, events.where(col("_txid") > 1000))
    assertSameRows(finalPayload(reopened), Corpus.oracleFinalState(events))
    // layout stayed 8-bucket on disk and in the new commit's metadata
    assert(reopened.currentCommit().get.metrics(LakeTable.NumBucketsKey) == 8L)
    assert(reopened.currentCommit().get.buckets.keySet.forall(_.toInt < 8))
  }

  test("pre-metric table: a provably wrong constructor count is refused") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("legacy-layout")
    CdcApply.applyBatch(spark, new LakeTable(dir, numBuckets = 8), corpus(500))
    // simulate a pre-upgrade log: strip the persisted layout key
    val s = Files.list(Paths.get(dir, "_commits"))
    try s.iterator().asScala.filter(_.toString.endsWith(".json")).foreach { p =>
      val stripped = Files.readString(p)
        .replaceAll("\"numBuckets\":\\d+,", "")
        .replaceAll(",?\"numBuckets\":\\d+", "")
      Files.writeString(p, stripped)
    } finally s.close()
    // bucket ids up to 7 exist — claiming a 4-bucket layout is provably
    // wrong and must refuse instead of splitting keys across hash spaces
    intercept[IllegalArgumentException](
      new LakeTable(dir, numBuckets = 4).effectiveNumBuckets)
    // the honest count still works (legacy trust path)
    assert(new LakeTable(dir, numBuckets = 8).effectiveNumBuckets == 8)
  }

  test("rebucket re-hashes the layout atomically; appliers follow the new count") {
    val events = corpus(2000)
    val dir = tmpDir("rebucket")
    val t = new LakeTable(dir, numBuckets = 4)
    CdcApply.applyBatch(spark, t, events.where(col("_txid") <= 1500))
    val vBefore = t.currentCommit().get.version
    val c = t.rebucket(spark, 16)
    assert(t.effectiveNumBuckets == 16)
    assert(c.buckets.keySet.exists(_.toInt >= 4), "no rows landed above the old hash space?")
    assert(c.deltas.isEmpty, "rebucket must clear every delta stack into the new base")
    // a physical-only rewrite: the changelog across it is empty
    assert(t.changesBetween(spark, vBefore, c.version).count() == 0)
    // a stale-configured handle keeps merging correctly in the NEW space
    val stale = new LakeTable(dir, numBuckets = 4)
    assert(stale.effectiveNumBuckets == 16)
    CdcApply.applyBatch(spark, stale, events.where(col("_txid") > 1500))
    assertSameRows(finalPayload(stale), Corpus.oracleFinalState(events))
    assert(stale.currentCommit().get.metrics(LakeTable.NumBucketsKey) == 16L)
  }

  test("evolveSchema keeps a stored struct when the batch's struct only lacks subfields") {
    import org.apache.spark.sql.types._
    val inner = StructType(Seq(StructField("x", LongType), StructField("y", StringType)))
    val meta = StructType(Seq(StructField("a", LongType), StructField("b", StringType),
      StructField("c", inner)))
    val prev = StructType(Seq(StructField("conv_id", StringType, nullable = false),
      StructField("turn_idx", IntegerType, nullable = false), StructField("meta", meta)))
    def withMeta(t: DataType) = StructType(prev.fields.init :+ StructField("meta", t))
    // narrower at the top and one level down (any field order): no conflict
    Seq(StructType(Seq(StructField("a", LongType))),
      StructType(Seq(StructField("c", StructType(Seq(StructField("y", StringType)))),
        StructField("a", LongType))),
      meta).foreach { in =>
      assert(CdcApply.evolveSchema(prev, withMeta(in)) == prev, s"meta $in")
    }
    // a novel subfield or a subfield type conflict still promotes
    Seq(StructType(Seq(StructField("a", LongType), StructField("z", StringType))),
      StructType(Seq(StructField("a", StringType))),
      StructType(Seq(StructField("c", StructType(Seq(StructField("x", StringType))))))).foreach { in =>
      assert(CdcApply.evolveSchema(prev, withMeta(in))("meta").dataType == StringType, s"meta $in")
    }
    // an apply of a narrower batch keeps the table's struct; the absent
    // subfields read as null
    val table = new LakeTable(tmpDir("narrow-struct"), numBuckets = 4)
    CdcApply.applyBatch(spark, table, spark.sql("""select 1L as _txid, 'insert' as _op,
      'e1' as _etag, 'c1' as conv_id, 0 as turn_idx,
      named_struct('a', 1L, 'b', 'x', 'c', named_struct('x', 2L, 'y', 'q')) as meta"""))
    val stored = table.currentCommit().get.schema("meta").dataType
    assert(stored.isInstanceOf[StructType])
    CdcApply.applyBatch(spark, table, spark.sql("""select 2L as _txid, 'update' as _op,
      'e2' as _etag, 'c1' as conv_id, 0 as turn_idx, named_struct('a', 5L) as meta
      union all select 3L, 'insert', 'e3', 'c2', 0, named_struct('a', 6L)"""))
    assert(table.currentCommit().get.schema("meta").dataType == stored)
    val rows = table.read(spark).orderBy("conv_id")
      .select("conv_id", "meta.a", "meta.b", "meta.c").collect().map(_.toSeq).toSeq
    assert(rows == Seq(Seq("c1", 5L, null, null), Seq("c2", 6L, null, null)), rows)
  }

  test("each apply commit records filesWritten: the parquet files under its data dir") {
    import spark.implicits._
    val table = new LakeTable(tmpDir("files-written"), numBuckets = 4)
    def patch(txid: Long) =
      Seq((txid, "update", s"e$txid", "conv00000001", 0, "user", s"p$txid",
        null: String, java.sql.Timestamp.valueOf("2014-03-12 00:00:00")))
        .toDF("_txid", "_op", "_etag", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    def assertFilesWritten(kind: String): Unit = {
      val c = table.currentCommit().get
      val dirs = dataDirsOf(table, c.version).map(java.nio.file.Paths.get(table.location, _))
      assert(dirs.size == 1, s"$kind v${c.version}: data dirs $dirs")
      val walk = java.nio.file.Files.walk(dirs.head)
      val files = try walk.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally walk.close()
      assert(files > 0 && c.metrics.get("filesWritten").contains(files.toLong),
        s"$kind v${c.version}: filesWritten ${c.metrics.get("filesWritten")}, $files files")
    }
    val events = corpus(2400)
    CdcApply.applyBatch(spark, table, events.where(col("_txid") <= 2000))
    assertFilesWritten("first commit")
    CdcApply.applyBatch(spark, table, events.where(col("_txid") > 2000))
    assert(table.currentCommit().get.metrics("deltaCommit") == 1L)
    assertFilesWritten("delta-only")
    CdcApply.applyBatch(spark, table, patch(100001), maxDeltaDepth = 1, foldRatio = 10.0)
    assert(table.currentCommit().get.metrics("consolidatedBuckets") == 1L)
    assertFilesWritten("consolidating")
    CdcApply.applyBatch(spark, table, patch(100002), maxDeltaDepth = 1, foldRatio = 0.0)
    assert(table.currentCommit().get.metrics("foldedBuckets") == 1L)
    assertFilesWritten("folding")
  }
}
