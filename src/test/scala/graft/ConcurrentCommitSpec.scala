package graft

import org.apache.spark.sql.functions._

import graft.cdc.{BatchHint, CdcApply}
import graft.model.Corpus
import graft.table.LakeTable

/** Lands a competing commit from inside an apply, with no hook in the
  * engine: [[fire]] is a nondeterministic filter on a one-event batch,
  * which the apply's pre-scan evaluates once and its write job once
  * more. That second evaluation runs the armed commit and waits for it,
  * so the commit lands after the apply read its snapshot and before it
  * publishes. The counter lives in this object: the filter's closure is
  * deserialized per task, and a counter captured by it would be a copy.
  * The commit runs on a daemon thread started from the test thread, so
  * a commit that runs Spark jobs of its own (a rebucket) starts outside
  * any task. */
object MidApply extends Serializable {
  private val evaluations = new java.util.concurrent.atomic.AtomicLong
  @volatile private var competing: () => Unit = () => ()
  private lazy val outsideTasks = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "mid-apply-commit"); t.setDaemon(true); t
  }

  def arm(commit: => Any): Unit = {
    evaluations.set(0)
    competing = () => commit
    outsideTasks.submit(new Runnable { def run(): Unit = () }).get()
  }

  val fire = udf { () =>
    if (evaluations.incrementAndGet() == 2)
      outsideTasks.submit(new Runnable { def run(): Unit = competing() }).get()
    true
  }.asNondeterministic()
}

/** Optimistic concurrency on the commit log: two writers racing the
  * same version must (a) both land when their buckets are disjoint
  * (loser rebuilds against the new head and re-publishes) and (b) fail
  * CLEANLY on a true conflict (overlapping buckets — the loser's data
  * files were derived from a stale snapshot), after which a redo
  * against the new snapshot succeeds. The race window is injected
  * deterministically: via `testBeforePublish` (after the loser's
  * conflict check, before it publishes), or via [[MidApply]] (after an
  * apply read its snapshot, during its write). */
class ConcurrentCommitSpec extends SparkSpec {

  /** A small table with every bucket populated. */
  private def seeded(): (LakeTable, org.apache.spark.sql.DataFrame) = {
    val events = Corpus.changeEvents(spark, 600, nConvs = 30, maxTurns = 6)
    val table = new LakeTable(tmpDir("occ-table"), numBuckets = 8)
    CdcApply.applyBatch(spark, table, events, pruneBuckets = false)
    (table, events)
  }

  /** Write a one-row delta dir for `bucket` under the given version
    * name, at `txid` (default: just above the watermark), and return
    * (relPath, rowCount, the row's conv_id, txid). */
  private def writeDelta(table: LakeTable, version: Long, bucket: Int,
      newText: String, txid: Option[Long] = None): (String, Long, String, Long) = {
    val tx = txid.getOrElse(table.txidWatermark + 1)
    val row = table.readBuckets(spark, Seq(bucket))
      .orderBy("conv_id", "turn_idx").limit(1)
      .withColumn("_txid", lit(tx))
      .withColumn("_etag", lit(s"occ-$version"))
      .withColumn("text", lit(newText))
    val rel = f"data/c$version%012dd/_bucket=$bucket"
    row.coalesce(1).write.mode("overwrite")
      .parquet(s"${table.location}/$rel")
    (rel, 1L, row.select("conv_id").head().getString(0), tx)
  }

  /** A one-event batch that updates the key [[writeDelta]] picks in
    * `bucket` to `text` at `tx`: one partition of an RDD, not a local
    * relation, which the optimizer may evaluate on its own. */
  private def oneEvent(table: LakeTable, bucket: Int, tx: Long, text: String) = {
    val row = table.readBuckets(spark, Seq(bucket))
      .orderBy("conv_id", "turn_idx").limit(1)
      .withColumn("_txid", lit(tx))
      .withColumn("_op", lit("update"))
      .withColumn("_etag", lit(s"ev-$tx"))
      .withColumn("text", lit(text))
      .drop("_deleted")
    spark.createDataFrame(spark.sparkContext.parallelize(row.collect().toSeq, 1), row.schema)
  }

  test("a rename landing during an apply refuses its commit; every row keeps the new name") {
    val (table, events) = seeded()
    val admin = new LakeTable(table.location, numBuckets = 8)
    val batch = oneEvent(table, bucket = 3, table.txidWatermark + 1, "redo")
      .where(MidApply.fire())
    MidApply.arm(admin.renameColumn("text", "body"))
    intercept[java.util.ConcurrentModificationException](
      CdcApply.applyBatch(spark, table, batch))
    val renamed = table.currentCommit().get
    assert(renamed.metrics.contains("rename") && renamed.renames == Map("text" -> "body"),
      s"head is not the rename: $renamed")
    def underBody = table.read(spark)
      .select(col("conv_id"), col("turn_idx"), col("body").as("text"))
    assertSameRows(underBody,
      Corpus.oracleFinalState(events).select("conv_id", "turn_idx", "text"))
    // the redo reads the renamed snapshot and folds the batch's retired
    // `text` onto `body`
    CdcApply.applyBatch(spark, table, batch)
    assert(table.currentCommit().get.version == renamed.version + 1)
    assert(underBody.where(col("text") === "redo").count() == 1L)
  }

  test("a disjoint delta landing in a rename's publish window composes: both changes read back") {
    val (table, events) = seeded()
    val c0 = table.currentCommit().get
    val b = new LakeTable(table.location, numBuckets = 8)
    val (relB, nB, convB, txB) = writeDelta(b, c0.version + 1, bucket = 2, "from-B")
    table.testBeforePublish = () =>
      b.commit(b.currentCommit(), c0.schema, Map.empty, Map.empty, txB, -1L, Map.empty,
        deltaAdds = Map(2 -> (relB, nB)))
    val r = table.renameColumn("text", "body")
    assert(r.version == c0.version + 2 && r.renames == Map("text" -> "body") &&
      r.deltas("2").contains(relB) && r.txidWatermark == txB, s"$r")
    val read = table.read(spark)
    assert(!read.columns.contains("text"))
    assert(read.where(col("conv_id") === convB && col("_txid") === txB)
      .select("body").collect().map(_.getString(0)).toSeq == Seq("from-B"))
    assert(read.count() == Corpus.oracleFinalState(events).count())
  }

  test("a widening apply landing in a rename's publish window refuses the rename") {
    val (table, _) = seeded()
    val c0 = table.currentCommit().get
    val b = new LakeTable(table.location, numBuckets = 8)
    val wide = oneEvent(b, bucket = 3, c0.txidWatermark + 1, "wide").withColumn("note", lit("new"))
    table.testBeforePublish = () => { CdcApply.applyBatch(spark, b, wide); () }
    val e = intercept[java.util.ConcurrentModificationException](
      table.renameColumn("text", "body"))
    assert(e.getMessage.contains("schema"), e.getMessage)
    val head = table.currentCommit().get
    assert(head.version == c0.version + 1 && head.schema.fieldNames.contains("note") &&
      head.renames.isEmpty, s"$head")
    // a redo renames the widened schema
    val r = table.renameColumn("text", "body")
    assert(r.schema.fieldNames.contains("note") && r.schema.fieldNames.contains("body"))
    assert(table.read(spark).where(col("body") === "wide").select("note")
      .collect().map(_.getString(0)).toSeq == Seq("new"))
  }

  test("a newer delta landing during a fold's write refuses the fold; the newer row survives the redo") {
    val (table, _) = seeded()
    val base = table.currentCommit()
    val (v0, wm, schema) = (base.get.version, base.get.txidWatermark, base.get.schema)
    val b = new LakeTable(table.location, numBuckets = 8)
    val (relB, nB, conv, txB) = writeDelta(b, v0 + 1, bucket = 2, "newer", Some(wm + 1000))
    // an older event for the same key: newer than its stored row, older
    // than the delta
    val older = oneEvent(table, bucket = 2, wm + 1, "older")
    val turn = older.select("turn_idx").head().getInt(0)
    val batch = older.where(MidApply.fire())
    MidApply.arm(b.commit(base, schema, Map.empty, Map.empty, txB, -1L, Map.empty,
      deltaAdds = Map(2 -> (relB, nB))))
    intercept[java.util.ConcurrentModificationException](
      CdcApply.applyBatch(spark, table, batch, maxDeltaDepth = 0))
    assert(table.currentCommit().get.version == v0 + 1)
    // the redo folds the delta in, and the newer row wins
    CdcApply.applyBatch(spark, table, batch, maxDeltaDepth = 0)
    val got = table.read(spark).where(col("conv_id") === conv && col("turn_idx") === turn)
      .select("text", "_txid").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("newer", txB)), s"key $conv/$turn reads $got")
    assert(table.txidWatermark == txB)
  }

  test("a rebucket landing during a delta apply refuses the apply's commit") {
    val (table, events) = seeded()
    val maintenance = new LakeTable(table.location, numBuckets = 8)
    val batch = oneEvent(table, bucket = 3, table.txidWatermark + 1, "8-space")
      .where(MidApply.fire())
    MidApply.arm(maintenance.rebucket(spark, 16))
    intercept[java.util.ConcurrentModificationException](
      CdcApply.applyBatch(spark, table, batch))
    // the head is the rebucket's: every bucket id in the 16-space, no
    // 8-space delta published into it
    val head = table.currentCommit().get
    assert(head.metrics.contains("rebucket") && table.effectiveNumBuckets == 16)
    assert(head.deltas.isEmpty && head.buckets.keySet.forall(_.toInt < 16))
    assertSameRows(table.read(spark).select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
      Corpus.oracleFinalState(events))
  }

  /** The batch's facts against `base`, as the stream's trigger
    * computes them before its apply. */
  private def hintFor(table: LakeTable, batch: org.apache.spark.sql.DataFrame,
      base: Option[graft.table.Commit]): BatchHint = {
    val facts = BatchHint.facts(table, base)
    BatchHint.combine(batch.agg(facts.head, facts.tail: _*).collect().toSeq, base)
  }

  test("a compaction landing between a fold's snapshot read and its write stays readable") {
    val (table, events) = seeded()
    val base = table.currentCommit()
    val batch = oneEvent(table, bucket = 3, base.get.txidWatermark + 1, "folded")
    val hint = hintFor(table, batch, base)
    // the compaction lands after the hint was built: both writers derive
    // their dirs from the same snapshot
    val compacted = new LakeTable(table.location, numBuckets = 8)
      .compact(spark, tombstoneHorizon = 0L).get
    intercept[java.util.ConcurrentModificationException](CdcApply.applyBatch(
      spark, table, batch, maxDeltaDepth = 0, prunedHint = Some(hint)))
    val head = table.currentCommit().get
    assert(head.version == compacted.version && head.buckets == compacted.buckets, s"$head")
    // the fold's write left the compaction's files alone
    assertSameRows(table.read(spark).select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
      Corpus.oracleFinalState(events))
    // the redo folds onto the compacted snapshot
    CdcApply.applyBatch(spark, table, batch, maxDeltaDepth = 0)
    assert(table.currentCommit().get.version == compacted.version + 1)
    assert(table.read(spark).where(col("text") === "folded").count() == 1L)
  }

  test("two delta-only applies from one snapshot on disjoint buckets both land and both read") {
    val (table, events) = seeded()
    val base = table.currentCommit()
    val (v0, wm) = (base.get.version, base.get.txidWatermark)
    val other = new LakeTable(table.location, numBuckets = 8)
    val (batchA, batchB) =
      (oneEvent(table, bucket = 2, wm + 1, "from-A"), oneEvent(table, bucket = 5, wm + 2, "from-B"))
    val (hintA, hintB) = (hintFor(table, batchA, base), hintFor(other, batchB, base))
    CdcApply.applyBatch(spark, table, batchA, prunedHint = Some(hintA))
    CdcApply.applyBatch(spark, other, batchB, prunedHint = Some(hintB))
    val head = table.currentCommit().get
    assert(head.version == v0 + 2, s"$head")
    assert(head.deltas("2").last.split("/")(1) != head.deltas("5").last.split("/")(1),
      s"one dir for both writers: $head")
    val texts = table.read(spark).where(col("_txid") > wm)
      .select("text").collect().map(_.getString(0)).toSet
    assert(texts == Set("from-A", "from-B"), s"got $texts")
    assert(table.read(spark).count() == Corpus.oracleFinalState(events).count())
  }

  test("a disjoint commit that widens the schema during an apply refuses its commit; the redo keeps the column") {
    val (table, _) = seeded()
    val base = table.currentCommit()
    val (v0, wm) = (base.get.version, base.get.txidWatermark)
    // B rewrites bucket 2's base with a new `note` column
    val b = new LakeTable(table.location, numBuckets = 8)
    val relB = f"data/c${v0 + 1}%012d/_bucket=2"
    val bucket2 = b.readBuckets(spark, Seq(2)).withColumn("note", lit("from-B"))
    bucket2.coalesce(1).write.mode("overwrite").parquet(s"${table.location}/$relB")
    val (rowsB, liveB) = (bucket2.count(), LakeTable.dropTombstones(bucket2).count())
    val fields = base.get.schema.fields
    val wide = org.apache.spark.sql.types.StructType(fields.dropRight(3) ++
      Seq(org.apache.spark.sql.types.StructField("note", org.apache.spark.sql.types.StringType)) ++
      fields.takeRight(3))
    val batch = oneEvent(table, bucket = 3, wm + 1, "narrow").where(MidApply.fire())
    MidApply.arm(b.commit(base, wide, Map(2 -> Some(relB)), Map(2 -> rowsB), wm, -1L, Map.empty))
    val e = intercept[java.util.ConcurrentModificationException](
      CdcApply.applyBatch(spark, table, batch))
    assert(e.getMessage.contains("schema"), e.getMessage)
    // the redo evolves the widened schema, so B's column stays readable
    CdcApply.applyBatch(spark, table, batch)
    val read = table.read(spark)
    assert(read.where(col("note") === "from-B").count() == liveB)
    assert(read.where(col("text") === "narrow").count() == 1L)
  }

  test("an apply that widens the schema refuses to compose onto a disjoint commit; its column survives a rename") {
    val (table, _) = seeded()
    val base = table.currentCommit()
    val (v0, wm, schema) = (base.get.version, base.get.txidWatermark, base.get.schema)
    val b = new LakeTable(table.location, numBuckets = 8)
    val (relB, nB, _, txB) = writeDelta(b, v0 + 1, bucket = 2, "from-B")
    val wide = oneEvent(table, bucket = 3, wm + 1, "wide").withColumn("note", lit("from-A"))
    val conv = wide.select("conv_id").head().getString(0)
    val batch = wide.where(MidApply.fire())
    MidApply.arm(b.commit(base, schema, Map.empty, Map.empty, txB, -1L, Map.empty,
      deltaAdds = Map(2 -> (relB, nB))))
    // composed at v0 + 2, the apply's dir (stamped v0 + 1) would be read
    // under B's schema, which has no `note`
    val e = intercept[java.util.ConcurrentModificationException](
      CdcApply.applyBatch(spark, table, batch))
    assert(e.getMessage.contains("schema"), e.getMessage)
    assert(table.currentCommit().get.version == v0 + 1)
    CdcApply.applyBatch(spark, table, batch)
    assert(table.currentCommit().get.version == v0 + 2)
    // a rename makes every read scan each dir under its writer schema
    table.renameColumn("text", "body")
    val got = table.read(spark).where(col("conv_id") === conv && col("body") === "wide")
      .select("note").collect().map(_.getString(0)).toSeq
    assert(got == Seq("from-A"), s"key $conv reads note $got")
    assert(table.read(spark).where(col("body") === "from-B").count() == 1L)
  }

  test("a commit against a stale base composes with a disjoint commit and refuses an overlapping one") {
    val (table, _) = seeded()
    val stale = table.currentCommit()
    val (v0, schema) = (stale.get.version, stale.get.schema)
    val b = new LakeTable(table.location, numBuckets = 8)
    val (relB, nB, _, txB) = writeDelta(b, v0 + 1, bucket = 2, "from-B")
    b.commit(stale, schema, Map.empty, Map.empty, txB, -1L, Map.empty,
      deltaAdds = Map(2 -> (relB, nB)))
    // bucket 5 is untouched since the stale base: composes on B's head
    val (relA, nA, _, txA) = writeDelta(table, v0 + 2, bucket = 5, "from-A")
    val a = table.commit(base = stale, schema, Map.empty, Map.empty, txA, -1L, Map.empty,
      deltaAdds = Map(5 -> (relA, nA)))
    assert(a.version == v0 + 2 && a.deltas("2").nonEmpty && a.deltas("5").nonEmpty, s"$a")
    // bucket 2 moved since the stale base: refused, nothing published
    val (relC, nC, _, txC) = writeDelta(table, v0 + 3, bucket = 2, "stale")
    val e = intercept[java.util.ConcurrentModificationException] {
      table.commit(base = stale, schema, Map.empty, Map.empty, txC, -1L, Map.empty,
        deltaAdds = Map(2 -> (relC, nC)))
    }
    assert(e.getMessage.contains("buckets 2"), e.getMessage)
    assert(table.currentCommit().get.version == v0 + 2)
  }

  test("disjoint-bucket commits: the race loser retries and BOTH land") {
    val (table, _) = seeded()
    val v0 = table.currentCommit().get.version
    val schema = table.currentCommit().get.schema
    // writer B will land v0+1 inside A's publish window; A's retry
    // then lands v0+2 — dir names are version-aligned up front
    val b = new LakeTable(table.location, numBuckets = 8)
    val (relB, nB, convB, txB) = writeDelta(b, v0 + 1, bucket = 2, "from-B")
    val (relA, nA, convA, txA) = writeDelta(table, v0 + 2, bucket = 5, "from-A")
    val base = table.currentCommit()
    table.testBeforePublish = () =>
      b.commit(b.currentCommit(), schema, Map.empty, Map.empty, txB, -1L, Map("writer" -> 2L),
        deltaAdds = Map(2 -> (relB, nB)))
    table.commit(base, schema, Map.empty, Map.empty, txA, -1L, Map("writer" -> 1L),
      deltaAdds = Map(5 -> (relA, nA)))

    val head = table.currentCommit().get
    assert(head.version == v0 + 2, s"expected both commits, head=$head")
    assert(head.deltas("2") == Seq(relB.split("/").init.mkString("/")) ||
      head.deltas("2").head.startsWith(f"data/c${v0 + 1}%012dd"))
    assert(head.deltas("5").head.startsWith(f"data/c${v0 + 2}%012dd"))
    // both writers' rows are visible in the resolved read
    val texts = table.read(spark)
      .where(col("conv_id").isin(convA, convB) && col("_txid").isin(txA, txB))
      .select("text").collect().map(_.getString(0)).toSet
    assert(texts == Set("from-A", "from-B"), s"got $texts")
  }

  test("overlapping buckets: the loser refuses cleanly; a redo lands") {
    val (table, _) = seeded()
    val v0 = table.currentCommit().get.version
    val schema = table.currentCommit().get.schema
    val b = new LakeTable(table.location, numBuckets = 8)
    // both writers target bucket 3 — B wins the race, A must refuse
    val (relB, nB, _, txB) = writeDelta(b, v0 + 1, bucket = 3, "winner")
    val (relA, nA, _, txA) = writeDelta(table, v0 + 2, bucket = 3, "stale")
    val base = table.currentCommit()
    table.testBeforePublish = () =>
      b.commit(b.currentCommit(), schema, Map.empty, Map.empty, txB, -1L, Map.empty,
        deltaAdds = Map(3 -> (relB, nB)))
    val e = intercept[java.util.ConcurrentModificationException] {
      table.commit(base, schema, Map.empty, Map.empty, txA, -1L, Map.empty,
        deltaAdds = Map(3 -> (relA, nA)))
    }
    assert(e.getMessage.contains("buckets 3"), e.getMessage)
    assert(table.currentCommit().get.version == v0 + 1) // only B landed
    // redo against the new snapshot (fresh read → fresh delta) lands
    val (relA2, nA2, convA2, txA2) = writeDelta(table, v0 + 2, bucket = 3, "redo")
    table.commit(table.currentCommit(), schema, Map.empty, Map.empty, txA2, -1L, Map.empty,
      deltaAdds = Map(3 -> (relA2, nA2)))
    assert(table.currentCommit().get.version == v0 + 2)
    val got = table.read(spark)
      .where(col("conv_id") === convA2 && col("_txid") === txA2)
      .select("text").head().getString(0)
    assert(got == "redo")
  }

  test("two first commits racing on an EMPTY table: overlap refuses, never composes") {
    // the conflict window's lower bound is version 0 (no commits read),
    // so the winner lands as log.head with NO retained predecessor —
    // modifiedBucketsSince must still count the head's own buckets, or
    // the loser's rewritten base pointer silently clobbers the winner's
    val loc = tmpDir("occ-empty")
    val a = new LakeTable(loc, numBuckets = 8)
    val b = new LakeTable(loc, numBuckets = 8)
    import spark.implicits._
    def writeBase(version: Long, text: String) = {
      val df = Seq(("c1", 0, text, version, s"e$version"))
        .toDF("conv_id", "turn_idx", "text", "_txid", "_etag")
      val rel = f"data/c$version%012d/_bucket=3"
      df.coalesce(1).write.mode("overwrite").parquet(s"$loc/$rel")
      (rel, df.schema)
    }
    val (relB, schema) = writeBase(1, "winner")
    val (relA, _) = writeBase(2, "stale")
    a.testBeforePublish = () =>
      b.commit(None, schema, Map(3 -> Some(relB)), Map(3 -> 1L), 1L, -1L, Map.empty)
    val e = intercept[java.util.ConcurrentModificationException] {
      a.commit(None, schema, Map(3 -> Some(relA)), Map(3 -> 1L), 2L, -1L, Map.empty)
    }
    assert(e.getMessage.contains("buckets 3"), e.getMessage)
    val head = a.currentCommit().get
    assert(head.version == 1L && head.buckets("3") == relB,
      s"winner's base pointer must survive, head=$head")
  }

  test("compaction racing the streaming tail's delta commit conflicts cleanly") {
    val (table, events) = seeded()
    val schema = table.currentCommit().get.schema
    val compactor = new LakeTable(table.location, numBuckets = 8)
    val v0 = table.currentCommit().get.version
    // tail prepares a delta for bucket 1; compaction (rewrites EVERY
    // bucket) lands first — the tail's commit must refuse, because its
    // gate read pre-compaction state of a bucket compaction rewrote
    val (relA, nA, _, txA) = writeDelta(table, v0 + 2, bucket = 1, "tail")
    val base = table.currentCommit()
    table.testBeforePublish = () =>
      compactor.compact(spark, tombstoneHorizon = compactor.txidWatermark)
    intercept[java.util.ConcurrentModificationException] {
      table.commit(base, schema, Map.empty, Map.empty, txA, -1L, Map.empty,
        deltaAdds = Map(1 -> (relA, nA)))
    }
    // the compaction snapshot is intact and fully readable
    val after = table.currentCommit().get
    assert(after.metrics.contains("compaction"))
    assertSameRows(
      table.read(spark).select("conv_id", "turn_idx", "text"),
      Corpus.oracleFinalState(events).select("conv_id", "turn_idx", "text"))
  }

  test("rebucket racing the tail: stream wins, rebucket refuses then retries") {
    val (table, events) = seeded()
    val v0 = table.currentCommit().get.version
    val schema = table.currentCommit().get.schema
    val tail = new LakeTable(table.location, numBuckets = 8)
    // the tail lands a delta inside rebucket's publish window; rebucket
    // rewrites EVERY bucket, so its retry must see the overlap and
    // refuse — composing would resurrect the pre-delta bucket contents
    val (relB, nB, convB, txB) = writeDelta(tail, v0 + 1, bucket = 4, "tail-won")
    table.testBeforePublish = () =>
      tail.commit(tail.currentCommit(), schema, Map.empty, Map.empty, txB, -1L, Map.empty,
        deltaAdds = Map(4 -> (relB, nB)))
    intercept[java.util.ConcurrentModificationException] {
      table.rebucket(spark, 16)
    }
    assert(table.effectiveNumBuckets == 8, "failed rebucket must not change layout")
    // the retry re-reads the table INCLUDING the tail's delta and lands
    val c = table.rebucket(spark, 16)
    assert(c.metrics.get(LakeTable.NumBucketsKey).contains(16L))
    assert(table.effectiveNumBuckets == 16)
    val got = table.read(spark)
      .where(col("conv_id") === convB && col("_txid") === txB)
      .select("text").collect().map(_.getString(0)).toSeq
    assert(got == Seq("tail-won"), s"tail's delta lost by rebucket retry: $got")
    // no split hash space: every live base pointer comes from the
    // rebucket commit's layout
    val head = table.currentCommit().get
    assert(head.deltas.isEmpty)
    assert(head.buckets.keySet.forall(_.toInt < 16))
    assert(head.buckets.values.forall(_.startsWith(f"data/c${c.version}%012d")))
  }

  test("rebucket wins mid-flight; the stream's replayed batch re-reads the new layout") {
    val (table, events) = seeded()
    val v0 = table.currentCommit().get.version
    val schema = table.currentCommit().get.schema
    val maintenance = new LakeTable(table.location, numBuckets = 8)
    // the tail prepared a delta against the OLD 8-bucket layout;
    // rebucket(16) lands first — the tail's commit must refuse (its
    // bucket ids and dir keys mean nothing under the new layout)
    val (relA, nA, _, txA) = writeDelta(table, v0 + 2, bucket = 1, "stale-layout")
    val base = table.currentCommit()
    table.testBeforePublish = () => { maintenance.rebucket(spark, 16); () }
    intercept[java.util.ConcurrentModificationException] {
      table.commit(base, schema, Map.empty, Map.empty, txA, -1L, Map.empty,
        deltaAdds = Map(1 -> (relA, nA)))
    }
    assert(table.effectiveNumBuckets == 16)
    // checkpoint replay redoes the batch against the CURRENT snapshot:
    // applyBatch hashes into the new 16-bucket space transparently
    val replayRow = table.readBuckets(spark, Seq(3))
      .orderBy("conv_id", "turn_idx").limit(1)
      .withColumn("_txid", lit(table.txidWatermark + 1))
      .withColumn("_op", lit("update"))
      .withColumn("_etag", lit("replayed"))
      .withColumn("text", lit("new-layout"))
      .drop("_deleted")
    CdcApply.applyBatch(spark, table, replayRow)
    val conv = replayRow.select("conv_id").head().getString(0)
    val got = table.read(spark).where(col("conv_id") === conv &&
      col("_etag") === "replayed").select("text").head().getString(0)
    assert(got == "new-layout")
    // never a split hash space: all data reachable, buckets within the
    // new layout, and the full resolved read still matches the oracle
    // for every untouched key
    val head = table.currentCommit().get
    assert((head.buckets.keySet ++ head.deltas.keySet).forall(_.toInt < 16))
    val turn = replayRow.select("turn_idx").head().getInt(0)
    assertSameRows(
      table.read(spark).where(!(col("conv_id") === conv && col("turn_idx") === turn))
        .select("conv_id", "turn_idx", "text"),
      Corpus.oracleFinalState(events)
        .where(!(col("conv_id") === conv && col("turn_idx") === turn))
        .select("conv_id", "turn_idx", "text"))
  }

  test("concurrent readers leave the listing threshold at its pre-read value") {
    // every read flips this session-global key while it builds its
    // scans; interleaved set/restore pairs on two threads would leak
    // the flipped value to every later query of the session
    val (table, _) = seeded()
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val before = spark.conf.get(key)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      (0 until 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until 25).foreach(_ => table.read(spark))
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    assert(spark.conf.get(key) == before,
      s"$key is ${spark.conf.get(key)} after concurrent reads, was $before")
  }

  test("a retried commit never lowers the watermark a disjoint writer raised") {
    val (table, _) = seeded()
    val c0 = table.currentCommit().get
    val (v0, wm, schema) = (c0.version, c0.txidWatermark, c0.schema)
    val b = new LakeTable(table.location, numBuckets = 8)
    val (relB, nB, _, _) = writeDelta(b, v0 + 1, bucket = 2, "from-B")
    val (relA, nA, _, _) = writeDelta(table, v0 + 2, bucket = 5, "from-A")
    // B (say a redrive) publishes a higher watermark inside A's window;
    // A (say the tail) retries onto B's commit
    table.testBeforePublish = () =>
      b.commit(b.currentCommit(), schema, Map.empty, Map.empty, wm + 10, -1L, Map.empty,
        deltaAdds = Map(2 -> (relB, nB)))
    val a = table.commit(Some(c0), schema, Map.empty, Map.empty, wm + 1, -1L, Map.empty,
      deltaAdds = Map(5 -> (relA, nA)))
    assert(a.version == v0 + 2 && table.currentCommit().get.txidWatermark == wm + 10,
      s"head watermark ${table.currentCommit().get.txidWatermark}, want ${wm + 10}")
    val marks = table.commitLog().map(_.txidWatermark)
    assert(marks == marks.sorted, s"watermarks not monotone: $marks")
    assert(table.versionAt(wm + 10) == Some(v0 + 2))
  }
}
