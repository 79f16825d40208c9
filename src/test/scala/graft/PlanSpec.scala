package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.table.LakeTable
import graft.cdc.CdcApply
import graft.model.Corpus

/** Physical-plan quality gates: these queries must keep the plan shapes
  * that make them viable at 100 TB — filters pushed into the parquet
  * scan, column pruning, broadcast for dimension joins, partial (map-
  * side) aggregation, whole-stage codegen on the hot path. A regression
  * here is a performance bug even when results stay correct. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val q = SparkEntry.queries(name)
    val df = q(spark, sf)
    df.collect() // materialize so AQE finalizes the physical plan
    df.queryExecution.executedPlan.toString
  }

  /** Expand through AQE plans, query stages (incl. Spark 4's
    * ResultQueryStage) and cached relations: their inner plans are
    * internal state, not children, so a plain .collect stops at them. */
  private def flattenPlan(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => flattenPlan(a.executedPlan)
    case s: QueryStageExec => flattenPlan(s.plan)
    case r: ReusedExchangeExec => flattenPlan(r.child)
    case m: InMemoryTableScanExec => flattenPlan(m.relation.cachedPlan)
    case other => other.children.flatMap(flattenPlan)
  })

  test("q02 filter pushdown reaches the parquet scan") {
    val p = planOf("q02_filter_pushdown")
    assert(p.contains("PushedFilters:") &&
      (p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("l_shipdate")),
      s"no pushed filters:\n$p")
  }

  test("q02 scan is column-pruned (ReadSchema excludes unused columns)") {
    val p = planOf("q02_filter_pushdown")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_extendedprice") && !readSchema.contains("l_orderkey"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("q04 dimension joins are broadcast (no shuffle of the fact side)") {
    val p = planOf("q04_dim_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("q01 aggregation is partial+final (map-side combine)") {
    val p = planOf("q01_pricing_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
  }

  test("q01 hot path is inside whole-stage codegen") {
    val p = planOf("q01_pricing_agg")
    // "*(n) Operator" marks a whole-stage-codegen span in the simple rendering
    assert(p.contains("WholeStageCodegen") || "\\*\\(\\d+\\) ".r.findFirstIn(p).isDefined,
      s"no codegen spans:\n$p")
  }

  test("lake table point read prunes to one bucket (scan lists one directory)") {
    val table = new LakeTable(tmpDir("planprune"), numBuckets = 16)
    CdcApply.applyBatch(spark, table,
      Corpus.changeEvents(spark, 2000, nConvs = 50, maxTurns = 8))
    val buckets = table.currentCommit().get.buckets
    val oneBucket = buckets.keys.head.toInt
    val pruned = table.readBuckets(spark, Seq(oneBucket))
    val files = pruned.inputFiles
    assert(files.nonEmpty && files.forall(_.contains(s"_bucket=$oneBucket")),
      s"bucket pruning leaked files: ${files.take(3).mkString(",")}")
  }

  test("merge-apply plan: target side scans only touched buckets") {
    val table = new LakeTable(tmpDir("planmerge"), numBuckets = 16)
    val events = Corpus.changeEvents(spark, 2000, nConvs = 50, maxTurns = 8)
    CdcApply.applyBatch(spark, table, events)
    val allBuckets = table.currentCommit().get.buckets.size
    import spark.implicits._
    val one = Seq((99999L, "update", "ee", "conv00000001", 0, "user", "x",
      null: String, java.sql.Timestamp.valueOf("2014-03-12 00:00:00")))
      .toDF("_txid", "_op", "_etag", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val stats = CdcApply.applyBatch(spark, table, one)
    assert(stats.bucketsTouched == 1 && allBuckets > 1,
      s"merge touched ${stats.bucketsTouched} of $allBuckets buckets")
  }

  test("broadcast merge: the TARGET side is never shuffled (batch-side collapse only)") {
    val events = Corpus.changeEvents(spark, 3000, nConvs = 50, maxTurns = 8)
    def loaded(name: String) = {
      val t = new LakeTable(tmpDir(name), numBuckets = 16)
      CdcApply.applyBatch(spark, t, events.where(col("_txid") <= 2000))
      t
    }
    // the steady-state delta write is ONE job: it is allowed to contain
    // the O(batch) winner-collapse exchanges, but NO exchange may sit
    // above a scan of the TABLE's files — at 100 TB that is the line
    // between "read touched buckets at disk bandwidth" and "re-shuffle
    // the table every batch"
    def targetShuffles(p: org.apache.spark.sql.execution.SparkPlan,
        tableLoc: String): Seq[String] = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
      import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
      val root = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      root.collect {
        case e: ShuffleExchangeExec if e.treeString.contains(tableLoc) =>
          e.treeString
        case s: ShuffleQueryStageExec if s.plan.treeString.contains(tableLoc) =>
          s.plan.treeString
        case r: ReusedExchangeExec if r.child.isInstanceOf[ShuffleExchangeExec] &&
            r.child.treeString.contains(tableLoc) => r.child.treeString
      }
    }
    // applies `batch` onto `table`, capturing every query execution
    // during the apply, checks the write plans and returns them
    def checkedApply(table: LakeTable, batch: org.apache.spark.sql.DataFrame) = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.execution.QueryExecution]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          plans.add(qe)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        val s = CdcApply.applyBatch(spark, table, batch)
        assert(s.applied > 0)
        // listener delivery is async — poll for the write-job plan
        import scala.jdk.CollectionConverters._
        def writePlans = plans.iterator().asScala.toSeq.filter { qe =>
          val p = qe.executedPlan.toString
          p.contains("WriteFiles") || p.contains("InsertIntoHadoopFsRelation")
        }
        var tries = 0
        while (writePlans.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
        val wp = writePlans
        assert(wp.nonEmpty, "no write-job plan captured")
        wp.foreach { qe =>
          // the write job must actually read the table (the gate scan)...
          assert(qe.executedPlan.toString.contains(table.location) ||
            wp.size > 1, s"write plan reads no table files:\n${qe.executedPlan}")
          // ...but never through a shuffle
          val bad = targetShuffles(qe.executedPlan, table.location)
          assert(bad.isEmpty,
            "table scan under a shuffle exchange in the delta write plan:\n" +
              bad.headOption.getOrElse(""))
        }
        // and the steady write moves PAYLOAD through exactly one
        // exchange — the batch's by-bucket hash (the winner groupBy,
        // broadcast gate and writer all keep that layout). The only
        // other exchange permitted is the gate's per-key max-txid
        // aggregation, which is NARROW (merge keys + txid, no payload
        // columns) and O(batch·depth) rows — every other shape (a
        // writer repartition, a table-side shuffle) is a regression.
        import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        val shuffles = wp.flatMap(qe => flattenPlan(qe.executedPlan).distinct
          .collect { case e: ShuffleExchangeExec => e })
        val payloadShuffles = shuffles.filterNot(_.output.length <= 3)
        assert(payloadShuffles.size == 1,
          s"steady delta write has ${payloadShuffles.size} payload-bearing " +
            s"exchanges (want exactly 1: the batch's by-bucket hash):\n" +
            payloadShuffles.map(_.treeString.take(400)).mkString("\n"))
        assert(payloadShuffles.head.outputPartitioning.toString.contains("__bkt"),
          "the one payload exchange is not the by-bucket hash: " +
            payloadShuffles.head.outputPartitioning.toString)
        wp
      } finally spark.listenerManager.unregister(listener)
    }
    checkedApply(loaded("planbcast"), events.where(col("_txid") > 2000))
    // an overlapping batch (1501..3000 onto 1..2000) runs the gate: its
    // write plan scans the stored data dirs, and the same checks hold
    val over = loaded("planbcast-over")
    val wp = checkedApply(over, events.where(col("_txid") > 1500))
    assert(over.currentCommit().get.metrics("versionGate") == 1L)
    val dataDir = java.nio.file.Paths.get(over.location, "data").toAbsolutePath.toString
    assert(wp.exists(qe => flattenPlan(qe.executedPlan).exists {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.contains(dataDir))
        case _ => false
      }), s"the gated write plan scans no stored data dir:\n${wp.map(_.executedPlan).mkString("\n")}")
  }

  test("consolidation write reads only delta stacks — never a base file") {
    import spark.implicits._
    val table = new LakeTable(tmpDir("plancons"), numBuckets = 4)
    CdcApply.applyBatch(spark, table,
      Corpus.changeEvents(spark, 2000, nConvs = 50, maxTurns = 8))
    def patch(txid: Long) =
      Seq((txid, "update", s"e$txid", "conv00000001", 0, "user", s"p$txid",
        null: String, java.sql.Timestamp.valueOf("2014-03-12 00:00:00")))
        .toDF("_txid", "_op", "_etag", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    CdcApply.applyBatch(spark, table, patch(100001), maxDeltaDepth = 2)
    CdcApply.applyBatch(spark, table, patch(100002), maxDeltaDepth = 2)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // third patch hits the cap with a tiny stack → pure CONSOLIDATION
      val s = CdcApply.applyBatch(spark, table, patch(100003), maxDeltaDepth = 2)
      assert(s.applied == 1)
      val c = table.currentCommit().get
      assert(c.metrics("consolidatedBuckets") == 1L && c.metrics("foldedBuckets") == 0L)
      import scala.jdk.CollectionConverters._
      var tries = 0
      def writePlans = plans.iterator().asScala.toSeq.filter { qe =>
        val p = qe.executedPlan.toString
        p.contains("WriteFiles") || p.contains("InsertIntoHadoopFsRelation")
      }
      while (writePlans.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      assert(writePlans.nonEmpty, "no write-job plan captured")
      // the bases are whatever the commit says they are (a delta may
      // sit in an undecorated data/cV dir), each matched as a whole path
      // component so _bucket=1 never matches _bucket=10
      val bases = c.buckets.values.toSeq.map(b => (java.util.regex.Pattern.quote(b) + "(?![0-9])").r)
      assert(bases.nonEmpty)
      writePlans.foreach { qe =>
        val p = qe.executedPlan.toString
        assert(bases.forall(_.findFirstIn(p).isEmpty),
          s"consolidation write scans a BASE file (O(stack) promise broken):\n$p")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("version-gate read scans only (merge keys, _txid) — pruning survives the base∪delta union") {
    val table = new LakeTable(tmpDir("plangate"), numBuckets = 8)
    val ev = Corpus.changeEvents(spark, 3000, nConvs = 50, maxTurns = 8)
    CdcApply.applyBatch(spark, table, ev.where(col("_txid") <= 1500))
    // second apply stacks a delta, so the gate read unions base + delta
    CdcApply.applyBatch(spark, table,
      ev.where(col("_txid") > 1500 && col("_txid") <= 1600))
    assert(table.currentCommit().get.deltaDepth >= 1)
    val gate = table.readBuckets(spark, 0 until 8, resolve = false)
      .select(col("conv_id"), col("turn_idx"), col("_txid"))
    gate.collect()
    val scans = gate.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty, "no FileScan in gate plan")
    scans.foreach { l =>
      assert(!l.contains("text") && !l.contains("role") && !l.contains("_etag"),
        s"gate scan reads payload columns: ${l.trim.take(200)}")
    }
  }

  test("point-key read skips row groups (sorted files + min/max pushdown)") {
    // table files are written sorted by (conv_id, turn_idx) inside each
    // task precisely so point/gate reads can skip row groups on footer
    // min/max stats. Force many small row groups, then A/B the parquet
    // scan's output rows with filter pushdown off vs on: the pushed
    // point predicate must eliminate most row groups BEFORE they are
    // materialized (the vectorized reader does no row-level filtering,
    // so scan numOutputRows ≈ rows of surviving row groups).
    val hconf = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hconf.get("parquet.block.size"))
    hconf.setInt("parquet.block.size", 32 * 1024)
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val table = new LakeTable(tmpDir("rowskip"), numBuckets = 1)
      CdcApply.applyBatch(spark, table,
        Corpus.changeEvents(spark, 40000, nConvs = 2000, maxTurns = 10),
        pruneBuckets = false)
      val key = table.read(spark).select("conv_id").head().getString(0)
      def scannedRows(pushdown: Boolean): (Long, String) = {
        spark.conf.set("spark.sql.parquet.filterPushdown", pushdown)
        val df = table.read(spark).where(col("conv_id") === key)
        df.collect()
        val scans = df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }
        (scans.map(_.metrics("numOutputRows").value).sum,
          df.queryExecution.executedPlan.toString)
      }
      val (without, _) = scannedRows(pushdown = false)
      val (withPd, plan) = scannedRows(pushdown = true)
      assert(plan.contains("PushedFilters") && plan.contains("EqualTo(conv_id"),
        s"point predicate not pushed:\n${plan.take(600)}")
      assert(withPd > 0, "scan produced nothing")
      assert(withPd * 3 <= without,
        s"row groups not skipped: scanned $withPd of $without physical rows")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
      spark.conf.set("spark.sql.parquet.filterPushdown", true)
      oldBlock match {
        case Some(v) => hconf.set("parquet.block.size", v)
        case None => hconf.unset("parquet.block.size")
      }
    }
  }

  /** Gate for one bulk apply of `ev` onto `table`: the merge is the
    * shared latest-per-key resolve, so the write job has exactly ONE
    * exchange — events ∪ stored rows hashed on (bucket, salt) — and no
    * join at all, and files per bucket stay bounded by the salt width.
    * A second exchange means the merged table crosses the network again
    * (at 100 TB, a full extra copy of the table per load); a join means
    * the full-outer merge is back. */
  private def assertBulkWriteShape(table: LakeTable,
      ev: org.apache.spark.sql.DataFrame): Unit =
    withBulkApplyPlans(table, ev, pruneBuckets = false,
        CdcApply.MaxDeltaDepth) { (_, writePlans) =>
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      writePlans.foreach { qe =>
        val nodes = flattenPlan(qe.executedPlan).distinct
        val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
        assert(exchanges.size == 1,
          s"bulk merge write has ${exchanges.size} exchanges (want 1 — " +
            s"events ∪ stored rows on (bucket, salt)):\n${qe.executedPlan}")
        val joins = nodes.filter(_.nodeName.contains("Join"))
        assert(joins.isEmpty,
          s"bulk merge write plans a join (${joins.map(_.nodeName).mkString(", ")}):" +
            s"\n${qe.executedPlan}")
      }
      // files-per-bucket stays bounded by the salt width
      val dataDir = java.nio.file.Paths.get(table.location, "data")
      val bucketDirs = java.nio.file.Files.list(dataDir).iterator().asScala
        .filter(_.getFileName.toString.startsWith("c")).flatMap { c =>
          java.nio.file.Files.list(c).iterator().asScala
            .filter(_.getFileName.toString.startsWith("_bucket="))
        }.toSeq
      bucketDirs.foreach { b =>
        val nFiles = java.nio.file.Files.list(b).iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet"))
        assert(nFiles <= CdcApply.SaltBuckets,
          s"bucket dir $b has $nFiles files (> salt width ${CdcApply.SaltBuckets})")
      }
    }

  /** Runs one bulk apply of `ev` onto `table` and hands `check` every
    * plan the apply executed plus the subset that are file writes. */
  private def withBulkApplyPlans(table: LakeTable,
      ev: org.apache.spark.sql.DataFrame, pruneBuckets: Boolean,
      maxDeltaDepth: Int)(
      check: (Seq[org.apache.spark.sql.execution.QueryExecution],
        Seq[org.apache.spark.sql.execution.QueryExecution]) => Unit): Unit = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val s = CdcApply.applyBatch(spark, table, ev, pruneBuckets = pruneBuckets,
        maxDeltaDepth = maxDeltaDepth)
      assert(s.applied > 0)
      val m = table.currentCommit().get.metrics
      assert(m("foldedBuckets") == m("bucketsTouched"))
      import scala.jdk.CollectionConverters._
      def writePlans = plans.iterator().asScala.toSeq.filter { qe =>
        val p = qe.executedPlan.toString
        p.contains("WriteFiles") || p.contains("InsertIntoHadoopFsRelation")
      }
      var tries = 0
      while (writePlans.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      assert(writePlans.nonEmpty, "no write-job plan captured")
      check(plans.iterator().asScala.toSeq, writePlans)
    } finally spark.listenerManager.unregister(listener)
  }

  test("bulk merge write shuffles exactly twice — the merged table is never re-shuffled") {
    // A pre-scanned apply that folds every touched bucket (depth cap 0)
    // end to end: one exchange in the pre-scan that collects the touched
    // buckets (≤ numBuckets values), one in the merge write (raw events
    // ∪ stored rows on (bucket, salt)).
    // A third means the merged table crosses the network again — at
    // 100 TB, a full extra copy of the table per load.
    val table = new LakeTable(tmpDir("planbulk2"), numBuckets = 8)
    val ev = Corpus.changeEvents(spark, 6000, nConvs = 60, maxTurns = 8)
    CdcApply.applyBatch(spark, table, ev.where(col("_txid") <= 3000),
      pruneBuckets = false)
    withBulkApplyPlans(table, ev.where(col("_txid") > 3000),
        pruneBuckets = true, maxDeltaDepth = 0) { (plans, writePlans) =>
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      def exchanges(qe: org.apache.spark.sql.execution.QueryExecution) =
        flattenPlan(qe.executedPlan).distinct.collect { case e: ShuffleExchangeExec => e }
      val total = plans.map(exchanges(_).size).sum
      assert(total == 2,
        s"bulk apply has $total exchanges (want 2 — pre-scan + merge write):\n" +
          plans.map(_.executedPlan).mkString("\n"))
      // the merged (aggregated) output is never under an exchange
      writePlans.foreach { qe =>
        val reshuffled = exchanges(qe).exists(e =>
          flattenPlan(e.child).exists(_.nodeName.contains("Aggregate")))
        assert(!reshuffled, s"merged output re-shuffled:\n${qe.executedPlan}")
      }
    }
  }

  test("bulk merge write shuffles exactly once, with no join — the merged table is never re-shuffled") {
    val table = new LakeTable(tmpDir("planbulk"), numBuckets = 8)
    val ev = Corpus.changeEvents(spark, 6000, nConvs = 60, maxTurns = 8)
    // first bulk load seeds the table; the SECOND bulk apply is the
    // interesting plan (non-empty target side)
    CdcApply.applyBatch(spark, table, ev.where(col("_txid") <= 3000),
      pruneBuckets = false)
    assertBulkWriteShape(table, ev.where(col("_txid") > 3000))
  }

  test("bulk merge onto delta stacks shuffles exactly once, with no join") {
    val table = new LakeTable(tmpDir("planbulkdelta"), numBuckets = 8)
    val ev = Corpus.changeEvents(spark, 6000, nConvs = 60, maxTurns = 8)
    CdcApply.applyBatch(spark, table, ev.where(col("_txid") <= 3000),
      pruneBuckets = false)
    // a broadcast-sized apply stacks deltas on the base
    CdcApply.applyBatch(spark, table,
      ev.where(col("_txid") > 3000 && col("_txid") <= 3500))
    assert(table.currentCommit().get.deltaDepth >= 1)
    assertBulkWriteShape(table, ev.where(col("_txid") > 3500))
  }

  test("text-analysis queries contain no UDFs (pure codegen expressions)") {
    Seq("q22_text_stats", "q23_quality_score", "q25_fingerprint").foreach { n =>
      val p = planOf(n)
      assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
        s"$n uses a UDF:\n$p")
    }
  }

  test("round-5 operators stay UDF-free: image codec, reorg precedence, footer ib") {
    // q36 = synth + header decode (native expressions), q57 = the
    // precedence flatten (json_object_keys/get_json_object projection),
    // q58's Spark side is a driver-side footer read over its own write
    Seq("q36_multimodal_decode", "q57_reorg_precedence").foreach { n =>
      val p = planOf(n)
      assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
        s"$n uses a UDF:\n$p")
    }
    // the decode expression itself lives inside a WholeStageCodegen span
    val p36 = planOf("q36_multimodal_decode")
    assert(p36.contains("graft_image_meta") || p36.contains("ImageMeta") ||
      p36.toLowerCase.contains("image_meta"),
      s"q36 plan lost the native decode expression:\n$p36")
  }

  /** Runs `f` and returns its result plus every query it executed. */
  private def plansDuring[T](f: => T)
      : (T, Seq[org.apache.spark.sql.execution.QueryExecution]) = {
    import org.apache.spark.sql.execution.QueryExecution
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    org.apache.spark.sql.graftshim.drainListeners(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = f
      org.apache.spark.sql.graftshim.drainListeners(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (out, plans.iterator().asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Runs `f` and returns its result plus the root paths of every file
    * scan that a query executed during it planned. */
  private def scannedRootsDuring[T](f: => T): (T, Seq[String]) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val (out, qes) = plansDuring(f)
    assert(qes.exists(_.executedPlan.toString.contains("Aggregate")),
      "no apply query captured")
    (out, qes.flatMap(qe => flattenPlan(qe.executedPlan).collect {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
    }.flatten))
  }

  /** A 16-bucket table holding events 1..2000 (watermark 2000), the
    * corpus it came from, and the absolute prefix of its data dirs. */
  private def gateTable(name: String) = {
    val table = new LakeTable(tmpDir(name), numBuckets = 16)
    val events = Corpus.changeEvents(spark, 3000, nConvs = 50, maxTurns = 8)
    CdcApply.applyBatch(spark, table, events.where(col("_txid") <= 2000))
    assert(table.txidWatermark == 2000L)
    (table, events, java.nio.file.Paths.get(table.location, "data").toAbsolutePath.toString)
  }

  test("watermark skip: an in-order apply scans no stored data dir") {
    val (table, events, dataDir) = gateTable("planskip")
    val (s, roots) = scannedRootsDuring(CdcApply.applyBatch(spark, table,
      events.where(col("_txid") > 2000 && col("_txid") <= 2300)))
    assert(s.applied > 0 && table.currentCommit().get.deltaDepth == 1)
    assert(!roots.exists(_.contains(dataDir)),
      s"in-order apply scanned stored dirs: ${roots.filter(_.contains(dataDir)).take(4)}")
    assert(table.currentCommit().get.metrics("versionGate") == 0L)
    assertSameRows(table.read(spark).select("conv_id", "turn_idx", "text"),
      Corpus.oracleFinalState(events.where(col("_txid") <= 2300))
        .select("conv_id", "turn_idx", "text"))
  }

  test("a small in-order batch writes one file per touched bucket, through no coalesce") {
    import org.apache.spark.sql.execution.CoalesceExec
    import scala.jdk.CollectionConverters._
    val (table, events, _) = gateTable("plansmall")
    val prev = table.currentCommit().get
    val (s, qes) = plansDuring(CdcApply.applyBatch(spark, table,
      events.where(col("_txid") > 2000 && col("_txid") <= 2300)))
    val c = table.currentCommit().get
    assert(s.applied > 0 && c.metrics("deltaCommit") == 1L, c.metrics)
    val writes = qes.filter { qe =>
      val p = qe.executedPlan.toString
      p.contains("WriteFiles") || p.contains("InsertIntoHadoopFsRelation")
    }
    assert(writes.nonEmpty, "no write-job plan captured")
    val coalesced = writes.filter(qe =>
      flattenPlan(qe.executedPlan).exists(_.isInstanceOf[CoalesceExec]))
    assert(coalesced.isEmpty,
      s"the delta write is coalesced:\n${coalesced.map(_.executedPlan).mkString("\n")}")
    // one flat dir of at most one file per write task
    val Seq(rel) = dataDirsOf(table, c.version)
    assert(rel.startsWith(f"data/c${c.version}%012dd-"), rel)
    val dir = java.nio.file.Paths.get(table.location, rel)
    val entries = java.nio.file.Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSeq
    val files = entries.filter(_.endsWith(".parquet"))
    assert(!entries.exists(_.startsWith("_bucket=")) &&
      files.size <= spark.sessionState.conf.numShufflePartitions,
      s"want at most ${spark.sessionState.conf.numShufflePartitions} flat files in $rel: $entries")
    // each touched bucket gains one entry: the one file holding all its rows
    val rowsByFile = files.map(f => f -> spark.read.parquet(dir.resolve(f).toString)
      .groupBy("_bucket").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap).toMap
    val touched = c.deltas.keys.filter(b => c.deltaDepthOf(b.toInt) == prev.deltaDepthOf(b.toInt) + 1)
    assert(touched.size == s.bucketsTouched, s"${touched.size} stacks grew, ${s.bucketsTouched} touched")
    touched.foreach { b =>
      val entry = c.deltas(b).last
      val file = entry.stripPrefix(s"$rel/")
      assert(files.contains(file), s"bucket $b's entry $entry names no file of $rel")
      assert(rowsByFile(file).get(b.toInt).contains(c.deltaRowCounts(b).last) &&
        rowsByFile.values.map(_.getOrElse(b.toInt, 0L)).sum == c.deltaRowCounts(b).last,
        s"bucket $b's rows are not all in $file: $rowsByFile")
    }
  }

  test("watermark skip: re-emitting the watermark's own event still gates and commits nothing") {
    val (table, events, dataDir) = gateTable("planskipeq")
    val v = table.currentCommit().get.version
    val (s, roots) = scannedRootsDuring(CdcApply.applyBatch(spark, table,
      events.where(col("_txid") === 2000)))
    assert(s.applied == 0L && table.currentCommit().get.version == v)
    assert(roots.exists(_.contains(dataDir)), s"the gate scanned no stored dir: $roots")
  }

  test("watermark skip: a null-_txid update keeps the gate and never overwrites its key") {
    import spark.implicits._
    val (table, _, dataDir) = gateTable("planskipnull")
    val key = table.read(spark).orderBy("conv_id", "turn_idx").limit(1)
      .select("conv_id", "turn_idx", "text").head()
    val ts = java.sql.Timestamp.valueOf("2014-03-12 00:00:00")
    val batch = Seq(
      (None: Option[Long], "update", "enull", key.getString(0), key.getInt(1), "user",
        "overwritten", null: String, ts),
      (Some(2001L), "insert", "enew", "convNEW", 0, "user", "new", null: String, ts))
      .toDF("_txid", "_op", "_etag", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val (s, roots) = scannedRootsDuring(CdcApply.applyBatch(spark, table, batch))
    assert(s.applied == 1L && table.currentCommit().get.metrics("versionGate") == 1L)
    assert(roots.exists(_.contains(dataDir)), s"the gate scanned no stored dir: $roots")
    def textOf(conv: String, turn: Int) = table.read(spark)
      .where(col("conv_id") === conv && col("turn_idx") === turn)
      .select("text").collect().map(_.getString(0)).toSeq
    assert(textOf(key.getString(0), key.getInt(1)) == Seq(key.getString(2)))
    assert(textOf("convNEW", 0) == Seq("new"))
  }

  test("replay re-run over a table that holds the changelog broadcasts nothing and commits nothing") {
    val table = new LakeTable(tmpDir("replayrerun"), numBuckets = 8)
    val events = Corpus.changeEvents(spark, 3000, nConvs = 50, maxTurns = 8)
    CdcApply.replay(spark, table, events, nBatches = 3)
    val versions = table.commitLog().map(_.version)
    def dataDirs = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(table.location, "data"))
      import scala.jdk.CollectionConverters._
      try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    }
    val before = dataDirs
    // every range starts at or below the watermark: each batch is
    // unpruned and folds from its raw events — no winner keys broadcast
    val (stats, qes) = plansDuring(CdcApply.replay(spark, table, events, nBatches = 3))
    assert(stats.size == 3 && stats.forall(_.applied == 0L), s"re-run applied: $stats")
    assert(table.commitLog().map(_.version) == versions, "a re-run committed")
    assert(dataDirs == before, s"a re-run left ${dataDirs -- before} behind")
    assert(table.commitLog().forall(_.metrics.get("versionGate").contains(0L)))
    assert(qes.exists(_.executedPlan.toString.contains("Aggregate")), "no apply query captured")
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val bcast = qes.filter(qe => flattenPlan(qe.executedPlan).exists(_.isInstanceOf[BroadcastExchangeExec]))
    assert(bcast.isEmpty, s"a re-run broadcast:\n${bcast.map(_.executedPlan).mkString("\n")}")
    assertSameRows(table.read(spark).select("conv_id", "turn_idx", "text"),
      Corpus.oracleFinalState(events).select("conv_id", "turn_idx", "text"))
  }

  test("a gated batch past Spark's broadcast threshold joins the stored keys through a shuffle") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    // a direct re-apply of a whole 1M-event changelog (~630k distinct
    // keys) plus five fresh inserts: pre-scanned with a txid floor of 1,
    // so its DELTA winners gate, and their keys are far past the
    // broadcast threshold
    val table = new LakeTable(tmpDir("gatebig"), numBuckets = 8)
    val events = Corpus.changeEvents(spark, 1000000, nConvs = 20000, maxTurns = 50, skew = 1.0)
    CdcApply.applyBatch(spark, table, events, pruneBuckets = false)
    val wm = table.txidWatermark
    val fresh = events.where(col("_txid") <= 5)
      .withColumn("conv_id", concat(lit("convFRESH"), col("_txid").cast("string")))
      .withColumn("_op", lit("insert"))
      .withColumn("_txid", col("_txid") + lit(wm))
    val batch = events.unionByName(fresh)
    val (s, qes) = plansDuring(CdcApply.applyBatch(spark, table, batch))
    val c = table.currentCommit().get
    assert(s.applied == 5L, s"applied ${s.applied}, want the 5 fresh inserts")
    assert(c.metrics("versionGate") == 1L && c.metrics("deltaCommit") == 1L, c.metrics)
    val plans = qes.flatMap(qe => flattenPlan(qe.executedPlan))
    val limit = spark.sessionState.conf.autoBroadcastJoinThreshold
    val big = plans.collect {
      case b: BroadcastExchangeExec if b.metrics("dataSize").value > limit => b }
    assert(big.isEmpty, s"broadcast past the $limit-byte threshold:\n" +
      big.map(b => s"${b.metrics("dataSize").value} bytes\n${b.treeString}").mkString("\n"))
    assert(plans.exists {
        case _: SortMergeJoinExec | _: ShuffledHashJoinExec => true
        case _ => false
      }, "the gate ran no shuffled join")
    // the re-hash spreads a fresh bucket over several write tasks: its
    // entry names the whole flat dir, read back through the same filter
    val Seq(rel) = dataDirsOf(table, c.version)
    assert(rel.startsWith(f"data/c${c.version}%012dd-"), rel)
    val added = c.deltas.values.map(_.last).filter(_.startsWith(rel)).toSeq
    assert(added.contains(rel) && added.forall(e => e == rel || e.endsWith(".parquet")),
      s"new entries: $added")
    assertSameRows(table.read(spark).select("conv_id", "turn_idx", "text"),
      Corpus.oracleFinalState(batch).select("conv_id", "turn_idx", "text"))
  }
}
