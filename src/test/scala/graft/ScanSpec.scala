package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{graftshim, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.cdc.CdcApply
import graft.model.Corpus
import graft.table.LakeTable

/** Table scans are built from the commit's own data dirs: no listing
  * job and no session-conf change however many dirs a read spans, the
  * same scan `spark.read` would build over those dirs, and a loud
  * failure when a dir the commit names is gone. */
class ScanSpec extends SparkSpec {

  private val thresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** 40 buckets, each a base plus a stack of up to 5 level-0 entries:
    * 40 base dirs, past the session's listing threshold of 32. */
  private def wideTable(): (LakeTable, DataFrame) = {
    val table = new LakeTable(tmpDir("scan-wide"), numBuckets = 40)
    val events = Corpus.changeEvents(spark, 3000, nConvs = 400, maxTurns = 8)
    (0 until 6).foreach { i =>
      CdcApply.applyBatch(spark, table,
        events.where(col("_txid") > i * 500 && col("_txid") <= (i + 1) * 500),
        maxDeltaDepth = 10)
    }
    (table, events)
  }

  private def jobsDuring[T](f: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    graftshim.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      graftshim.drainListeners(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def planText(df: DataFrame): String =
    df.queryExecution.executedPlan.toString
      .replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id")

  private def relations(df: DataFrame): Seq[HadoopFsRelation] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
    }

  test("a read wider than the listing threshold runs no job, leaves the conf, plans like spark.read") {
    val (table, events) = wideTable()
    val head = table.currentCommit().get
    val bases = head.buckets.toSeq.sortBy(_._1.toInt).map(_._2)
    assert(head.liveBuckets.size == 40 && bases.size == 40 && head.deltaDepth == 5 &&
      head.liveBuckets.forall(head.deltaDepthOf(_) >= 1),
      s"expected 40 bases, each under 1-5 delta entries, got ${bases.size} and ${head.deltas}")
    assert(head.deltaFiles.forall(LakeTable.isFlat))
    assert(spark.conf.get(thresholdKey).toInt < bases.size)
    val bucket = head.liveBuckets.min

    val confBefore = spark.conf.getAll
    val ((full, one), jobs) = jobsDuring {
      (table.read(spark), table.readBuckets(spark, Seq(bucket)))
    }
    assert(jobs == 0, s"building the reads ran $jobs Spark jobs")
    assert(spark.conf.getAll == confBefore, "a table read changed the session conf")

    // the reference: the same dirs through spark.read, its listing kept
    // on the driver by a raised threshold
    def paths(rels: Seq[String]) = rels.map(r => Paths.get(table.location, r).toString)
    val prev = spark.conf.getOption(thresholdKey)
    spark.conf.set(thresholdKey, "8192")
    // a level-0 entry is read for the requested buckets whose stack
    // lists it, one scan per such bucket set
    val withBucket = head.schema.add("_bucket", org.apache.spark.sql.types.IntegerType)
    val (refFull, refOne, groups) = try {
      def ref(buckets: Seq[Int]) = {
        val listedBy = buckets.flatMap(b => head.deltas(b.toString).map(_ -> b))
          .groupMap(_._1)(_._2).toSeq.groupMap(_._2)(_._1).toSeq.sortBy(_._2.min)
        val deltaScans = listedBy.map { case (only, rels) =>
          spark.read.schema(withBucket).parquet(paths(rels.sorted): _*)
            .where(col("_bucket").isin(only: _*)).drop("_bucket")
        }
        val bs = buckets.flatMap(b => head.buckets.get(b.toString))
        (table.resolveLatest((spark.read.schema(head.schema).parquet(paths(bs): _*) +: deltaScans)
          .reduce(_ unionByName _), table.effectiveNumBuckets, LakeTable.SaltBuckets), listedBy.size)
      }
      val (f, n) = ref(head.liveBuckets.toSeq.sorted)
      (LakeTable.dropTombstones(f), ref(Seq(bucket))._1, n)
    } finally prev match {
      case Some(v) => spark.conf.set(thresholdKey, v)
      case None => spark.conf.unset(thresholdKey)
    }
    Seq((full, refFull, 1 + groups), (one, refOne, 2)).foreach { case (got, want, scans) =>
      assert(planText(got) == planText(want))
      val (g, w) = (relations(got), relations(want))
      assert(g.size == scans && g.size == w.size)
      g.zip(w).foreach { case (a, b) =>
        assert(a.location.rootPaths == b.location.rootPaths)
        assert(a.sizeInBytes == b.sizeInBytes)
        assert(a.location.inputFiles.toSeq.sorted == b.location.inputFiles.toSeq.sorted)
        assert(a.schema == b.schema && a.partitionSchema == b.partitionSchema)
      }
      assert(got.inputFiles.toSet == want.inputFiles.toSet)
    }
    assertSameRows(full.select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
      Corpus.oracleFinalState(events))
  }

  test("a deleted live dir fails the read by name, never a smaller result") {
    val table = new LakeTable(tmpDir("scan-gone"), numBuckets = 4)
    val events = Corpus.changeEvents(spark, 1000, nConvs = 20, maxTurns = 6)
    CdcApply.applyBatch(spark, table, events.where(col("_txid") <= 600))
    CdcApply.applyBatch(spark, table, events.where(col("_txid") > 600))
    val head = table.currentCommit().get
    val (bucket, rel) = head.buckets.toSeq.minBy(_._1.toInt)
    LakeTable.deleteRecursively(Paths.get(table.location, rel))
    Seq[() => DataFrame](
      () => table.read(spark),
      () => table.readBuckets(spark, Seq(bucket.toInt)),
      () => table.readBuckets(spark, Seq(bucket.toInt), resolve = false)
    ).foreach { read =>
      val e = intercept[Exception](read().collect())
      assert(String.valueOf(e.getMessage).contains(rel), s"error does not name $rel: $e")
    }
  }

  test("no engine source outside tools/ sets or unsets a session conf") {
    val src = Paths.get("src/main/scala/graft")
    val mutation = "conf\\.(set|unset)\\(".r
    val walk = Files.walk(src)
    val hits = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        !src.relativize(p).startsWith("tools"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if mutation.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    finally walk.close()
    assert(hits.isEmpty, s"session conf mutated in engine code:\n${hits.mkString("\n")}")
  }
}
