package graft.tools

import org.apache.spark.sql.functions._

import graft.cdc.CdcApply
import graft.model.Corpus
import graft.queries.Scratch
import graft.table.LakeTable

/** Hot-conversation skew evidence (north rule: "mitigates
  * hot-conversation skew with salted repartitioning before the sorted
  * merge-apply stage"; reference contrast: the dump pipeline's
  * single-reducer funnels, manta/dc_inputs_3.sh:35-42).
  *
  * Two corpora of EQUAL event count on the same table shape: `uniform`
  * (skew exponent 1.0 — conversations drawn uniformly) and `hot`
  * (exponent 4.0 — P(top 1% of conv_ids) = 0.01^(1/4) ≈ 32% of all
  * events land on 1% of the conversations). Steady batches are
  * INTERLEAVED uniform/hot so co-tenant noise hits both shapes
  * equally; per-batch walls and, for every stage of the hot batches,
  * max-task vs median-task duration (the straggler signature a
  * missing salt would show) are reported in one JSON line.
  */
object SkewBench {

  private class StageTaskListener extends org.apache.spark.scheduler.SparkListener {
    val byStage = new scala.collection.concurrent.TrieMap[
      Int, scala.collection.mutable.ArrayBuffer[Long]]()
    @volatile var enabled = false
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (enabled && te.taskInfo != null)
        byStage.getOrElseUpdate(te.stageId,
          scala.collection.mutable.ArrayBuffer.empty[Long])
          .synchronized { byStage(te.stageId) += te.taskInfo.duration }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val nEvents = args.headOption.map(_.toLong).getOrElse(4000000L)
    val nBatches = if (args.length > 1) args(1).toInt else 8
    val cpus = Session.cpus
    val spark = Session("graft-skew-bench", cpus)
    val listener = new StageTaskListener
    spark.sparkContext.addSparkListener(listener)
    val work = Scratch.dir("skew-bench-")
    try {
      val nConvs = math.max(1000, (nEvents / 200).toInt)
      val per = nEvents / 20
      val baseCut = nEvents - nBatches * per
      def prep(tag: String, skew: Double): (org.apache.spark.sql.DataFrame, LakeTable) = {
        Corpus.changeEvents(spark, nEvents, nConvs = nConvs, maxTurns = 40,
            skew = skew, partitions = cpus * 4)
          .write.mode("overwrite").parquet(s"$work/log-$tag")
        val ev = spark.read.parquet(s"$work/log-$tag")
        val table = new LakeTable(s"$work/table-$tag", numBuckets = 64)
        CdcApply.applyBatch(spark, table, ev.where(col("_txid") <= baseCut),
          pruneBuckets = false)
        (ev, table)
      }
      val (evU, tU) = prep("uniform", 1.0)
      val (evH, tH) = prep("hot", 4.0)
      // measured concentration, for the record: share of hot-corpus
      // events on the top 1% most frequent conv_ids
      val hotShare = {
        val top = evH.groupBy("conv_id").count()
          .orderBy(col("count").desc).limit(math.max(1, nConvs / 100))
          .agg(sum("count")).head().getLong(0)
        top.toDouble / nEvents
      }
      def batch(ev: org.apache.spark.sql.DataFrame, t: LakeTable, i: Int,
          listen: Boolean): Double = {
        val lo = baseCut + i * per + 1
        val hi = baseCut + (i + 1) * per
        listener.enabled = listen
        val t0 = System.nanoTime()
        CdcApply.applyBatch(spark, t, ev.where(col("_txid").between(lo, hi)))
        listener.enabled = false
        (System.nanoTime() - t0) / 1e9
      }
      // one untimed warm batch each, then interleaved timed batches
      batch(evU, tU, 0, listen = false); batch(evH, tH, 0, listen = false)
      val walls = (1 until nBatches).map { i =>
        (batch(evU, tU, i, listen = false), batch(evH, tH, i, listen = true))
      }
      val uni = walls.map(_._1); val hot = walls.map(_._2)
      // the listener bus delivers task-end events asynchronously: give
      // in-flight events a moment to drain before reading the buffers
      // (the appends themselves are synchronized per buffer)
      Thread.sleep(2000)
      // straggler signature across the hot batches' stages: for stages
      // with real parallelism AND real per-task work (median ≥ 200 ms —
      // scheduler jitter dominates below that), the worst max/median
      // task-duration ratio; `any` includes the jittery small stages
      val ratios = listener.byStage.values.toSeq
        .map(v => v.synchronized { v.toList })
        .filter(_.size >= 8)
        .map { v => (median(v.map(_.toDouble)), v.max.toDouble) }
      val heavy = ratios.collect { case (m, mx) if m >= 200.0 => mx / m }
      val any = ratios.collect { case (m, mx) if m > 0 && mx >= 200.0 => mx / m }
      val worst = if (heavy.isEmpty) 0.0 else heavy.max
      val worstAny = if (any.isEmpty) 0.0 else any.max
      println(f"""{"bench":"cdc_skew","cpus":$cpus,"n_events":$nEvents,""" +
        f""""batch_events":$per,"n_batches":${nBatches - 1},""" +
        f""""hot_top1pct_share":$hotShare%.3f,""" +
        s""""uniform_batch_secs":[${uni.map(t => f"$t%.2f").mkString(",")}],""" +
        s""""hot_batch_secs":[${hot.map(t => f"$t%.2f").mkString(",")}],""" +
        f""""uniform_p50":${median(uni)}%.2f,"hot_p50":${median(hot)}%.2f,""" +
        f""""hot_over_uniform":${median(hot) / median(uni)}%.3f,""" +
        f""""worst_heavy_stage_max_over_median_task":$worst%.2f,""" +
        f""""worst_any_stage_max_over_median_task":$worstAny%.2f,""" +
        f""""n_heavy_stages":${heavy.size},"n_parallel_stages":${ratios.size}}""")
    } finally spark.stop()
  }
}
