package graft.tools

import org.apache.spark.sql.functions._

import graft.cdc.CdcApply
import graft.model.Corpus
import graft.table.LakeTable

/** CLI entry: replay a deterministic synthetic changelog into a lake
  * table and print the commit log + a sample of the final state.
  *
  * Usage: runMain graft.tools.ReplayDemo <tableDir> [nEvents] [nBatches]
  */
object ReplayDemo {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ReplayDemo <tableDir> [nEvents] [nBatches]")
    val tableDir = args(0)
    val nEvents = if (args.length > 1) args(1).toLong else 10000L
    val nBatches = if (args.length > 2) args(2).toInt else 4
    val spark = Session("graft-replay-demo")

    val events = Corpus.changeEvents(spark, nEvents, nConvs = 200, maxTurns = 20)
    val table = new LakeTable(tableDir, numBuckets = 32)
    val t0 = System.nanoTime()
    val stats = CdcApply.replay(spark, table, events, nBatches)
    val secs = (System.nanoTime() - t0) / 1e9
    stats.foreach(s => println(
      s"commit v${s.version}: applied=${s.applied} upserts=${s.upserts} " +
      s"deletes=${s.deletes} watermark=${s.txidWatermark} buckets=${s.bucketsTouched}"))

    val state = table.read(spark)
    val n = state.count()
    val oracleN = Corpus.oracleFinalState(events).count()
    println(f"final state rows=$n oracle rows=$oracleN match=${n == oracleN}")
    println(f"replayed ${events.count()} events in $secs%.1f s " +
      f"(${events.count() / secs}%.0f events/s)")
    state.orderBy("conv_id", "turn_idx").show(5, truncate = false)
    spark.stop()
    if (n != oracleN) sys.exit(1)
  }
}
