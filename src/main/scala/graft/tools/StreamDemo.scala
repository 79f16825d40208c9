package graft.tools

import org.apache.spark.sql.functions._

import graft.model.Corpus
import graft.streaming.CdcStream
import graft.table.LakeTable

/** CLI entry: write a synthetic NDJSON changelog in segments, tail it
  * with the Structured Streaming CDC pipeline (checkpointed), and
  * verify the final state against the oracle. Run it twice with the
  * same dirs to exercise resume.
  *
  * Usage: runMain graft.tools.StreamDemo <workDir> [nEvents] [nSegments]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StreamDemo <workDir> [nEvents] [nSegments]")
    val work = args(0)
    val nEvents = if (args.length > 1) args(1).toLong else 20000L
    val nSegs = if (args.length > 2) args(2).toInt else 5
    val spark = Session("graft-stream-demo")

    val events = Corpus.changeEvents(spark, nEvents, nConvs = 500, maxTurns = 20)
    val step = nEvents / nSegs
    (0 until nSegs).foreach { i =>
      val lo = i * step + 1
      val hi = if (i == nSegs - 1) nEvents else (i + 1) * step
      CdcStream.writeSegment(
        Corpus.shuffled(events.where(col("_txid") >= lo && col("_txid") <= hi)),
        s"$work/changelog/seg$i", parts = 2)
    }
    val table = new LakeTable(s"$work/table", numBuckets = 32)
    val t0 = System.nanoTime()
    var batches = 0
    val q = CdcStream.start(spark, s"$work/changelog/seg*", table,
      s"$work/ckpt", maxFilesPerTrigger = 4,
      onBatch = (ms, st) => {
        batches += 1
        println(s"batch ${st.version}: applied=${st.applied} " +
          s"deletes=${st.deletes} buckets=${st.bucketsTouched} " +
          s"replay=${st.skippedReplay} ${ms}ms")
      })
    q.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9
    val n = table.read(spark).count()
    val oracleN = Corpus.oracleFinalState(events).count()
    println(f"final rows=$n oracle=$oracleN match=${n == oracleN} " +
      f"($batches batches, $secs%.1f s, ${nEvents / secs}%.0f events/s)")
    spark.stop()
    if (n != oracleN) sys.exit(1)
  }
}
