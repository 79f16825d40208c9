package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.table.{Commit, LakeTable}

/** Closed-loop reads on a table through its merge-on-read delta stacks:
  * point lookups alternating between the hot conversation and cold ones
  * (`readBuckets` on the key's bucket plus a filter), then full `read`s
  * with an aggregate alternating with `changesBetween` over the last
  * two commits. Every read is fully materialized; building the DataFrame
  * (which lists the table eagerly) and executing it are timed apart. */
final class ReadMix(ctx: Ctx, table: LakeTable) {
  import ctx.{spark, trace}

  private val lookupMs = ArrayBuffer.empty[Double]
  private val lookupWins = ArrayBuffer.empty[(Long, Long)]
  private val scanMs = ArrayBuffer.empty[Double]
  private val changesMs = ArrayBuffer.empty[Double]
  private val buildMs = ArrayBuffer.empty[Double]
  private val execMs = ArrayBuffer.empty[Double]
  private val depthAtRead = ArrayBuffer.empty[Double]

  /** Rows read, or -1 when the read failed (counted as a failed operation). */
  private def timed(name: String)(build: => DataFrame)(materialize: DataFrame => Long): Long = {
    ctx.attempted += 1
    depthAtRead += table.currentCommit().map(_.deltaDepth).getOrElse(0).toDouble
    val t0 = System.nanoTime()
    try {
      val rows = trace.span(s"bench.$name") {
        val df = trace.span(s"table.$name.build")(build)
        val tb = System.nanoTime()
        buildMs += (tb - t0) / 1e6
        val n = trace.span(s"table.$name.exec")(materialize(df))
        execMs += (System.nanoTime() - tb) / 1e6
        n
      }
      val ms = (System.nanoTime() - t0) / 1e6
      name match {
        case "lookup" => lookupMs += ms
        case "scan" => scanMs += ms
        case _ => changesMs += ms
      }
      rows
    } catch {
      case e: Exception =>
        ctx.fail(name, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        -1L
    }
  }

  private def noop(df: DataFrame): Long = { df.write.format("noop").mode("overwrite").save(); 0L }

  /** `lastTwo`: the table's two newest commits, as the tail observed them
    * (the log's checkpoint rollup may no longer hold the older one). */
  def run(events: DataFrame, lastTwo: (Commit, Commit), lookups: Int, tableReads: Int): Unit = {
    val numBuckets = table.effectiveNumBuckets
    val convs = events.groupBy("conv_id").count().orderBy(col("count").desc, col("conv_id"))
      .select(col("conv_id"), LakeTable.bucketColFor(col("conv_id"), numBuckets))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toIndexedSeq
    val hot = convs.head
    val rnd = new scala.util.Random(ctx.seed)
    val cold = convs.drop(convs.size / 2)
    (0 until lookups).foreach { i =>
      val (conv, bucket) = if (i % 2 == 0) hot else cold(rnd.nextInt(cold.size))
      val w0 = System.currentTimeMillis()
      val rows = timed("lookup") {
        table.readBuckets(spark, Seq(bucket))
          .where(col("conv_id") === conv && !coalesce(col("_deleted"), lit(false)))
      }(_.collect().length.toLong)
      lookupWins += ((w0, System.currentTimeMillis()))
      if (i % 2 == 0 && rows == 0) ctx.fail("lookup", s"hot conversation $conv returned no row")
    }
    (0 until tableReads).foreach { _ =>
      timed("scan") {
        table.read(spark).groupBy("role")
          .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("chars"),
            max(col("_txid")).as("maxTx"))
      }(_.collect().length.toLong)
      timed("changes")(table.changesBetween(spark, Some(lastTwo._1), lastTwo._2))(noop)
    }
  }

  def details: Map[String, Any] = Map(
    "lookup_p50_ms" -> Stats.median(lookupMs.toSeq),
    "lookup_p90_ms" -> Stats.percentile(lookupMs.toSeq, 0.9),
    "lookups" -> lookupMs.size,
    "scan_p50_ms" -> Stats.median(scanMs.toSeq),
    "changes_p50_ms" -> Stats.median(changesMs.toSeq))

  def layers(p: SparkProbe): Map[String, Double] = Map(
    "table.read_build_ms" -> Stats.median(buildMs.toSeq),
    "table.read_exec_ms" -> Stats.median(execMs.toSeq),
    "table.delta_depth_at_read" -> Stats.median(depthAtRead.toSeq),
    "table.files_per_lookup" ->
      Stats.median(lookupWins.toSeq.map { case (a, b) => p.window(a, b).filesRead.toDouble }),
    "table.live_bytes_per_row" -> Layers.liveBytesPerRow(spark, table))
}
