package graft.tools

import graft.streaming.CdcStream
import graft.table.LakeTable

/** CLI entry: tail an existing NDJSON changelog directory into a lake
  * table (checkpointed; re-run to resume), then print the table schema
  * and final state — the production-shaped entry point for real
  * changelogs, as opposed to the synthetic-corpus demos.
  *
  * Usage: runMain graft.tools.TailDemo <changelogGlob> <tableDir> <ckptDir>
  */
object TailDemo {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: TailDemo <changelogGlob> <tableDir> <ckptDir>")
    val Array(changelog, tableDir, ckpt) = args
    val spark = Session("graft-tail")
    val table = new LakeTable(tableDir, numBuckets = 16)
    CdcStream.runOnce(spark, changelog, table, ckpt)
    val c = table.currentCommit()
    println(s"version=${c.map(_.version).getOrElse(0L)} " +
      s"watermark=${c.map(_.txidWatermark).getOrElse(0L)}")
    println("schema: " + c.map(_.schema.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(", ")).getOrElse("<empty>"))
    table.read(spark).orderBy("conv_id", "turn_idx").show(20, truncate = false)
    spark.stop()
  }
}
