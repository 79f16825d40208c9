package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.cdc.CdcApply
import graft.model.Corpus
import graft.table.LakeTable

/** The commit log has one reader, `LakeTable.log`: it is the only code
  * that lists `_commits`, every other reader works from the `Log` it
  * returns, and it parses each commit file at most once per handle. */
class LogReadSpec extends SparkSpec {

  private def sources(under: String): Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala/graft", under))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally walk.close()
  }

  test("_commits is listed only inside LakeTable.log") {
    val listing = """(Files\.(list|walk|newDirectoryStream)|listFiles)\((?:[^()]|\([^()]*\))*(_commits|commitsDir)""".r
    val hits = sources("").flatMap { p =>
      val text = Files.readString(p)
      listing.findAllMatchIn(text).map(m => (p, text, m.start)).toList
    }
    val inLog = hits.filter { case (p, text, at) =>
      val from = text.indexOf("private[graft] def log(): Log")
      p.endsWith("table/LakeTable.scala") && from >= 0 && at > from &&
        at < text.indexOf("\n  }\n", from)
    }
    val where = hits.map { case (p, text, at) => s"$p:${text.take(at).count(_ == '\n') + 1}" }
    assert(hits.size == 1 && inLog.size == 1, s"listings of _commits: ${where.mkString(", ")}")
  }

  test("no source under graft/cdc or graft/streaming reads the log but through one Log") {
    val banned = Seq("hasBatch(", "currentCommit(", "commitLogSize")
    val hits = Seq("cdc", "streaming").flatMap(sources).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if banned.exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, s"a log accessor that lists _commits again:\n${hits.mkString("\n")}")
    Seq("cdc/CdcOut.scala", "cdc/CdcApply.scala").foreach { f =>
      assert(Files.readString(Paths.get("src/main/scala/graft", f)).contains("table.log()"), f)
    }
  }

  test("each commit file is parsed once per handle: an already-parsed file is never read again") {
    val events = Corpus.changeEvents(spark, 900, nConvs = 30, maxTurns = 6)
    val table = new LakeTable(tmpDir("parse-once"), numBuckets = 4)
    CdcApply.applyBatch(spark, table, events.where(col("_txid") <= 300))
    CdcApply.applyBatch(spark, table, events.where(col("_txid") > 300 && col("_txid") <= 600))
    val v = table.currentCommit().get.version
    // the first commit stays in the log, but its bytes no longer parse
    Files.writeString(Paths.get(table.location, "_commits", f"${1}%012d.json"), "{not a commit")
    // a new commit file through the same handle parses the new name only
    CdcApply.applyBatch(spark, table, events.where(col("_txid") > 600))
    assert(table.currentCommit().get.version == v + 1)
    assertSameRows(table.read(spark).select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
      Corpus.oracleFinalState(events))
    // a fresh handle parses every file, so the broken one is really broken
    intercept[Exception](new LakeTable(table.location, numBuckets = 4).currentCommit())
  }

  test("a handle never parses the rollup it wrote: its Log equals a fresh handle's") {
    val events = Corpus.changeEvents(spark, 900, nConvs = 30, maxTurns = 6)
    val table = new LakeTable(tmpDir("rollup-once"), numBuckets = 4)
    CdcApply.applyBatch(spark, table, events.where(col("_txid") <= 300))
    CdcApply.applyBatch(spark, table, events.where(col("_txid") > 300 && col("_txid") <= 600))
    table.checkpointLog()
    val rolled = new LakeTable(table.location, numBuckets = 4).log()
    assert(rolled.names.size == 1 && rolled.rollup.nonEmpty && rolled.later.isEmpty, s"$rolled")
    // the rollup's bytes no longer parse: the handle that wrote it never reads them
    Files.writeString(Paths.get(table.location, "_commits", rolled.names.head), "{not a rollup")
    assert(table.log() == rolled)
    CdcApply.applyBatch(spark, table, events.where(col("_txid") > 600))
    assert(table.currentCommit().get.version == rolled.head.get.version + 1)
    assertSameRows(table.read(spark).select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
      Corpus.oracleFinalState(events))
    intercept[Exception](new LakeTable(table.location, numBuckets = 4).currentCommit())
  }
}
