package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One shared local SparkSession across all suites (forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Fresh scratch dir under target/ (never outside the repo). */
  def tmpDir(prefix: String): String = {
    val base = java.nio.file.Paths.get("target", "test-tmp")
    java.nio.file.Files.createDirectories(base)
    java.nio.file.Files.createTempDirectory(base, prefix).toString
  }

  /** The data dirs (relative, "data/cVVV[d]-TOKEN") of `table` stamped
    * with `version`, sorted. */
  def dataDirsOf(table: graft.table.LakeTable, version: Long): Seq[String] = {
    val data = java.nio.file.Paths.get(table.location, "data")
    val s = java.nio.file.Files.list(data)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(f"c$version%012d")).map("data/" + _).toSeq.sorted
    finally s.close()
  }

  /** Order-insensitive DataFrame equality on a stable sort. */
  def assertSameRows(
      got: org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame): Unit = {
    val cols = want.columns.sorted.toSeq
    val g = got.select(cols.map(org.apache.spark.sql.functions.col): _*)
    val w = want.select(cols.map(org.apache.spark.sql.functions.col): _*)
    assert(g.schema.map(f => (f.name, f.dataType)) ===
      w.schema.map(f => (f.name, f.dataType)), "schema mismatch")
    val diff1 = g.exceptAll(w).count()
    val diff2 = w.exceptAll(g).count()
    assert(diff1 == 0 && diff2 == 0,
      s"row mismatch: got-not-want=$diff1 want-not-got=$diff2")
  }
}
