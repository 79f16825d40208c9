package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's corpus-measurement stage (SURVEY.md §2.5 A4-A7):
  * per-tag statistics and the power-law "Q score" classification that
  * decides which power-schema table a tag belongs to.
  *
  *  - D  = defined (non-null) count        (measure/jsonvalues.sh:18-24)
  *  - M  = missing count                   (measure/jsonreduce.sh:22-37)
  *  - U  = distinct values                 (`sort|uniq|wc -l`)
  *  - Ib = information bytes — proxy: total UTF-8 bytes of the values
  *         (the reference uses pbzip2-compressed size; a compression
  *         estimate is not portable, the byte total is, and both are
  *         monotone in content volume)
  *
  * Classification (docs/writeup.md:243-307, threshold Fd = 0.15,
  * docs/newnormal.md:398-423): Sp = D/(D+M) support, Cx = U/D
  * uniqueness; Q = log2(Ib·Sp·Cx); tag → hct (`_m`) iff Q > Im(=0),
  * else rtt (`_s`) if sparse (Sp < 0.15), else lct (`_r`).
  *
  * One aggregate pass computes every tag's stats (partial+final,
  * exact distinct via the shuffle — swap `countDistinct` for
  * `approx_count_distinct` at 100 TB where ±2% is fine); the unpivot
  * to (tag, …) rows is a plan-time stack, not a second scan.
  */
object TagStats {

  /** `approx = true` swaps exact `countDistinct` (one extra shuffle per
    * tag for the distinct expansion) for HyperLogLog++
    * `approx_count_distinct` (single partial-aggregable pass, ±~2%) —
    * the 100 TB configuration; classification thresholds are log-scale,
    * so ±2% on U never flips a route in practice. */
  def measure(df: DataFrame, tags: Seq[String], approx: Boolean = false): DataFrame = {
    val aggs = tags.flatMap { t =>
      val c = col(t).cast("string")
      Seq(
        count(c).as(s"${t}__d"),
        sum(c.isNull.cast("long")).as(s"${t}__m"),
        (if (approx) approx_count_distinct(c, 0.005) else countDistinct(c))
          .as(s"${t}__u"),
        coalesce(sum(octet_length(c).cast("long")), lit(0L)).as(s"${t}__ib"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stacked = tags.map(t =>
      s"'$t', `${t}__d`, `${t}__m`, `${t}__u`, `${t}__ib`").mkString(", ")
    wide.select(expr(
      s"stack(${tags.size}, $stacked) as (tag, d, m, u, ib)"))
  }

  /** REAL Ib (A4): per-column (compressed, uncompressed) byte totals
    * read from the parquet footers of a materialized write — the
    * Spark-era equivalent of the reference's pbzip2-size measure
    * (measure/jsonvalues.sh:18-24): the bytes each tag ACTUALLY
    * occupies on disk under the lake format's own compression, not an
    * estimate. Driver-side metadata only (O(KB) per footer), no extra
    * Spark pass; the same footer walk as
    * [[graft.table.LakeTable.flatFooterRowCount]]. */
  def compressedColumnBytes(dir: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    require(java.nio.file.Files.isDirectory(root), s"no parquet dir at $dir")
    graft.table.LakeTable.withFooters(root) { rd =>
      rd.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .map(c => (c.getPath.toDotString, c.getTotalSize,
          c.getTotalUncompressedSize)).toList
    }.flatten.groupBy(_._1)
      .map { case (k, v) => k -> (v.map(_._2).sum, v.map(_._3).sum) }
  }

  /** Measure with REAL information bytes: one pass for D/M/U over the
    * frame, one materialized columnar write of the measured tags, and
    * the footer-read compressed totals as `ib`. The write is the only
    * extra cost over [[measure]] — at corpus scale the caller usually
    * ALREADY has the data as parquet (the lake table), in which case
    * [[compressedColumnBytes]] over the existing files is free. */
  def measureReal(df: DataFrame, tags: Seq[String], scratchDir: String): DataFrame = {
    val spark = df.sparkSession
    df.select(tags.map(c => col(c)): _*)
      .write.mode("overwrite").parquet(scratchDir)
    val real = compressedColumnBytes(scratchDir)
    import spark.implicits._
    val ibDf = tags.map(t => t -> real.getOrElse(t, (0L, 0L))._1)
      .toDF("tag", "ib_real")
    measure(df, tags).drop("ib")
      .join(broadcast(ibDf), Seq("tag"))
      .withColumnRenamed("ib_real", "ib")
  }

  /** A7 stat export: the per-tag summary as one headered CSV (reference
    * measure/json_summary.sh:15-34 pastes per-tag stat files into
    * `table.csv`; here it's a one-line write of the already-computed
    * stats frame). */
  def writeSummaryCsv(stats: DataFrame, path: String): Unit =
    stats.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** Q-score + routing decision per tag (A6). The reference's Ib is the
    * pbzip2-compressed byte size. With `realIb = true` the stats frame's
    * `ib` already IS compressed on-disk bytes ([[measureReal]]) and is
    * used directly; otherwise the portable stand-in is a dictionary-
    * compression estimate from the single-pass stats: distinct-content
    * bytes (u · avg value length) + code bytes (d · log2(u+1)/8).
    * Repetitive columns collapse exactly as real compression would. */
  def classify(stats: DataFrame, fd: Double = 0.15,
      realIb: Boolean = false): DataFrame = {
    val d = greatest(col("d"), lit(1L)).cast("double")
    val sp = col("d").cast("double") / (col("d") + col("m")).cast("double")
    val cx = col("u").cast("double") / d
    val ibComp =
      if (realIb) col("ib").cast("double")
      else col("u").cast("double") * (col("ib").cast("double") / d) +
        d * log2(col("u").cast("double") + 1.0) / 8.0
    val q = log2(greatest(ibComp, lit(1.0)) * sp * cx)
    stats.select(col("tag"), col("d"), col("m"), col("u"), col("ib"),
      round(sp, 6).as("sp"), round(cx, 6).as("cx"),
      round(ibComp, 3).as("ib_comp"), round(q, 6).as("q"),
      when(q > 0, "hct").when(sp < fd, "rtt").otherwise("lct").as("route"))
  }
}
