package graft.cdc

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.Serialization

import graft.table.{Commit, LakeTable}

/** Downstream incremental consumer of a [[LakeTable]]'s changelog —
  * the lake-native replacement for the reference's pull cycle, where a
  * consumer re-downloads diff TSVs computed from full dumps
  * (/root/reference/manta/pull_update.sh:24-38 fetching the `_m/_s/_r`
  * incremental exports that /root/reference/manta/dc_diff.sh:30-50
  * derives by diffing primary-key+etag state files).
  *
  * Each [[pull]] emits the net insert/update/delete rows since the
  * consumer's last pull (via [[LakeTable.changesBetween]]) into its own
  * versioned parquet directory, then atomically advances a watermark
  * file. Exactly-once by construction:
  *
  *  - the watermark advances only AFTER the pull directory is fully
  *    written — a crash in between re-runs the range from the same
  *    from-version (the head may have advanced meanwhile, widening
  *    the retry's range); the crashed attempt's orphan directory is
  *    deleted before the retry writes, so the on-disk directories are
  *    always exactly the acknowledged chain from version 0 to the
  *    watermark — fold them in order and the state is correct;
  *  - a pull with no new commits is a no-op (None), and a range whose
  *    net changes are EMPTY (maintenance-only commits: rename,
  *    compaction, rebucket, consolidation — or churn that cancelled
  *    out) acknowledges the new version but never leaves an empty
  *    directory behind;
  *  - the watermark stores the consumer's own COPY of the endpoint
  *    [[Commit]] metadata (Kafka-offset style, offsets live with the
  *    consumer), so a lagging consumer survives [[LakeTable.checkpointLog]]
  *    commit-log rollups — only [[LakeTable.vacuum]]'s data retention
  *    window limits how far behind it may fall, and crossing it is an
  *    explicit refusal from changesBetween, never a partial pull.
  *
  * Scale shape: pull cost is O(buckets churned since the last pull),
  * never O(table) — the endpoint metadata diff prunes the scan — and
  * the consumer state is one small JSON file regardless of table size.
  */
object CdcOut {

  private implicit val fmts: Formats = DefaultFormats

  /** One completed pull: the half-open version range `(from, to]`, the
    * rows emitted, and the directory they were written to. */
  case class Pull(fromVersion: Long, toVersion: Long, rows: Long, dir: String)

  private case class Watermark(version: Long, commit: Option[Commit])

  private def wmPath(root: Path): Path = root.resolve("watermark.json")

  /** The consumer's last fully-pulled version (0 = never pulled). */
  def lastPulled(consumerDir: String): Long = {
    val p = wmPath(Paths.get(consumerDir))
    if (Files.exists(p))
      Serialization.read[Watermark](Files.readString(p)).version
    else 0L
  }

  /** Pull every change committed since the last pull into
    * `<consumerDir>/pull-<from>-<to>/` (parquet, `toVersion`'s schema
    * plus `_change_type`), advance the watermark, and report the
    * range. None when the table head has not moved (or the table is
    * still empty). */
  def pull(spark: SparkSession, table: LakeTable,
      consumerDir: String): Option[Pull] = {
    val root = Paths.get(consumerDir)
    Files.createDirectories(root)
    val head = table.log().head.getOrElse(return None)
    val wm: Option[Watermark] =
      if (Files.exists(wmPath(root)))
        Some(Serialization.read[Watermark](Files.readString(wmPath(root))))
      else None
    val last = wm.map(_.version).getOrElse(0L)
    if (head.version <= last) return None
    // clean up any orphan of a crashed pull FIRST: a dir starting at
    // the current watermark is by construction unacknowledged, and if
    // the table head advanced since the crash it would otherwise
    // survive with a STALE to-version — overlapping the retry's range
    // and corrupting a fold-the-dirs-in-order recovery (acknowledged
    // dirs always chain from 0 to the watermark; orphans break out of
    // the chain)
    deleteOrphans(root, last)
    val outDir = root.resolve(f"pull-$last%012d-${head.version}%012d")
    val changes = table.changesBetween(spark, wm.flatMap(_.commit), head)
    // observe on the write job itself — rows reported = rows landed,
    // no second pass
    val obs = new org.apache.spark.sql.Observation()
    changes.observe(obs, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("rows"))
      .write.mode("overwrite").parquet(outDir.toString)
    // a replaced-with-empty-relation plan can elide the CollectMetrics
    // node (same hazard CdcApply guards on its delta write): a missing
    // metric here means the plan was statically empty — count the
    // written footers rather than trust the silence. The pull dir is a
    // FLAT parquet write (no _bucket= partitioning), so the count must
    // read part files directly under outDir, not bucket subdirs.
    val rows = obs.get.get("rows").map(_.asInstanceOf[Long]).getOrElse(
      LakeTable.flatFooterRowCount(outDir))
    if (rows == 0L) {
      // a head advanced only by maintenance (rename / compact /
      // rebucket / consolidation): acknowledge the new version but
      // never leave an empty pull directory behind
      LakeTable.deleteRecursively(outDir)
      advance(root, head)
      return None
    }
    advance(root, head)
    Some(Pull(last, head.version, rows, outDir.toString))
  }

  private def advance(root: Path, head: Commit): Unit = {
    val tmp = Files.createTempFile(root, ".tmp-wm-", ".json")
    Files.writeString(tmp, Serialization.write(Watermark(head.version, Some(head))))
    // rename(2) replaces atomically — the watermark flips old→new or
    // stays old, never partial
    Files.move(tmp, wmPath(root), StandardCopyOption.ATOMIC_MOVE)
  }

  private def deleteOrphans(root: Path, watermark: Long): Unit = {
    val prefix = f"pull-$watermark%012d-"
    val s = Files.list(root)
    val orphans = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toList
    } finally s.close()
    orphans.foreach(LakeTable.deleteRecursively)
  }
}
