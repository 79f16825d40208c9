package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HadoopPath}
import org.apache.spark.sql.{graftshim, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.Serialization

/** One committed snapshot of a [[LakeTable]].
  *
  * @param version        monotonically increasing snapshot id
  * @param batchId        streaming micro-batch id that produced it (-1 for batch jobs)
  * @param txidWatermark  highest change-event _txid applied so far — the
  *                       exactly-once high-watermark; it never decreases
  *                       and bounds every stored row's _txid (reference analogue:
  *                       _etag state extraction for snapshot diffing,
  *                       /root/reference/lib/backup_state.js:135-143)
  * @param schemaJson     table schema (Spark DataType JSON) as of this commit —
  *                       schema evolution = new commit with a wider schema
  * @param buckets        bucket id -> BASE data directory (relative to table
  *                       root) holding that bucket's current rows; untouched
  *                       buckets carry forward across commits so MERGE only
  *                       rewrites affected buckets (partition-pruned upsert)
  * @param rowCounts      bucket id -> physical row count INCLUDING that
  *                       bucket's delta rows (lineage; a key superseded by a
  *                       delta counts once per physical row until the fold)
  * @param metrics        free-form counters for the commit (applied/deleted/...)
  * @param queryId        stream identity that produced the batch (sink-side
  *                       exactly-once is scoped (queryId, batchId))
  * @param deltas         MERGE-ON-READ delta entries PER BUCKET: bucket id ->
  *                       the stack of entries appended since that
  *                       bucket's last fold, one per write. An apply that
  *                       rewrote a base writes `data/cVVV-T/_bucket=B`
  *                       (T a token unique to the write), a
  *                       dir of the bucket alone. A delta-only apply
  *                       writes `data/cVVVd-T` FLAT (level 0 of an LSM
  *                       tree): one parquet file per write task, with
  *                       `_bucket` as a data column, so a file holds
  *                       several buckets' rows. Its entry names the one
  *                       file holding all of the bucket's rows
  *                       (`data/cVVVd-T/part-NNNNN-…parquet`), or the whole
  *                       dir when the write spread the bucket over
  *                       several tasks. A reader keeps a flat entry's
  *                       rows only for the buckets whose stack lists it:
  *                       a bucket consolidated or folded since has stale
  *                       rows in a file it shared. Per-bucket tracking makes the
  *                       three costly operations proportional to the HOT
  *                       data, not the table: reads prune delta paths by
  *                       bucket, depth is tracked per bucket, and a fold
  *                       rewrites only the buckets at the depth cap —
  *                       Iceberg MoR semantics with bucket-granular
  *                       maintenance. Readers resolve base ∪ deltas per key
  *                       by max _txid; a fold / compaction clears the
  *                       folded buckets' stacks
  * @param deltaRowCounts bucket id -> physical row count of each dir in
  *                       that bucket's delta stack (parallel to `deltas`;
  *                       empty for pre-upgrade commits). Lets the apply
  *                       decide CONSOLIDATE (merge the stack into one
  *                       delta, base untouched) vs FOLD (rewrite the
  *                       base) from commit metadata alone
  * @param renames        retired column name -> CURRENT name, flattened
  *                       across chained renames (a→b then b→c stores
  *                       a→c and b→c). Written by
  *                       [[LakeTable.renameColumn]] — a metadata-only
  *                       schema update, Iceberg ALTER TABLE RENAME
  *                       COLUMN semantics: no data file is rewritten;
  *                       readers map each pre-rename dir's columns onto
  *                       the current names at scan time, and the apply
  *                       path maps late producers still emitting a
  *                       retired key onto its current column
  */
case class Commit(
    version: Long,
    batchId: Long,
    txidWatermark: Long,
    schemaJson: String,
    buckets: Map[String, String],
    rowCounts: Map[String, Long],
    metrics: Map[String, Long],
    queryId: String = "",
    deltas: Map[String, Seq[String]] = Map.empty,
    deltaRowCounts: Map[String, Seq[Long]] = Map.empty,
    renames: Map[String, String] = Map.empty) {
  def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]

  /** Every bucket holding data: base keys ∪ delta keys (deltas may hold
    * buckets with no base yet). */
  def liveBuckets: Set[Int] = (buckets.keySet ++ deltas.keySet).map(_.toInt)

  /** All delta dirs currently stacked on the table. */
  def deltaFiles: Seq[String] = deltas.values.flatten.toSeq.distinct

  /** Deepest per-bucket delta stack (read-amplification gauge). */
  def deltaDepth: Int = deltas.values.foldLeft(0)((m, s) => math.max(m, s.size))

  def deltaDepthOf(bucket: Int): Int =
    deltas.get(bucket.toString).map(_.size).getOrElse(0)

  /** Physical rows in the bucket's delta stack, if counts are tracked
    * for every dir in it (None for stacks predating count tracking —
    * callers must fall back to a full fold). */
  def deltaRowsOf(bucket: Int): Option[Long] = {
    val stack = deltas.getOrElse(bucket.toString, Nil)
    val counts = deltaRowCounts.getOrElse(bucket.toString, Nil)
    if (counts.size == stack.size) Some(counts.sum) else None
  }

  /** Physical rows in the bucket's BASE files (rowCounts minus the
    * tracked delta rows). */
  def baseRowsOf(bucket: Int): Option[Long] =
    rowCounts.get(bucket.toString).flatMap(total =>
      deltaRowsOf(bucket).map(d => math.max(0L, total - d)))
}

/** Rollup of the commit log up to (and including) one version: the
  * state a reader needs without the per-commit history — written by
  * [[LakeTable.checkpointLog]], after which the subsumed commit JSONs
  * are deleted. At 10^10 events a tail produces ~10^5 micro-batch
  * commits; without truncation the log directory's listing alone
  * becomes the per-batch bottleneck (O(commits) per batch, O(commits²)
  * per stream).
  *
  * @param commit            table state as of the checkpoint
  * @param schemasByVersion  "cVVVVV" -> writer schema JSON for every
  *                          data dir the checkpointed commit still
  *                          references (reader-side type promotion
  *                          needs the WRITER's schema per dir)
  * @param maxBatchIdByQuery newest batchId committed per stream
  *                          identity — batch ids are monotonic per
  *                          queryId, so idempotence after truncation
  *                          is `batchId <= max` */
private[graft] case class LogCheckpoint(
    commit: Commit,
    schemasByVersion: Map[String, String],
    maxBatchIdByQuery: Map[String, Long])

/** One read of a table's commit log ([[LakeTable.log]]): the file
  * `names` one listing of `_commits` saw, the newest `rollup` among
  * them and the commits `later` than it, in version order. Immutable,
  * so an operation that reads one `Log` — a trigger's replay check and
  * its apply's base, a commit attempt's conflict check and its parent,
  * a rollup and the files it deletes — sees one state of the log. */
private[graft] case class Log(names: Seq[String], rollup: Option[LogCheckpoint],
    later: Seq[Commit]) {

  /** All retained commits in version order: the rollup's, then `later`. */
  lazy val commits: Seq[Commit] = rollup.map(_.commit).toSeq ++ later

  def head: Option[Commit] = commits.lastOption

  /** True if a streaming micro-batch with this id was already committed
    * BY THE SAME STREAM (crash-replay idempotence check). Scoped by
    * (queryId, batchId) like Delta's txnAppId/txnVersion: Spark batch
    * ids restart at 0 per checkpoint, so a bare-batchId check would
    * silently drop the first batches of any new checkpoint pointed at
    * an existing table. */
  def committed(batchId: Long, queryId: String): Boolean = batchId >= 0 && (
    later.exists(c => c.batchId == batchId && c.queryId == queryId) ||
      rollup.exists { r =>
        r.commit.batchId == batchId && r.commit.queryId == queryId ||
          // pre-checkpoint history is truncated; batch ids are monotonic
          // per stream, so anything ≤ the stream's recorded max was seen
          r.maxBatchIdByQuery.get(queryId).exists(batchId <= _)
      })

  /** Writer schema JSON per data-dir version key ("cVVVVV"): reader-side
    * type promotion casts each file group up from the schema it was
    * WRITTEN under. From the rollup plus every commit after it. */
  lazy val schemasByVersion: Map[String, String] =
    rollup.fold(Map.empty[String, String])(_.schemasByVersion) ++
      later.map(c => f"c${c.version}%012d" -> c.schemaJson)

  /** [[schemasByVersion]], parsed. */
  lazy val writerSchemas: Map[String, StructType] = schemasByVersion.map {
    case (v, j) => v -> DataType.fromJson(j).asInstanceOf[StructType]
  }
}

/** An Iceberg-*semantics* table over plain Parquet + a JSON commit log.
  *
  * No Iceberg/Delta jars exist in this sandbox, so the transactional
  * behaviors the north rule needs are implemented directly:
  *   - snapshot isolation: readers pin the latest commit file and scan
  *     exactly the data dirs it names, pre-listed on the driver (no
  *     listing job, no session-conf change); data files are immutable;
  *     a commit is a single atomic rename;
  *   - atomic commits: write `_commits/.tmp-*` then ATOMIC_MOVE to
  *     `_commits/%012d.json` (fails if a concurrent writer won);
  *   - schema evolution: every commit records its schema; readers apply
  *     the latest schema over all live files (older files lack new
  *     columns → read as null);
  *   - exactly-once: `txidWatermark` + `batchId` let a replayed batch
  *     detect it was already applied and no-op;
  *   - layout: rows hash-bucketed by conv_id into `numBuckets` buckets,
  *     so an upsert touches only the buckets its keys hash to, and a
  *     point lookup prunes to one bucket.
  *
  * At 100 TB the same design holds: buckets are the unit of rewrite and
  * pruning (set numBuckets ~ cluster parallelism × small factor), the
  * commit log stays tiny (one JSON per commit, O(numBuckets) entries).
  */
class LakeTable(val location: String, val numBuckets: Int = 64) {
  private implicit val fmts: Formats = DefaultFormats
  private val root: Path = Paths.get(location)
  private val commitsDir: Path = root.resolve("_commits")

  /** The bucket count the table's data is ACTUALLY laid out with: that
    * of the head commit ([[numBucketsOf]]). */
  def effectiveNumBuckets: Int = numBucketsOf(currentCommit())

  /** The bucket count commit `c`'s data is laid out with: the count it
    * persists, the constructor's `numBuckets` only for a fresh table.
    * Every commit carries the layout count forward in its metrics, so
    * re-opening an existing table with a mismatched constructor value
    * cannot split a key's history across two hash spaces (the write
    * path would otherwise route updates for a key to a different bucket
    * than its stored row and the merge gate would never see them). */
  private[graft] def numBucketsOf(c: Option[Commit]): Int =
    c.flatMap(_.metrics.get(LakeTable.NumBucketsKey)).map(_.toInt).getOrElse {
      // pre-metric table (written before the layout key was persisted):
      // the constructor has to be trusted, but a PROVABLY wrong value is
      // refused — a stored bucket id at or above the claimed count can
      // only come from a larger hash space. (A too-large claim over a
      // small-id population is not detectable; the first commit through
      // this code pins the count and ends the exposure.)
      c.foreach { c =>
        val maxId = c.liveBuckets.maxOption.getOrElse(-1)
        require(maxId < numBuckets,
          s"table at $location holds bucket $maxId but this handle " +
            s"claims numBuckets=$numBuckets — existing table opened " +
            "with a wrong bucket count")
      }
      numBuckets
    }

  def bucketCol(conv: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    LakeTable.bucketColFor(conv, effectiveNumBuckets)

  /** The last [[Log]] this handle read: [[log]] parses none of its files
    * again. */
  @volatile private var lastLog = Log(Nil, None, Nil)

  /** The commit log, read ONCE: the one listing of `_commits` the engine
    * makes, and every log accessor below is a view of the [[Log]] it
    * returns. Commit and rollup files never change once linked, so a
    * file the handle's previous listing named is not parsed again — each
    * body is parsed at most once per handle — and of the new names only
    * the newest rollup and the commits after it are parsed (a rollup
    * this handle wrote is not parsed at all). The handle keeps the names
    * of its last listing alone. */
  private[graft] def log(): Log = {
    val names = if (!Files.isDirectory(commitsDir)) Nil else {
      val s = Files.list(commitsDir)
      // ".tmp-*" are in-flight atomic-publish temps — never parse them
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".json") && !n.startsWith(".")).toSeq.sorted
      finally s.close()
    }
    val prev = lastLog
    if (names == prev.names) return prev
    val (rollupNames, commitNames) = names.partition(_.endsWith(".ckpt.json"))
    val rollup = rollupNames.lastOption.map { n =>
      prev.rollup.filter(r => f"${r.commit.version}%012d.ckpt.json" == n).getOrElse(
        Serialization.read[LogCheckpoint](Files.readString(commitsDir.resolve(n))))
    }
    val horizon = rollup.fold(0L)(_.commit.version)
    val parsed = prev.later.map(c => f"${c.version}%012d.json" -> c).toMap
    val later = commitNames.filter(_.stripSuffix(".json").toLongOption.forall(_ > horizon))
      .map(n => parsed.getOrElse(n, parseCommit(n)))
    val l = Log(names, rollup, later)
    lastLog = l
    l
  }

  private def parseCommit(name: String): Commit = {
    val body = Files.readString(commitsDir.resolve(name))
    // pre-bucket-partitioned commits stored un-bucketed delta dirs
    // under `deltaFiles`; silently ignoring them would DROP their
    // rows from every read and let vacuum delete them — refuse
    // loudly instead (fold/compact with the writing version first)
    if (body.contains("\"deltaFiles\"")) {
      org.json4s.jackson.JsonMethods.parse(body) \ "deltaFiles" match {
        case org.json4s.JArray(xs) if xs.nonEmpty =>
          throw new UnsupportedOperationException(
            s"commit $name carries pre-upgrade un-bucketed " +
              "delta dirs (deltaFiles) this version cannot read; " +
              "compact the table with the version that wrote it " +
              "before upgrading")
        case _ =>
      }
    }
    Serialization.read[Commit](body)
  }

  def currentCommit(): Option[Commit] = log().head

  /** Number of files currently in the commit log (checkpoint trigger
    * gauge for long-lived streams). */
  def commitLogSize: Int = log().names.size

  /** Roll the commit log up into one checkpoint file and delete the
    * subsumed per-commit JSONs. History BEFORE the checkpoint is no
    * longer readable (the same trade [[vacuum]] makes for data dirs);
    * the current snapshot, per-dir writer schemas, and per-stream batch
    * idempotence all survive. Keeps the log directory O(commits since
    * last checkpoint) instead of O(stream lifetime). Works from ONE
    * [[Log]]: the rollup holds exactly the state that Log read, and only
    * files it named are deleted, so a commit landing meanwhile stays in
    * the log. */
  def checkpointLog(): Unit = {
    val l = log()
    val current = l.head.getOrElse(return)
    val live: Set[String] = (current.buckets.values ++ current.deltas.values.flatten)
      .map(LakeTable.schemaKeyOf).toSet
    val schemas = l.schemasByVersion.filter { case (v, _) => live.contains(v) }
    val maxBatch = l.later.filter(_.batchId >= 0)
      .foldLeft(l.rollup.fold(Map.empty[String, Long])(_.maxBatchIdByQuery)) { (m, c) =>
        m.updated(c.queryId, math.max(c.batchId, m.getOrElse(c.queryId, -1L)))
      }
    val ckpt = LogCheckpoint(current, schemas, maxBatch)
    val tmp = Files.createTempFile(commitsDir, ".tmp-", ".ckpt")
    Files.writeString(tmp, Serialization.write(ckpt))
    val rollupName = f"${current.version}%012d.ckpt.json"
    Files.move(tmp, commitsDir.resolve(rollupName), StandardCopyOption.ATOMIC_MOVE)
    // delete subsumed files: all plain commits ≤ version, older ckpts
    l.names.foreach { name =>
      val isCkpt = name.endsWith(".ckpt.json")
      val ver = name.stripSuffix(if (isCkpt) ".ckpt.json" else ".json").toLongOption
      if (ver.exists(v => v < current.version || !isCkpt && v == current.version))
        Files.deleteIfExists(commitsDir.resolve(name))
    }
    // the log this rollup leaves: the handle never parses its own rollup
    lastLog = Log(Seq(rollupName), Some(ckpt), Nil)
  }

  def txidWatermark: Long = currentCommit().map(_.txidWatermark).getOrElse(0L)

  /** Read the live rows of the latest snapshot (tombstones filtered). */
  def read(spark: SparkSession): DataFrame = LakeTable.dropTombstones(readRaw(spark))

  /** Read the latest snapshot INCLUDING delete tombstones (the merge
    * path needs them for the per-key version gate). */
  def readRaw(spark: SparkSession): DataFrame = currentCommit() match {
    case None => spark.emptyDataFrame
    // every LIVE bucket from the commit itself, so full-table reads are
    // independent of the constructor's numBuckets (a reader — e.g. the
    // SQL facade — need not know the writer's bucket count)
    case Some(c) => readCommit(spark, c, c.liveBuckets.toSeq.sorted)
  }

  /** Snapshot read pruned to the given buckets (MERGE reads only the
    * buckets the incoming keys hash to); tombstones included.
    * `resolve = false` skips the merge-on-read per-key resolution and
    * returns every physical row (base + all deltas) — for consumers
    * that aggregate per key themselves (e.g. the apply gate's
    * max-txid, which would otherwise pay a full window shuffle per
    * micro-batch just to read back a handful of keys). */
  def readBuckets(spark: SparkSession, buckets: Seq[Int],
      resolve: Boolean = true): DataFrame =
    currentCommit() match {
      case None => spark.emptyDataFrame
      case Some(c) => readCommit(spark, c, buckets, resolve)
    }

  /** All RETAINED commits in version order: one small JSON per commit,
    * plus the rollup commit if [[checkpointLog]] has truncated older
    * history. */
  def commitLog(): Seq[Commit] = log().commits

  /** Time travel (Iceberg `VERSION AS OF` semantics): the table's live
    * rows as of a past commit, so a downstream job can pin a
    * REPRODUCIBLE snapshot while the streaming tail keeps committing.
    * Valid for versions still in the retained commit log whose data
    * dirs have not been garbage-collected — [[checkpointLog]] (history
    * rollup) and [[vacuum]] (data-dir GC) both shrink the travelable
    * window, the standard lakehouse retention trade; refusal is an
    * explicit error, never a silently partial read. */
  def readVersion(spark: SparkSession, version: Long): DataFrame = {
    val c = commitLog().find(_.version == version).getOrElse(
      throw new IllegalArgumentException(
        s"version $version is not in the retained commit log at $location " +
          "(never existed, or rolled up by checkpointLog)"))
    requireRetained(c, c.buckets.values ++ c.deltaFiles, "snapshot")
    LakeTable.dropTombstones(readCommit(spark, c, c.liveBuckets.toSeq.sorted))
  }

  /** Refuse a read of `c` once any of its data dirs `rels` was vacuumed
    * — an explicit error naming the dirs, never a partial result. */
  private def requireRetained(c: Commit, rels: Iterable[String], what: String): Unit = {
    val gone = rels.toSeq.distinct.filterNot(rel => Files.exists(root.resolve(rel)))
    if (gone.nonEmpty) throw new IllegalArgumentException(
      s"version ${c.version} references vacuumed data (${gone.take(4).mkString(", ")}" +
        s"${if (gone.size > 4) ", …" else ""}) — $what outside the retention window")
  }

  /** The newest retained version whose txid high-watermark is ≤ `txid`
    * — time travel by changelog position instead of version number
    * (`readVersion(versionAt(tx).get)` = "the table as of event tx"). */
  def versionAt(txid: Long): Option[Long] =
    commitLog().takeWhile(_.txidWatermark <= txid).lastOption.map(_.version)

  /** Incremental changelog read — the table as a CHANGE PRODUCER
    * (Delta CDF / Iceberg `create_changelog_view` semantics, the
    * reverse direction of the ingest path): the net row-level changes
    * between snapshot `fromVersion` (exclusive) and `toVersion`
    * (inclusive), as the target schema plus a `_change_type` column
    * (`insert` | `update` | `delete`). Inserts and updates carry the
    * post-image; a delete carries the pre-image, both projected onto
    * `toVersion`'s schema and column names — a declared rename inside
    * the range surfaces every change under the CURRENT names. A key
    * both created and deleted inside the range nets out to nothing
    * (this is the net-changes form — one row per changed key, not the
    * Delta pre/post pair). Reference analogue: the `_etag`-keyed
    * snapshot diff the shell pipeline re-derives from full dumps,
    * /root/reference/manta/dc_diff.sh — here it is a metadata-pruned
    * lake read instead of a full re-scan.
    *
    * Scale shape: the range's commits are diffed METADATA-first —
    * only buckets whose base dir or delta stack changed across the
    * range are scanned and per-key resolved at the two endpoint
    * versions, so cost is O(churned buckets' data), never O(table).
    * Maintenance commits (consolidate / fold / compact / rename /
    * vacuum rewrites) change bucket metadata without logical content;
    * their buckets are read but contribute no rows — the per-key
    * null-safe (_txid, _etag) equality filter drops them.
    *
    * `fromVersion` 0 means "before the first commit": every live row
    * at `toVersion` is an `insert` (bootstrap feed for a new
    * downstream consumer). Only the two ENDPOINT versions must still
    * be in the retained commit log with un-vacuumed data — data dirs
    * are write-unique (`data/cVVV[d]-T`) and bucket pointers only
    * move forward, so equal pointers at both endpoints prove the
    * bucket was untouched by every commit in between; intermediate
    * commit JSONs are never consulted. Refusal is an explicit error,
    * never a silently partial changelog. A consumer that must
    * out-live [[checkpointLog]] rollups keeps its own copy of the
    * from-endpoint `Commit` and calls the Commit-based overload
    * directly (what [[graft.cdc.CdcOut]] does). */
  def changesBetween(spark: SparkSession, fromVersion: Long,
      toVersion: Long): DataFrame = {
    val (from, to) = resolveEndpoints(fromVersion, toVersion)
    changesBetween(spark, from, to)
  }

  /** [[changesBetween]] by version in the Delta-CDF image-pair form
    * (see the Commit-based overload's `imagePairs` doc). */
  def changesBetween(spark: SparkSession, fromVersion: Long,
      toVersion: Long, imagePairs: Boolean): DataFrame = {
    val (from, to) = resolveEndpoints(fromVersion, toVersion)
    changesBetween(spark, from, to, imagePairs)
  }

  private def resolveEndpoints(fromVersion: Long,
      toVersion: Long): (Option[Commit], Commit) = {
    require(fromVersion >= 0 && fromVersion < toVersion,
      s"need 0 <= fromVersion < toVersion, got $fromVersion..$toVersion")
    val byVer = commitLog().map(c => c.version -> c).toMap
    def lookup(v: Long): Commit = byVer.getOrElse(v,
      throw new IllegalArgumentException(
        s"version $v is not in the retained commit log at $location " +
          "(never existed, or rolled up by checkpointLog) — changelog " +
          "endpoint unavailable"))
    (if (fromVersion == 0) None else Some(lookup(fromVersion)),
      lookup(toVersion))
  }

  /** [[changesBetween]] with caller-held endpoint commits — `from`
    * None means "before the first commit" (bootstrap). The commits
    * must be genuine past commits of THIS table (a consumer's saved
    * watermark, a [[commitLog]] entry); only their data dirs still
    * have to exist, so a lagging consumer survives commit-log
    * rollups as long as its pull cadence beats [[vacuum]]'s data
    * retention window.
    *
    * `imagePairs` selects the Delta-CDF full form: an updated key
    * emits TWO rows, `update_preimage` (the from-endpoint values) and
    * `update_postimage` (the to-endpoint values), instead of the net
    * form's single `update` post-image row — what an auditing or
    * incremental-aggregation consumer needs to SUBTRACT the old
    * contribution before adding the new. Inserts and deletes are
    * unchanged. Same single diff join either way — the pair form just
    * explodes each update match into both sides. */
  def changesBetween(spark: SparkSession, from: Option[Commit],
      to: Commit, imagePairs: Boolean = false): DataFrame = {
    from.foreach(f => require(f.version < to.version,
      s"need from.version < to.version, got ${f.version}..${to.version}"))
    // metadata diff at the ENDPOINTS: a bucket is TOUCHED iff its base
    // dir or delta stack differs between the two commits (pointers are
    // version-stamped and monotonic — they cannot differ mid-range and
    // return)
    val (fb, fd) = from.map(c => (c.buckets, c.deltas))
      .getOrElse((Map.empty[String, String], Map.empty[String, Seq[String]]))
    val touched: Seq[Int] =
      (fb.keySet ++ to.buckets.keySet ++ fd.keySet ++ to.deltas.keySet)
        .filter(b => fb.get(b) != to.buckets.get(b) ||
          fd.getOrElse(b, Nil) != to.deltas.getOrElse(b, Nil))
        .toSeq.map(_.toInt).sorted
    val outFields = to.schema.fields.filterNot(_.name == "_deleted").toSeq
    val outSchema = StructType(outFields :+
      StructField("_change_type", org.apache.spark.sql.types.StringType))
    if (touched.isEmpty) return LakeTable.emptyFrame(spark, outSchema)
    // retention check scoped to the dirs this diff will actually read
    Seq(Some(to), from).flatten.foreach { c =>
      requireRetained(c, touched.flatMap(b => c.buckets.get(b.toString)) ++
        touched.flatMap(b => c.deltas.getOrElse(b.toString, Nil)), "changelog range")
    }
    // both endpoint states on toVersion's column names and types: map
    // names the TO-version has since retired onto their current names
    // (readCommit already applied each endpoint's OWN rename registry),
    // drop tombstoned rows, then cast up
    def liveAs(df: DataFrame): DataFrame = LakeTable.align(
      LakeTable.dropTombstones(LakeTable.withRenames(df, to.renames)), StructType(outFields))
    val post = liveAs(readCommit(spark, to, touched))
    val pre = from.map(c => liveAs(readCommit(spark, c, touched)))
      .getOrElse(LakeTable.emptyFrame(spark, StructType(outFields)))
    // churn-sized full-outer diff on the merge keys; version identity is
    // the null-safe (_txid, _etag) pair, so maintenance-only rewrites
    // (same logical rows, new files) compare equal and emit nothing.
    // `_change_type` is RESERVED (Delta CDF convention) — a payload
    // column by that name would silently shadow the classification
    val keys = graft.model.Model.MergeKeys
    val nonKey = outFields.map(_.name).filterNot(keys.contains)
    require(!nonKey.contains("_change_type"),
      s"payload column _change_type at $location conflicts with the " +
        "changelog's reserved classification column — rename it first")
    // each side packed into ONE struct column, so arbitrary payload
    // column names (the novel-key absorber admits anything, including
    // names like `present`) cannot collide with the join's bookkeeping:
    // the only top-level aux names are __n/__o, and tag() projects
    // nothing else, while the merge keys are structural and fixed
    def tag(df: DataFrame, p: String) = df.select(
      keys.map(col) :+ struct(nonKey.map(col): _*).as(s"__$p"): _*)
    val j = tag(post, "n").join(tag(pre, "o"), keys.toSeq, "full_outer")
    val unchanged = col("__n").isNotNull && col("__o").isNotNull &&
      (col("__n").getField("_txid") <=> col("__o").getField("_txid")) &&
      (col("__n").getField("_etag") <=> col("__o").getField("_etag"))
    if (!imagePairs) {
      val changeType = when(col("__o").isNull, lit("insert"))
        .when(col("__n").isNull, lit("delete"))
        .otherwise(lit("update"))
      j.where(!unchanged).select(
        (keys.map(col) ++ nonKey.map(c =>
          when(col("__n").isNull, col("__o").getField(c))
            .otherwise(col("__n").getField(c)).as(c))) :+
          changeType.as("_change_type"): _*)
    } else {
      // full form: one join, each update match exploded into its
      // pre- and post-image rows
      def img(side: String, ct: String) = struct(
        nonKey.map(c => col(s"__$side").getField(c).as(c)) :+
          lit(ct).as("_change_type"): _*)
      val images = when(col("__o").isNull, array(img("n", "insert")))
        .when(col("__n").isNull, array(img("o", "delete")))
        .otherwise(array(
          img("o", "update_preimage"), img("n", "update_postimage")))
      j.where(!unchanged)
        .select(keys.map(col) :+ explode(images).as("__img"): _*)
        .select(keys.map(col) ++ (nonKey :+ "_change_type").map(c =>
          col("__img").getField(c).as(c)): _*)
    }
  }

  /** The rows of `buckets` in commit `c` (a writer reads through the
    * commit it publishes against, never the head). */
  private[graft] def readCommit(spark: SparkSession, c: Commit, buckets: Seq[Int],
      resolve: Boolean = true, includeBase: Boolean = true): DataFrame = {
    val base =
      if (includeBase) buckets.flatMap(b => c.buckets.get(b.toString)) else Nil
    // pruning is PATH selection — a stack entry names only files holding
    // its bucket's rows, and buckets without deltas skip resolve cost
    val deltaRels = buckets.flatMap(b => c.deltas.getOrElse(b.toString, Nil))
    if (base.isEmpty && deltaRels.isEmpty) return LakeTable.emptyFrame(spark, c.schema)
    // a flat entry is shared with other buckets, some of which may have
    // been consolidated or folded since: it is read for exactly the
    // requested buckets whose stack still lists it, and entries listed
    // by the same buckets share one scan
    val listedBy: Map[String, Seq[Int]] = buckets.distinct.flatMap(b =>
        c.deltas.getOrElse(b.toString, Nil).filter(LakeTable.isFlat).map(_ -> b))
      .groupMap(_._1)(_._2)
    // Each data dir was written by exactly one commit (path encodes the
    // version), under that commit's schema. Schema evolution may PROMOTE
    // column types (int→double→string), which parquet cannot coerce at
    // scan time — so read every file group under its writer's schema and
    // cast up to the latest (reader-side promotion, SURVEY.md §7 hard
    // part (c)). Single-schema groups take the single-scan fast path.
    // The writers' schemas come from the newest Log this handle read, or
    // from a fresh one when `c` is newer than it (another handle's commit)
    val schemas = Some(lastLog).filter(_.head.exists(_.version >= c.version))
      .getOrElse(log()).writerSchemas
    val latest = c.schema
    // `only` non-empty: the rels are flat, and only those buckets' rows
    // are kept (their `_bucket` column is scanned, filtered and dropped)
    def readGroup(rels: Seq[String], only: Seq[Int] = Nil): Option[DataFrame] = {
      if (rels.isEmpty) return None
      def scanned(grp: Seq[String], schema: Option[StructType]) =
        if (only.isEmpty) scan(spark, grp, schema)
        else scan(spark, grp, schema.map(_.add("_bucket", IntegerType)))
          .where(col("_bucket").isin(only: _*)).drop("_bucket")
      val byVersion = rels.groupBy(LakeTable.schemaKeyOf)
      // fast path (one scan) only when EVERY dir's writer schema is
      // known and nothing needs reader-side promotion; add-only
      // evolution is fine (missing columns → null) but a dir written
      // under a since-retired column name is not — a single
      // latest-schema scan would read the renamed column as all-null
      // instead of mapping the retired name onto it
      val addOnly = byVersion.keys.forall(v => schemas.get(v).exists(_.fields.forall(f =>
        !c.renames.contains(f.name) &&
          latest.find(_.name == f.name).exists(_.dataType == f.dataType))))
      Some(
        if (addOnly) scanned(rels, Some(latest))
        // a dir whose writer schema was pruned from the retained log (a
        // lagging consumer's endpoint commit after checkpointLog rolled
        // history up) scans under its footers' schema — exactly what was
        // written — and is promoted/renamed as usual: old files under the
        // latest schema would crash on promoted types or read renamed
        // columns as all-null
        else byVersion.toSeq.sortBy(_._1).map { case (ver, grp) =>
          LakeTable.align(
            LakeTable.withRenames(scanned(grp, schemas.get(ver)), c.renames), latest)
        }.reduce(_ unionByName _))
    }
    val deltaDfs = readGroup(deltaRels.distinct.filterNot(LakeTable.isFlat)) ++
      listedBy.toSeq.groupMap(_._2)(_._1).toSeq.sortBy(_._2.min)
        .flatMap { case (only, rels) => readGroup(rels.sorted, only) }
    val combined = (readGroup(base) ++ deltaDfs).reduce(_ unionByName _)
    // MERGE-ON-READ resolve: a key may appear in the base and in any
    // number of delta files — the newest row wins (resolveLatest).
    // Skipped entirely when no deltas exist. A bucket with NO base and
    // at most ONE delta dir cannot hold a duplicated key (each delta
    // dir is one batch's per-key-unique winners; a consolidated dir is
    // per-key resolved) — so a freshly bootstrapped delta-only table
    // skips the resolve shuffle outright.
    val resolveFree = base.isEmpty && buckets.forall(b =>
      c.deltas.getOrElse(b.toString, Nil).size <= 1)
    if (deltaDfs.isEmpty || !resolve || resolveFree) combined
    else resolveLatest(combined, numBucketsOf(Some(c)), LakeTable.SaltBuckets)
  }

  /** One parquet scan over the data dirs or files `rels`, under
    * `schema` (the footers' schema when None): the relation
    * `DataFrameReader.parquet` resolves the paths to — same scan node,
    * path order, sizes and input files — but with every part file
    * handed to the index pre-listed, so no listing job runs however
    * many paths the read spans (Spark lists past
    * `parallelPartitionDiscovery.threshold` paths with a distributed
    * job, ~0.1-0.6 s) and no session conf is touched. A missing path
    * fails the read by name, never scans as empty. */
  private def scan(spark: SparkSession, rels: Seq[String],
      schema: Option[StructType]): DataFrame = {
    val fs = FileSystem.get(spark.sessionState.newHadoopConf())
    val listed = rels.map { rel =>
      val local = root.resolve(rel)
      // qualified, no trailing slash: each part's parent must equal its
      // root, or partition inference sees conflicting dir structures
      val path = fs.makeQualified(new HadoopPath(local.toString))
      if (!Files.exists(local)) throw new java.io.FileNotFoundException(
        s"data path $path referenced by the commit does not exist")
      // a file root is its own one leaf, named by its own path
      val dir = if (Files.isDirectory(local)) path.toUri.getPath else path.getParent.toUri.getPath
      path -> LakeTable.parquetParts(local).sortBy(_.getFileName.toString).map { p =>
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        // named as Hadoop's local listing names a file (file:///…)
        new FileStatus(a.size, false, 1, fs.getDefaultBlockSize(path), a.lastModifiedTime.toMillis,
          fs.makeQualified(new HadoopPath(dir, p.getFileName.toString)))
      }.toArray
    }
    val cache = new FileStatusCache {
      private val byDir = listed.toMap
      override def getLeafFiles(path: HadoopPath) = byDir.get(path)
      def putLeafFiles(path: HadoopPath, files: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, listed.map(_._1), Map.empty, schema, cache)
    val format = new ParquetFileFormat
    val dataSchema = schema.orElse(format.inferSchema(spark, Map.empty, index.allFiles()))
      .getOrElse(throw new IllegalStateException(
        s"no parquet footer to infer a schema from under ${rels.mkString(", ")}"))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      graftshim.asNullable(dataSchema), None, format, Map.empty)(spark))
  }

  /** The engine's one merge rule — the newest row per (conv_id,
    * turn_idx) wins (the reference's `sort -r | uniq`,
    * manta/dc_inputs_2b.sh:33-35) — shared by the merge-on-read
    * resolve, the fold, the consolidation, the bulk apply and the
    * apply's within-batch collapse of its winners. `rows`
    * must already be aligned to the stored schema (the bucket hash is
    * type-directed). "Newest" is the greatest `order`,
    * by default (_txid, _etag); the bulk apply slots a stored-row flag
    * between the two so a stored row wins a _txid tie.
    *
    * A max_by instead of a row_number window, and the ONE hash shuffle
    * is keyed by (BUCKET, SALT) — both functions of the merge keys,
    * appended as extra grouping columns: the result comes out
    * CLUSTERED BY BUCKET, so a bucket-partitioned writer consumes it
    * with no further exchange and ≤ `salt` files per bucket. The salt
    * keeps the aggregation's parallelism at numBuckets × salt (not
    * numBuckets) and spreads a hot bucket's resolve across `salt`
    * reducers instead of funneling it through one; `salt = 1` keeps
    * each bucket whole in one reducer (one file per bucket). Buckets
    * hash into `numBuckets`, the layout of the commit read. */
  private[graft] def resolveLatest(rows: DataFrame, numBuckets: Int, salt: Int,
      order: Column = struct(col("_txid"), coalesce(col("_etag"), lit("")))): DataFrame = {
    val keys = graft.model.Model.MergeKeys
    val p = rows.sparkSession.sessionState.conf.numShufflePartitions
    rows.withColumn("__bkt", LakeTable.bucketColFor(col("conv_id"), numBuckets))
      .withColumn("__slt", pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(salt.toLong)))
      .repartition(p, col("__bkt"), col("__slt"))
      .groupBy((Seq(col("__bkt"), col("__slt")) ++ keys.map(col)): _*)
      .agg(max_by(struct(rows.columns.toSeq.map(col): _*), order).as("__m"))
      .select(col("__m.*"))
  }

  /** Atomically publish a new snapshot. `rewritten` are the buckets this
    * commit REWROTE: Some(relativeDir) replaces the bucket's BASE data,
    * None removes the bucket entirely (every row deleted). A rewritten
    * bucket's delta stack is cleared — the rewrite read base ∪ deltas
    * resolved, so its new base subsumes them. All other buckets (bases
    * AND delta stacks) carry forward. `deltaAdds` appends one
    * (deltaDir, rowCount) per bucket to the delta stacks; `deltaReplaces`
    * REPLACES a bucket's whole stack with one consolidated dir (the
    * two-level merge: the stack was resolved into a single delta, base
    * untouched). A single commit may fold some buckets, consolidate
    * others, and delta the rest (the steady-state mixed apply),
    * atomically. A delta-only commit carries every base forward: the
    * steady-state CDC apply is an O(batch) write, no table rewrite
    * (reference contrast: the dump pipeline rewrites everything every
    * cycle, manta/dc_inputs_4.sh).
    *
    * `renames` (retired → current, flattened over `base`'s) joins the
    * carried rename map: only [[renameColumn]] passes any.
    *
    * `base` is the commit the writer read and derived its files from
    * (None: an empty table). OPTIMISTIC CONCURRENCY (Iceberg-style):
    * every attempt — the first, and each retry after a lost link(2)
    * race — reads the log ONCE ([[log]]), runs the one conflict check
    * of `base` against it ([[requireNoConflict]]) and builds on its
    * head, which carries every other bucket forward; a true conflict raises
    * ConcurrentModificationException and the caller redoes its work
    * against the new snapshot (a stream batch, through its checkpoint's
    * replay). Writers never race on data files: each writes its own
    * fresh dir ([[LakeTable.newDataDir]]), so a writer refused here has
    * touched nothing another writer published. */
  def commit(
      base: Option[Commit],
      schema: StructType,
      rewritten: Map[Int, Option[String]],
      newRowCounts: Map[Int, Long],
      txidWatermark: Long,
      batchId: Long,
      metrics: Map[String, Long],
      queryId: String = "",
      deltaAdds: Map[Int, (String, Long)] = Map.empty,
      deltaReplaces: Map[Int, (String, Long)] = Map.empty,
      renames: Map[String, String] = Map.empty): Commit = {
    val mine = rewritten.keySet ++ deltaAdds.keySet ++ deltaReplaces.keySet ++ newRowCounts.keySet
    var attempt = 0
    while (true) {
      val l = log()
      requireNoConflict(base, l.commits, mine, schema)
      try return commitOnce(l.head, schema, rewritten, newRowCounts,
        txidWatermark, batchId, metrics, queryId, deltaAdds, deltaReplaces, renames)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          attempt += 1
          if (attempt > 5) throw new java.util.ConcurrentModificationException(
            s"lost the commit race $attempt times at $location — livelock?")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The one conflict check, run by every commit attempt: refuses a
    * commit derived from `base` once the head of `log` has moved past it
    * in a way that voids what the writer derived — a rebucket (its
    * bucket ids name another hash space), a commit that modified one of
    * the writer's buckets `mine` (its files resolve a stale read of that
    * bucket), or a schema change: a rename (its files carry the retired
    * names, and its schema would revert the rename while the rename map
    * points past it) or another writer's new column (its schema would
    * hide that column) — or a change of the schema by a writer of
    * buckets: its dir is stamped base + 1, and a dir's writer schema is
    * the one committed at its stamp, so a schema change lands there or
    * not at all (a rename writes no dir, so it composes). */
  private def requireNoConflict(base: Option[Commit], log: Seq[Commit], mine: Set[Int],
      schema: StructType): Unit = {
    val since = base.fold(0L)(_.version)
    val head = log.lastOption
    if (head.fold(0L)(_.version) == since) return
    def refuse(what: String) = throw new java.util.ConcurrentModificationException(
      s"$what at $location since version $since — redo the write against the new snapshot")
    if (numBucketsOf(head) != numBucketsOf(base)) refuse("concurrent rebucket")
    val overlap = mine intersect modifiedBucketsSince(since, log)
    if (overlap.nonEmpty)
      refuse(s"concurrent commit modified buckets ${overlap.toSeq.sorted.take(8).mkString(",")}")
    if (head.map(_.schemaJson) != base.map(_.schemaJson))
      refuse("concurrent schema change (a column rename or a new column)")
    if (mine.nonEmpty && !base.exists(_.schemaJson == schema.json))
      refuse("a schema change that cannot land at its data dir's version")
  }

  /** Test-only race injection: runs after the next attempt's conflict
    * check, just before its publish, so a spec can land a competing
    * commit that the retry's check then sees (cleared after first use). */
  private[graft] var testBeforePublish: () => Unit = () => ()

  /** Buckets modified by any commit of `log` (the retained log) with
    * version > `sinceVersion`: the union, over each such commit, of keys
    * whose base dir, delta stack, or row count differs from its
    * predecessor's. Commits no longer in the retained log
    * (checkpoint-truncated) are treated as modifying everything —
    * refusal is the safe answer. */
  private def modifiedBucketsSince(sinceVersion: Long, log: Seq[Commit]): Set[Int] = {
    if (log.isEmpty) return Set.empty
    if (log.head.version > sinceVersion + 1)
      return log.last.liveBuckets
    // log.head's own predecessor (version == sinceVersion) is never in
    // the retained log, so sliding(2) can't see head's changes. When the
    // head itself is inside the conflict window — two writers racing on
    // an empty table, or the writer's base rolled into a checkpoint at
    // base+1 — count everything the head carries as modified (it has no
    // visible predecessor to diff against; refusal is the safe answer).
    val headOwn: Set[Int] =
      if (log.head.version == sinceVersion + 1)
        log.head.liveBuckets
      else Set.empty
    headOwn ++ log.sliding(2).collect {
      case Seq(a, b) if b.version > sinceVersion =>
        val keys = a.buckets.keySet ++ b.buckets.keySet ++
          a.deltas.keySet ++ b.deltas.keySet
        keys.filter(k => a.buckets.get(k) != b.buckets.get(k) ||
          a.deltas.get(k) != b.deltas.get(k) ||
          a.rowCounts.get(k) != b.rowCounts.get(k)).map(_.toInt)
    }.flatten.toSet
  }

  private def commitOnce(
      prev: Option[Commit],
      schema: StructType,
      rewritten: Map[Int, Option[String]],
      newRowCounts: Map[Int, Long],
      txidWatermark: Long,
      batchId: Long,
      metrics: Map[String, Long],
      queryId: String,
      deltaAdds: Map[Int, (String, Long)],
      deltaReplaces: Map[Int, (String, Long)],
      renames: Map[String, String]): Commit = {
    val carried = prev.map(_.buckets).getOrElse(Map.empty)
    val carriedCounts = prev.map(_.rowCounts).getOrElse(Map.empty)
    val carriedDeltas = prev.map(_.deltas).getOrElse(Map.empty)
    val carriedDeltaCounts = prev.map(_.deltaRowCounts).getOrElse(Map.empty)
    val dropped = rewritten.collect { case (k, None) => k.toString }.toSet
    val clearedKeys = rewritten.keys.map(_.toString).toSet
    val newDeltas = deltaAdds.foldLeft(
      (carriedDeltas -- clearedKeys) ++
        deltaReplaces.map { case (b, (dir, _)) => b.toString -> Seq(dir) }) {
      case (m, (b, (dir, _))) => m.updated(b.toString, m.getOrElse(b.toString, Nil) :+ dir)
    }
    val newDeltaCounts = deltaAdds.foldLeft(
      (carriedDeltaCounts -- clearedKeys) ++
        deltaReplaces.map { case (b, (_, n)) => b.toString -> Seq(n) }) {
      case (m, (b, (_, n))) => m.updated(b.toString, m.getOrElse(b.toString, Nil) :+ n)
    }
    val rewrittenCounts = (carriedCounts -- dropped) ++
      newRowCounts.map { case (k, v) => k.toString -> v }
    // consolidation collapses duplicate keys: the bucket's physical
    // count is its base plus the consolidated dir's rows. A bucket
    // whose PREVIOUS stack has untracked row counts (deltaRowsOf =
    // None — pre-count-tracking commits) is refused here: subtracting
    // 0 for the old stack would permanently inflate the bucket's
    // lineage and skew later baseRowsOf/foldRatio decisions. CdcApply
    // never routes such buckets to consolidation (they fold), so this
    // guards only direct commit() API callers.
    val consolidatedCounts = deltaReplaces.foldLeft(rewrittenCounts) {
      case (m, (b, (_, n))) =>
        // deltaRowsOf is Some(0) for an absent stack, None ONLY for a
        // non-empty untracked one — so the orElse is always a refusal
        val oldStack = prev.flatMap(_.deltaRowsOf(b)).getOrElse(
          throw new IllegalArgumentException(
            s"deltaReplaces for bucket $b: previous stack has untracked " +
              "row counts (pre-upgrade commit) — fold the bucket instead"))
        m.updated(b.toString, math.max(0L, m.getOrElse(b.toString, 0L) - oldStack) + n)
    }
    // delta rows join the bucket's physical row count (lineage stays
    // live for delta commits, not just rewrites)
    val counts = deltaAdds.foldLeft(consolidatedCounts) {
      case (m, (b, (_, n))) => m.updated(b.toString, m.getOrElse(b.toString, 0L) + n)
    }
    // running tombstone counter: maintenance triggers read it from the
    // LATEST commit alone, so checkpointLog()'s history truncation
    // cannot under-count slow-but-steady delete accumulation
    val delSince =
      if (metrics.contains("compaction")) 0L
      else prev.flatMap(_.metrics.get("deletesSinceCompaction")).getOrElse(0L) +
        metrics.getOrElse("deletes", 0L)
    val hook = testBeforePublish
    testBeforePublish = () => ()
    hook()
    // the watermark never falls: a retry rebuilt against a head that a
    // disjoint writer moved higher keeps that writer's watermark (the
    // version gate's skip and versionAt both read it as an upper bound)
    publish(Commit(
      prev.map(_.version + 1).getOrElse(1L), batchId,
      prev.fold(txidWatermark)(p => math.max(txidWatermark, p.txidWatermark)), schema.json,
      (carried -- dropped) ++ rewritten.collect { case (k, Some(v)) => k.toString -> v },
      counts, metrics + ("deletesSinceCompaction" -> delSince) +
        // persist the layout's bucket count forward; a caller-supplied
        // value wins (only rebucket passes one — it IS the layout change)
        (LakeTable.NumBucketsKey -> metrics.getOrElse(
          LakeTable.NumBucketsKey, numBucketsOf(prev).toLong)),
      queryId, newDeltas, newDeltaCounts,
      prev.map(_.renames).getOrElse(Map.empty) ++ renames))
  }

  /** Rename a payload column — Iceberg ALTER TABLE RENAME COLUMN
    * semantics (north rule: "renamed transcript fields like tool"): a
    * METADATA-ONLY commit that swaps the name in the table schema and
    * records retired→current in [[Commit.renames]]. No data file is
    * rewritten; readers map pre-rename dirs onto the current name at
    * scan time, and [[graft.cdc.CdcApply.applyBatch]] folds events from
    * late producers still emitting the retired key into the current
    * column (so the retired name can never re-enter the schema through
    * the novel-key absorber). Chained renames stay flattened: after
    * a→b then b→c the map holds a→c and b→c, so a dir of ANY vintage
    * resolves in one hop. Merge keys and CDC envelope columns are
    * structural and refuse to rename. Concurrency: one [[commit]]
    * against the head it read, passing the flattened map; it touches no
    * bucket, so a disjoint data commit landing first is composed onto,
    * while a schema change or a rebucket landing first refuses it with
    * ConcurrentModificationException. */
  def renameColumn(oldName: String, newName: String): Commit = {
    val structural = graft.model.Model.MergeKeys.toSet ++
      Set("_txid", "_etag", "_deleted", "_bucket")
    require(oldName != newName, s"rename $oldName -> itself")
    require(!structural(oldName) && !structural(newName),
      s"cannot rename structural column ($oldName -> $newName)")
    val head = currentCommit().getOrElse(throw new IllegalArgumentException(
      s"rename $oldName -> $newName: table at $location has no commits"))
    val schema = head.schema
    require(schema.fieldNames.contains(oldName),
      s"rename source $oldName not in schema ${schema.fieldNames.mkString(",")}")
    require(!schema.fieldNames.contains(newName),
      s"rename target $newName already in schema")
    val renamed = StructType(schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val flattened = head.renames.map { case (k, v) =>
      k -> (if (v == oldName) newName else v)
    } + (oldName -> newName)
    commit(Some(head), renamed, Map.empty, Map.empty, head.txidWatermark, -1L,
      Map("rename" -> 1L), renames = flattened)
  }

  private def publish(c: Commit): Commit = {
    Files.createDirectories(commitsDir)
    val tmp = Files.createTempFile(commitsDir, ".tmp-", ".json")
    Files.writeString(tmp, Serialization.write(c))
    val target = commitsDir.resolve(f"${c.version}%012d.json")
    // hard-link, not rename: POSIX rename(2) — what ATOMIC_MOVE maps
    // to — silently REPLACES an existing target, so a lost race would
    // clobber the winner's commit instead of throwing. link(2) fails
    // with EEXIST atomically, guaranteeing exactly one writer wins a
    // version; the loser's FileAlreadyExistsException drives commit()'s
    // optimistic retry (rebuild against the new head if buckets are
    // disjoint, refuse on true conflicts).
    try {
      Files.createLink(target, tmp)
      Files.deleteIfExists(tmp)
    } catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp); throw e
    }
    c
  }

  /** Compact the table: rewrite every live bucket, dropping delete
    * tombstones whose _txid < `tombstoneHorizon`. A tombstone guards
    * against resurrection by stale (lower-txid) updates, so it may only
    * be dropped once no event older than it can still arrive — the
    * caller supplies that lateness bound (e.g. watermark − maxLag).
    * Also merges the per-commit small files of each bucket into one
    * rewrite, bounding read amplification after many commits. */
  def compact(spark: SparkSession, tombstoneHorizon: Long): Option[Commit] =
    currentCommit().map { c =>
      val keep = readCommit(spark, c, c.liveBuckets.toSeq.sorted).where(
        !coalesce(col("_deleted"), lit(false)) || col("_txid") >= tombstoneHorizon)
      val (rel, counts) = writeBase(keep, c, col("conv_id"), numBucketsOf(Some(c)))
      // every bucket with a base or a delta stack is folded into the new
      // base; rewriting them clears their delta stacks in commit().
      // `counts` are the fresh post-compaction row counts: the
      // tombstones just dropped must leave the per-bucket lineage too
      val rewritten: Map[Int, Option[String]] =
        c.liveBuckets.map { b =>
          b -> counts.get(b).map(_ => s"$rel/_bucket=$b")
        }.toMap
      commit(Some(c), c.schema, rewritten, counts, c.txidWatermark, -1L,
        Map("compaction" -> 1L, "tombstoneHorizon" -> tombstoneHorizon))
    }

  /** Rewrite `df`, read from `base`, as a fresh base of `numBuckets`
    * buckets (hashed from `conv`) in a new dir ([[LakeTable.newDataDir]]),
    * files sorted by (bucket, conv_id, turn_idx) for row-group min/max
    * skipping on later gate reads — the one write shape shared by
    * compaction and rebucketing. Returns the dir's relative path and the
    * rows the write put in each bucket (a bucket it wrote no row to has
    * no entry and no dir). */
  private def writeBase(df: DataFrame, base: Commit,
      conv: Column, numBuckets: Int): (String, Map[Int, Long]) = {
    val rel = LakeTable.newDataDir(Some(base), delta = false)
    val obs = new org.apache.spark.sql.Observation(s"base-${base.version + 1}")
    df.withColumn("_bucket", LakeTable.bucketColFor(conv, numBuckets))
      .observe(obs, LakeTable.bucketWrites(col("_bucket"), numBuckets))
      .repartition(col("_bucket"))
      .sortWithinPartitions("_bucket", "conv_id", "turn_idx")
      .write.mode("errorifexists").partitionBy("_bucket")
      .parquet(root.resolve(rel).toString)
    (rel, LakeTable.observedBucketWrites(obs.get, root.resolve(rel)).map { case (b, w) => b -> w.rows })
  }

  /** Re-hash the table to a new bucket count — the maintenance op for
    * a table that has outgrown (or over-provisioned) its layout: at
    * 100 TB a hot table's per-bucket files eventually dwarf the
    * original count's parallelism, and the fix must not depend on
    * every writer being reconfigured in lockstep. One atomic commit
    * rewrites the resolved snapshot (tombstones carried over, so
    * resurrection safety and later horizon compaction are unchanged)
    * under the new hash space, clears every delta stack into it, and
    * persists the new count as table metadata — subsequent writers and
    * appliers pick it up via [[effectiveNumBuckets]] no matter what
    * their constructors say. The analogue of Iceberg partition-spec
    * evolution, by full rewrite (the layout is a hash space — old and
    * new specs cannot coexist file-by-file).
    *
    * Concurrency: publishes through the optimistic one-winner
    * protocol, and since it touches EVERY bucket, any interleaved data
    * commit is a true conflict (`ConcurrentModificationException`) —
    * run it in a maintenance window or catch-and-retry around the
    * streaming tail. */
  def rebucket(spark: SparkSession, newNumBuckets: Int): Commit = {
    require(newNumBuckets > 0, s"newNumBuckets must be positive: $newNumBuckets")
    val c = currentCommit().getOrElse(throw new IllegalArgumentException(
      s"rebucket: table at $location has no commits"))
    val oldN = numBucketsOf(Some(c))
    require(newNumBuckets != oldN,
      s"table at $location is already laid out with $oldN buckets")
    val (rel, counts) = writeBase(readCommit(spark, c, c.liveBuckets.toSeq.sorted),
      c, col("conv_id"), newNumBuckets)
    val allBuckets = c.liveBuckets ++ (0 until newNumBuckets)
    val rewritten: Map[Int, Option[String]] = allBuckets.map { b =>
      b -> counts.get(b).map(_ => s"$rel/_bucket=$b")
    }.toMap
    commit(Some(c), c.schema, rewritten, counts, c.txidWatermark, -1L,
      Map("rebucket" -> 1L, LakeTable.NumBucketsKey -> newNumBuckets.toLong))
  }

  /** Garbage-collect data dirs no snapshot in the retention window
    * references (storage would otherwise grow without bound: every
    * rewrite strands its predecessors' files). Keeps every dir
    * referenced by the newest `retainCommits` commits — readers pinned
    * to those snapshots stay consistent; older snapshots become
    * unreadable, which is the Iceberg/Delta `expire_snapshots`/VACUUM
    * trade. vacuum itself never deletes commit JSONs — but
    * [[checkpointLog]] may later roll subsumed commits into a
    * checkpoint and delete their JSONs, retaining only the schemas of
    * data dirs still live at checkpoint time (full schema history does
    * NOT survive a checkpointed log). Dirs stamped newer than the latest
    * commit (a writer in flight from the head) are left alone; a dir
    * stamped at or below it that no retained commit references is
    * deleted — a refused writer's output, or that of a writer still in
    * flight from a snapshot the head has since moved past. Returns the
    * deleted dir names. */
  def vacuum(retainCommits: Int = 2): Seq[String] = {
    val log = commitLog()
    if (log.isEmpty) return Nil
    val latest = log.last.version
    val referenced: Set[String] = log.takeRight(math.max(1, retainCommits))
      .flatMap(c => (c.buckets.values ++ c.deltas.values.flatten)
        .map(LakeTable.dataDirOf)).toSet
    val dataDir = root.resolve("data")
    if (!Files.isDirectory(dataDir)) return Nil
    val s = Files.list(dataDir)
    val candidates = try s.iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.startsWith("c")).toList
    finally s.close()
    val deletable = candidates.filter { name =>
      !referenced.contains(name) &&
        LakeTable.stampOf(name).toLongOption.exists(_ <= latest)
    }
    deletable.foreach(name =>
      LakeTable.deleteRecursively(dataDir.resolve(name)))
    deletable.sorted
  }

  /** [[Log.committed]] on a fresh read of the log. */
  def hasBatch(batchId: Long, queryId: String = ""): Boolean = log().committed(batchId, queryId)
}

object LakeTable {
  /** Within-bucket salt width shared by the resolve's shuffle and the
    * merge paths (CdcApply.SaltBuckets aliases this): a bucket's rows
    * spread over this many reducers, so hot buckets don't serialize a
    * stage and per-bucket output file counts stay bounded. */
  val SaltBuckets = 8

  /** Commit-metrics key persisting the table's physical bucket count
    * (see [[LakeTable.effectiveNumBuckets]]). */
  val NumBucketsKey = "numBuckets"

  /** Project `df` onto `schema`: missing columns become typed nulls,
    * present columns are cast to the schema's type (reader-side type
    * promotion and the apply's alignment to the stored schema). */
  private[graft] def align(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toSeq.map { f =>
      if (df.columns.contains(f.name))
        castTo(col(f.name), df.schema(f.name).dataType, f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)

  /** `c` (of type `from`) as `to`: a cast, except that a struct whose
    * fields are a subset of `to`'s is rebuilt by name with the absent
    * subfields null — Spark casts a struct only positionally, to one of
    * as many fields. */
  private[graft] def castTo(c: Column, from: DataType, to: DataType): Column = (from, to) match {
    case (f: StructType, t: StructType) if f != t && f.fieldNames.forall(t.fieldNames.contains) =>
      when(c.isNotNull, struct(t.fields.toSeq.map(tf => f.find(_.name == tf.name)
        .fold(lit(null).cast(tf.dataType))(ff => castTo(c.getField(tf.name), ff.dataType, tf.dataType))
        .as(tf.name)): _*))
    case _ => c.cast(to)
  }

  /** Map each column `df` still carries under a retired name onto its
    * current one ([[Commit.renames]]: retired → current, flattened).
    * Stored dirs hold at most ONE of {retired, current} (the apply path
    * folds late old-key producers into the current column before
    * writing), so a plain rename suffices — no per-row coalesce. */
  private[graft] def withRenames(df: DataFrame, renames: Map[String, String]): DataFrame =
    renames.foldLeft(df) { case (d, (oldName, curName)) =>
      if (d.columns.contains(oldName) && !d.columns.contains(curName))
        d.withColumnRenamed(oldName, curName)
      else d
    }

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** A fresh data dir for one write derived from `base`:
    * "data/cVVV[d]-TOKEN", VVV the version its commit follows `base`
    * with (whose schema key it takes), `d` for a delta-only write, and
    * a random token, so no two writers — nor a writer's redo — ever
    * share a dir: a writer only ever writes, or deletes, its own files,
    * and a refused writer's dir is left for `vacuum`. */
  private[graft] def newDataDir(base: Option[Commit], delta: Boolean): String =
    f"data/c${base.fold(1L)(_.version + 1)}%012d" + (if (delta) "d-" else "-") +
      java.util.UUID.randomUUID().toString.replace("-", "").take(16)

  /** The commit-stamped dir a data path lives in: "data/cVVV[d][-TOKEN]/…"
    * → "cVVV[d][-TOKEN]" (vacuum's unit of deletion). */
  private def dataDirOf(rel: String): String = rel.split("/")(1)

  /** The version digits stamped on a data dir name: cVVV[d][-TOKEN] → VVV. */
  private def stampOf(dir: String): String = dir.drop(1).takeWhile(_.isDigit)

  /** The writer-schema key of a data path, base or delta alike: "cVVV",
    * the commit whose schema wrote it. */
  private def schemaKeyOf(rel: String): String = "c" + stampOf(dataDirOf(rel))

  /** The live rows of a raw read: delete tombstones filtered out, the
    * `_deleted` marker dropped. */
  private[graft] def dropTombstones(raw: DataFrame): DataFrame =
    if (raw.columns.contains("_deleted"))
      raw.where(!coalesce(col("_deleted"), lit(false))).drop("_deleted")
    else raw

  /** The layout hash: conv → bucket id in a given hash space. */
  def bucketColFor(conv: org.apache.spark.sql.Column,
      n: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(conv), lit(n.toLong)).cast("int")

  /** Depth-first recursive delete; silent no-op on a missing path —
    * the one shared implementation for every crash-retry/GC cleanup. */
  private[graft] def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(p)) return
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** The parquet part files under `path` (itself, if it IS a parquet
    * file) — the shared listing for every driver-side footer walk. */
  private[graft] def parquetParts(path: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    if (Files.isRegularFile(path)) return Seq(path)
    if (!Files.isDirectory(path)) return Nil
    val s = Files.list(path)
    try s.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally s.close()
  }

  /** Read-only Hadoop conf shared by every footer read (building one
    * parses the default resources). */
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  /** Open each part's footer and fold `f` over the readers — the one
    * shared open/close loop behind the row-count / column-bytes /
    * column-stats helpers. */
  private[graft] def withFooters[T](path: Path)(
      f: org.apache.parquet.hadoop.ParquetFileReader => T): Seq[T] =
    parquetParts(path).map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), footerConf)
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try f(rd) finally rd.close()
    }

  /** Footer row count of the part-*.parquet files DIRECTLY under
    * `dir` (no `_bucket=` partitioning) — the fallback truth source for
    * flat writes like [[graft.cdc.CdcOut]]'s pull dirs when the write
    * job's Observation metric was elided by a statically-empty plan.
    * Driver-side metadata only, no Spark job. */
  def flatFooterRowCount(dir: Path): Long =
    withFooters(dir)(_.getRecordCount).sum

  /** Max of a LONG column across `path`'s footer statistics — None when
    * the path has no parts or any chunk lacks usable stats (the caller
    * must then fall back to a real scan). Driver-side metadata only. */
  def footerLongMax(path: Path, column: String): Option[Long] = {
    import scala.jdk.CollectionConverters._
    val maxes = withFooters(path) { rd =>
      rd.getFooter.getBlocks.asScala
        .flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == column)
        .map { c =>
          val st = c.getStatistics
          if (st == null || !st.hasNonNullValue) None
          else st.genericGetMax match {
            case l: java.lang.Long => Some(l.longValue())
            case _ => None
          }
        }.toList
    }.flatten
    if (maxes.isEmpty || maxes.contains(None)) None
    else Some(maxes.flatten.max)
  }

  /** What one write put in one bucket: its rows, and the one write
    * task that wrote all of them (None when several tasks did). */
  private[graft] case class BucketWrite(rows: Long, task: Option[Int])

  /** The buffer of [[bucketWrites]]: per bucket, its rows at `b` and at
    * `n + b` its write task + 1 (0 before any row, -1 once two tasks
    * wrote it). Each row's task is the partition of the task that
    * observes it. */
  private final class BucketWrites(n: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Int, Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](2 * n)
    private def task(a: Long, b: Long): Long = if (a == 0 || a == b) b else if (b == 0) a else -1L
    def reduce(acc: Array[Long], bucket: Int): Array[Long] = {
      acc(bucket) += 1
      val ctx = org.apache.spark.TaskContext.get()
      acc(n + bucket) = task(acc(n + bucket), if (ctx == null) -1L else ctx.partitionId + 1L)
      acc
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < n) { a(i) += b(i); a(n + i) = task(a(n + i), b(n + i)); i += 1 }
      a
    }
    def finish(acc: Array[Long]): Array[Long] = acc
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] = longsEncoder
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] = longsEncoder
  }

  private def longsEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

  /** Each of `numBuckets` buckets' row count and write task as ONE
    * aggregate for a write's Observation (metric `bucketWrites`): they
    * ride the write job itself, so no footer is read back. Observed in
    * the write's own stage (no exchange between them, as in the apply),
    * the task is the write task's partition: the number in Spark's
    * `part-NNNNN-` file name. */
  private[graft] def bucketWrites(bucket: Column, numBuckets: Int): Column =
    udaf(new BucketWrites(numBuckets), org.apache.spark.sql.Encoders.scalaInt)(bucket)
      .as("bucketWrites")

  /** What a write into `outDir` observed through [[bucketWrites]], for
    * the buckets it wrote rows to. AQE may replace an all-empty plan
    * with an empty relation and drop the CollectMetrics node: a missing
    * metric is a no-op only when `outDir` holds no `_bucket=` dir and no
    * flat file with a row — never trust a silent one. */
  private[graft] def observedBucketWrites(metrics: Map[String, Any],
      outDir: Path): Map[Int, BucketWrite] =
    metrics.get("bucketWrites") match {
      case Some(acc: scala.collection.Seq[_]) =>
        val xs = acc.map(_.asInstanceOf[Long]).toIndexedSeq
        val n = xs.size / 2
        (0 until n).collect { case b if xs(b) > 0 =>
          b -> BucketWrite(xs(b), Option.when(xs(n + b) > 0)(xs(n + b).toInt - 1))
        }.toMap
      case _ =>
        val wrote = Files.isDirectory(outDir) && ({
          val s = Files.list(outDir)
          try s.iterator().asScala.exists(_.getFileName.toString.startsWith("_bucket="))
          finally s.close()
        } || flatFooterRowCount(outDir) > 0)
        if (wrote) throw new IllegalStateException(
          s"the write to $outDir left rows but its counts were not observed")
        Map.empty
    }

  /** A stack entry of a flat write (no `_bucket=` dir): its rows carry
    * their bucket as a column, and other buckets' rows beside them. */
  private[graft] def isFlat(rel: String): Boolean = !rel.contains("/_bucket=")

  /** The stack entry of each bucket a FLAT write into `rel` (under
    * `root`) put rows in: the one file its task wrote, or the whole dir
    * when several tasks (or files) hold the bucket's rows. One listing
    * of the dir, no footer read. */
  private[graft] def flatEntries(root: Path, rel: String,
      writes: Map[Int, BucketWrite]): Map[Int, String] = {
    val files = parquetParts(root.resolve(rel)).map(_.getFileName.toString)
    writes.map { case (b, w) =>
      b -> (w.task.map(t => files.filter(_.startsWith(f"part-$t%05d-"))) match {
        case Some(Seq(file)) => s"$rel/$file"
        case _ => rel
      })
    }
  }

  /** The parquet files under `dir`, at any depth. */
  private[graft] def parquetFilesUnder(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
      finally s.close()
    }
}
