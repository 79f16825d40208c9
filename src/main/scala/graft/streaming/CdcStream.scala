package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{graftshim, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

import graft.cdc.{BatchHint, CdcApply}
import graft.table.LakeTable

/** The streaming CDC tail: an NDJSON changelog directory (the
  * binlog/WAL analogue of the reference's periodic Moray dumps,
  * /root/reference/manta/dc_inputs.sh:28-37) tailed with the file
  * source and applied to the lake table once per micro-batch via
  * foreachBatch → [[CdcApply.applyBatch]].
  *
  * Exactly-once across crashes comes from BOTH sides:
  *  - Spark's checkpoint replays an unacknowledged micro-batch after
  *    restart (at-least-once delivery);
  *  - the table's commit log records (queryId, batchId, txid
  *    watermark), so a replayed batch is detected and skipped BEFORE
  *    any per-batch work runs (idempotent sink) — the pair is
  *    exactly-once. The queryId is Spark's own checkpointed stream id
  *    (`<checkpointDir>/metadata`), which Spark regenerates when a
  *    checkpoint is wiped — so a "reprocess" that deletes the
  *    checkpoint dir but reuses its PATH gets a fresh identity and its
  *    restarted batch 0 is not mistaken for the old run's (Delta's
  *    txnAppId/txnVersion shape);
  *  - a batch publishes against the snapshot it read: a conflicting
  *    commit landing mid-batch stops the query, and the next start
  *    replays the batch against the new snapshot.
  *
  * Novel-field absorption / schema evolution WITHOUT per-batch
  * inference: the stream caches the inferred event schema and parses
  * each micro-batch exactly once with `from_json`. The cache is kept in
  * the checkpoint (`<checkpointDir>/graft-event-schema.json`, replaced
  * atomically whenever it is set or widened), so a restart runs no
  * inference job and its schema does not depend on where it restarted;
  * a wiped checkpoint drops it together with the stream's identity.
  * Drift is detected in the same single pass — novel top-level keys via
  * `json_object_keys` vs the cached schema, type drift via the
  * corrupt-record column (a value that no longer fits its cached type
  * marks the row corrupt) — and only a drifted batch pays schema
  * re-inference + a re-parse, after which the cache is widened along
  * the promotion lattice (reference analogue: novel-key sweep into
  * `_s`, lib/moraydump_reorg.js:501-529) — unless the field is in
  * `ignoreFields` (manifest `source.ignore`,
  * lib/wf_keys_tojson.js:113-134). A corrupt line that is no JSON
  * object at all (a truncated line) cannot widen any schema, so it
  * triggers no re-inference. Genuinely malformed lines (corrupt even
  * under the re-inferred schema) are excluded from the apply and
  * DEAD-LETTERED: the raw line plus (datacenter, file) lineage is
  * written under the table's `_quarantine/<queryId>/batch-N/` (scoped
  * like commit idempotence, so a later stream on the same table never
  * overwrites an earlier stream's evidence) and, when the batch
  * commits, the commit records a `corruptRows` metric. A batch whose
  * rows are ALL corrupt — or, before the schema is cached, one whose
  * lines yield no `_txid`-bearing schema at all (quarantined whole) —
  * applies nothing and so publishes no commit — its quarantine
  * directory is the record for that case — observable, re-drivable
  * loss, never silent.
  *
  * Lineage (reference P6, lib/moraydump_reorg.js:179-192,589-592):
  * every line carries its source file via the file source's
  * `_metadata.file_path`; per-(datacenter, file) event counts ride into
  * the commit metrics and IngestMetrics. The datacenter is the
  * changelog subdirectory name (layout `<changelogDir>/<dc>/segment-*`);
  * flat layouts get dc = "default".
  *
  * Maintenance: the tail auto-compacts when accumulated delete
  * tombstones cross `autoCompactMinDeletes` AND ≥20% of the table's
  * physical rows — compaction drops tombstones older than
  * `txidWatermark - tombstoneLag` (the lateness bound: a tombstone may
  * only be dropped once no stale event older than it can still arrive)
  * and merges each bucket's accumulated small files.
  */
object CdcStream {

  /** Spark's JSON writer defaults to millisecond timestamps; changelog
    * segments must round-trip microseconds or replayed rows differ from
    * the source by sub-ms truncation. */
  val TimestampFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  private val CorruptCol = "__graft_corrupt"

  /** Novel-key detection expression for one raw JSON line against the
    * cached schema: top-level keys not in the schema (or the ignore
    * list), plus — RECURSIVELY for every struct-typed field — subfield
    * keys not in that struct's cached children, reported as dotted
    * paths. A nested novel subfield is neither a novel top-level key
    * nor a parse error under the cached schema (from_json silently
    * drops it), so without the recursive arm drift inside struct
    * payloads would go unnoticed until unrelated drift forced
    * re-inference. Flat schemas (the transcript contract) contribute
    * zero extra work — the nested arms exist only when the cached
    * schema has struct fields. Known limit: structs nested inside
    * ARRAY-typed fields are not walked (would need `$.f[*]` explosion
    * per row); drift there still surfaces through the corrupt-record
    * arm when a value stops fitting its cached element type. */
  private def novelKeysExpr(
      value: org.apache.spark.sql.Column,
      schema: StructType,
      ignore: Set[String]): org.apache.spark.sql.Column = {
    val empty = lit(Array.empty[String])
    def detect(path: Seq[String], st: StructType): Seq[org.apache.spark.sql.Column] = {
      val known: Array[String] =
        (st.fieldNames.toSet ++
          (if (path.isEmpty) ignore + "_corrupt_record" else Set.empty)).toArray
      val keys =
        if (path.isEmpty) json_object_keys(value)
        else json_object_keys(get_json_object(value, "$." + path.mkString(".")))
      val novel0 = array_except(keys, lit(known))
      val novel =
        if (path.isEmpty) novel0
        else transform(novel0, k => concat(lit(path.mkString(".") + "."), k))
      val nested = st.fields.toSeq.collect {
        case StructField(n, s: StructType, _, _) => detect(path :+ n, s)
      }.flatten
      coalesce(novel, empty) +: nested
    }
    detect(Nil, schema).reduce((a, b) => concat(a, b))
  }

  /** Write one NDJSON changelog segment with lossless timestamps
    * (both zoned and NTZ variants — parquet-sourced ts columns are
    * often TIMESTAMP_NTZ). `parts > 1` repartitions (round-robin) so
    * exactly `parts` files exist regardless of the input's partition
    * count — coalesce alone can only REDUCE, so a 1-partition frame
    * asked for 4 parts used to silently produce ONE file and a
    * downstream tail read it as one micro-batch regardless of
    * maxFilesPerTrigger. Rows are NOT ts-ordered across parts: a
    * caller that needs ts-ranged segments (watermark-monotone arrival,
    * q49) must write one segment dir per ts range, as q49 does. */
  def writeSegment(df: DataFrame, path: String, parts: Int = 1): Unit = {
    val arranged = if (parts <= 1) df.coalesce(1) else df.repartition(parts)
    arranged.write.mode("overwrite")
      .option("timestampFormat", TimestampFormat)
      .option("timestampNTZFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
      .json(path)
  }

  /** Cast inferred envelope/known columns to their contract types;
    * leave any novel payload columns as inferred. */
  def normalize(df: DataFrame): DataFrame = {
    val casts = Map(
      "_txid" -> "bigint", "_op" -> "string", "_etag" -> "string",
      "conv_id" -> "string", "turn_idx" -> "int",
      "role" -> "string", "text" -> "string", "tool" -> "string",
      "ts" -> "timestamp")
    df.select(df.columns.map { c =>
      casts.get(c).map(t => col(c).cast(t).as(c)).getOrElse(col(c))
    }.toIndexedSeq: _*)
  }

  /** Stable stream identity for sink-side idempotence: Spark's own
    * checkpointed query id (the `id` field of `<checkpointDir>/
    * metadata`, regenerated whenever the checkpoint is recreated), so a
    * wiped-and-recreated checkpoint at the SAME path — whose batch ids
    * restart at 0 — cannot collide with the old run's commits. A
    * checkpoint without readable metadata (the stream never started
    * there, or the file is damaged) has no identity: that throws,
    * naming the file. */
  def queryIdFor(checkpointDir: String): String = {
    val meta = Paths.get(checkpointDir.stripPrefix("file:"), "metadata")
    def unreadable(cause: Throwable) =
      new IllegalStateException(s"no readable stream id in $meta", cause)
    val json =
      try org.json4s.jackson.JsonMethods.parse(Files.readString(meta))
      catch { case scala.util.control.NonFatal(e) => throw unreadable(e) }
    json \ "id" match {
      case org.json4s.JString(id) if id.nonEmpty => "qid-" + id
      case _ => throw unreadable(null)
    }
  }

  /** Where the stream's event schema is kept: inside its checkpoint, so
    * the schema lives and dies with the stream's identity. */
  private[graft] def schemaPath(checkpointDir: String): Path =
    Paths.get(checkpointDir.stripPrefix("file:"), "graft-event-schema.json")

  private def readSchema(checkpointDir: String): Option[StructType] = {
    val p = schemaPath(checkpointDir)
    Option.when(Files.isRegularFile(p))(
      DataType.fromJson(Files.readString(p)).asInstanceOf[StructType])
  }

  /** Replace the kept schema atomically: a reader sees the old or the
    * new one, never a torn file. */
  private def writeSchema(checkpointDir: String, schema: StructType): Unit = {
    val p = schemaPath(checkpointDir)
    Files.createDirectories(p.getParent)
    val tmp = Files.createTempFile(p.getParent, ".tmp-schema-", ".json")
    Files.writeString(tmp, schema.json)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
  }

  def start(
      spark: SparkSession,
      changelogDir: String,
      table: LakeTable,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 16,
      ignoreFields: Set[String] = Set.empty,
      autoCompactMinDeletes: Long = 5000L,
      tombstoneLag: Long = 1000000L,
      logCheckpointEvery: Int = 512,
      onBatch: (Long, graft.cdc.ApplyStats) => Unit = (_, _) => ()): StreamingQuery = {
    // datacenter = the first directory level under the changelog root
    // (layout <root>/<dc>/.../segment-files); anything shallower reads
    // as "default". Globs in changelogDir are cut before taking the
    // root's basename. Constant per stream — computed once.
    val rootBase = {
      val cut = changelogDir.indexWhere(c => "*?[".contains(c))
      val prefix = if (cut >= 0) {
        val p = changelogDir.substring(0, cut)
        p.substring(0, math.max(p.lastIndexOf('/'), 0))
      } else changelogDir.stripSuffix("/")
      prefix.substring(prefix.lastIndexOf('/') + 1)
    }
    // dc = first path component after the LAST occurrence of
    // "/<rootBase>/" — computed with substring_index, NOT a regex: the
    // previous ".*/<root>/([^/]+)/.*" pattern backtracked its leading
    // .* across every row's path (measured ~30µs/row, 3s of a 100k-row
    // micro-batch's 4s summary job, burned again on EVERY batch of the
    // stream's lifetime); the substring form is linear and equivalent
    // (greedy .* ≡ last occurrence; the trailing /.* ≡ "tail has more
    // path"; [^/]+ ≡ non-empty component).
    val dcMarker = "/" + rootBase + "/"
    // the lineage columns of a line, from its `_path`: source file and
    // datacenter. The dc is the component after the last occurrence of
    // "/<root>/" that still has a file below it; the -2 fallback
    // reproduces the old greedy regex's backtrack when a dc's subtree
    // reuses the root dir's name (root "log", file
    // ".../log/dc1/log/part-0.json": the last marker's tail is just the
    // filename, so the second-to-last yields dc1 — deeper repeats of
    // that pathological shape fall to "default")
    val originFile = substring_index(col("_path"), "/", -1).as("_origin_file")
    val originDc = {
      def dcFrom(tail: org.apache.spark.sql.Column) = {
        val dc = substring_index(tail, "/", 1)
        when(tail =!= col("_path") && length(dc) > 0 && instr(tail, "/") > 0, dc)
      }
      coalesce(
        dcFrom(substring_index(col("_path"), dcMarker, -1)),
        dcFrom(substring_index(col("_path"), dcMarker, -2)),
        lit("default")).as("_origin_dc")
    }

    // per-stream mutable state: the cached event schema (read back from
    // the checkpoint, re-inferred only on detected drift)
    @volatile var schemaCache: StructType = readSchema(checkpointDir).orNull
    // read at the first batch: Spark writes the metadata at query start
    lazy val queryId = queryIdFor(checkpointDir)
    def cacheSchema(s: StructType): Unit = {
      schemaCache = s
      writeSchema(checkpointDir, s)
    }

    val lines: DataFrame = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("recursiveFileLookup", "true")
      .text(changelogDir)
      .select(col("value").cast("string").as("value"),
        col("_metadata.file_path").as("_path"))

    lines.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (micro: DataFrame, batchId: Long) =>
        // the micro-batch re-bound to the caller's session: Spark runs
        // each query on a clone of it, and the executor keys its task
        // classloader (and so the codegen cache) by session, so every
        // restart would otherwise compile the same classes again
        val batch = graftshim.ofRows(spark, micro)
        // ONE read of the commit log: the crash-replay pre-check (a
        // replayed batch must not pay ANY Spark job — the summary agg
        // alone is a full batch pass), and the snapshot the batch's facts
        // and its apply derive from
        val log = table.log()
        if (!log.committed(batchId, queryId)) {
          def inferSchema(): StructType = {
            val s = spark.read.json(batch.select("value")
              .as[String](org.apache.spark.sql.Encoders.STRING)).schema
            StructType(s.fields.filterNot(_.name == "_corrupt_record"))
          }
          // dead-letter quarantine: raw line plus lineage under the
          // table's _quarantine/ (idempotent per-batch dir, so a
          // crash-replayed batch overwrites rather than duplicates).
          // Scoped by queryId like commit idempotence: batch ids restart
          // at 0 per checkpoint, so a later stream on the same table
          // must not overwrite an earlier stream's preserved evidence
          def quarantine(rows: DataFrame): Unit =
            rows.write.mode("overwrite")
              .json(s"${table.location}/_quarantine/$queryId/batch-$batchId")
          if (schemaCache == null) {
            val inf = inferSchema() // once per stream, not per batch
            if (inf.fieldNames.contains("_txid")) cacheSchema(inf)
          }
          if (schemaCache == null) {
            // no change-event schema (no `_txid`) can be inferred from
            // this batch: nothing in it can apply, but its lines are
            // evidence — quarantined whole for a later redrive, never
            // silently passed over by the advancing checkpoint
            if (!batch.isEmpty)
              quarantine(batch.select(col("value").as("raw"), originDc, originFile))
          } else {
            val t0 = System.nanoTime()
            // a line whose _txid parses but is no number (a string
            // "x") is corrupt too: the apply casts _txid to bigint, and
            // an ANSI cast of it would fail the whole batch. So is a line
            // without a merge key: no well-formed event could ever
            // address the row it would upsert (redrive refuses it too)
            def parseWith(schema: StructType): DataFrame = {
              val parseSchema = StructType(
                schema.fields :+ StructField(CorruptCol, StringType))
              val keyless = graft.model.Model.MergeKeys.map(k =>
                if (schema.fieldNames.contains(k)) col(k).isNull else lit(true)).reduce(_ || _)
              batch.select(
                  from_json(col("value"), parseSchema,
                    Map("columnNameOfCorruptRecord" -> CorruptCol)).as("e"),
                  novelKeysExpr(col("value"), schema, ignoreFields).as("__novel"),
                  col("_path"), col("value").as("__raw"))
                .select(col("e.*"), col("__novel"), originFile, originDc, col("__raw"))
                .withColumn(CorruptCol, coalesce(col(CorruptCol),
                  when(keyless || (col("_txid").isNotNull && col("_txid").try_cast("bigint").isNull),
                    col("__raw"))))
                .drop("__raw")
            }
            var enriched = parseWith(schemaCache)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val base = log.head
            try {
              // ONE pass over the batch: per-DC lineage counters, distinct
              // origin files, newest event time (ingest-lag input), novel
              // keys and corrupt rows (drift detection), PLUS the apply's
              // BatchHint facts over non-corrupt rows — a single job that
              // also materializes the cache every later job reads, so
              // applyBatch skips its own pre-scan entirely, and an
              // in-order batch (floor above the table's watermark) skips
              // the version gate. hasTs reads schemaCache at CALL time: a
              // drift re-inference that introduces `ts` mid-batch must be
              // visible to the second summarize or the batch records no
              // ingest-lag reading.
              def summarize(df: DataFrame) = {
                val hasTs = schemaCache.fieldNames.contains("ts")
                val aggs = Seq(
                  count(lit(1)).as("n"),
                  size(collect_set(col("_origin_file"))).cast("long").as("nf"),
                  (if (hasTs) max(col("ts").cast("timestamp")).cast("long")
                   else lit(null).cast("long")).as("maxTs"),
                  sum(col(CorruptCol).isNotNull.cast("long")).as("nCorrupt"),
                  array_distinct(flatten(collect_set(col("__novel")))).as("novel"),
                  // corrupt lines that are still JSON objects: only those
                  // can carry a type or key a re-inference would widen
                  sum((col(CorruptCol).isNotNull &&
                    json_object_keys(col(CorruptCol)).isNotNull).cast("long")).as("nDrift")) ++
                  BatchHint.facts(table, base, col(CorruptCol).isNull)
                df.groupBy("_origin_dc").agg(aggs.head, aggs.tail: _*).collect()
              }
              var summary = summarize(enriched)
              val novelKeys = summary.flatMap(r =>
                Option(r.getSeq[String](5)).getOrElse(Nil)).distinct
              val nDrift = summary.map(_.getAs[Long]("nDrift")).sum
              if (novelKeys.nonEmpty || nDrift > 0) {
                // drift: widen the cached schema along the promotion
                // lattice and re-parse this batch once. If re-inference
                // changes nothing (genuinely malformed lines), the
                // corrupt rows are dropped below rather than re-chased.
                // A line that is no JSON object (truncated) is corrupt
                // under any schema: it is quarantined with no inference.
                val evolved = CdcApply.evolveSchema(
                  schemaCache, inferSchema(), ignoreFields)
                if (evolved != schemaCache) {
                  cacheSchema(evolved)
                  enriched.unpersist()
                  enriched = parseWith(evolved)
                    .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
                  summary = summarize(enriched)
                }
              }
              // a line still malformed after drift re-inference is
              // DROPPED from the apply, but never silently — it is
              // quarantined and the commit records the count. Reference
              // contrast: the dump pipeline hand-patched corrupt dump
              // lines with site-specific kludges (README F10); here the
              // engine preserves the evidence for inspection or re-drive.
              val nCorruptFinal = summary.map(_.getLong(4)).sum
              if (nCorruptFinal > 0)
                quarantine(enriched.where(col(CorruptCol).isNotNull)
                  .select(col(CorruptCol).as("raw"),
                    col("_origin_dc"), col("_origin_file")))
              val lineage: Map[String, Long] = summary
                .map(r => s"dc:${r.getString(0)}" -> r.getLong(1)).toMap
              val nFiles = summary.map(_.getLong(2)).sum
              val maxTs = summary.flatMap(r =>
                if (r.isNullAt(3)) None else Some(r.getLong(3)))
              val events = normalize(enriched
                .where(col(CorruptCol).isNull)
                .drop(CorruptCol, "__novel"))
              val stats = CdcApply.applyBatch(spark, table, events,
                batchId = batchId, queryId = queryId, ignoreFields = ignoreFields,
                extraMetrics = lineage + ("originFiles" -> nFiles) ++
                  (if (nCorruptFinal > 0)
                    Map("corruptRows" -> nCorruptFinal) else Map.empty),
                prunedHint = Some(BatchHint.combine(summary.toSeq, base)))
              val ms = (System.nanoTime() - t0) / 1000000
              // ingest lag: wall-clock minus newest event time in the batch
              // (north-star metric; negative/absent ts → no lag reading)
              if (stats.applied > 0 && maxTs.nonEmpty) {
                val lagMs = System.currentTimeMillis() - maxTs.max * 1000L
                IngestMetrics.record(table.location, batchId, lagMs, ms, stats)
              }
              // auto-compaction: once tombstones are both numerous and a
              // meaningful share of the table, fold every bucket and drop
              // tombstones older than the lateness bound. O(table) —
              // triggered only when ≥20% of it is reclaimable.
              if (stats.applied > 0) {
                // ONE more read of the log serves both maintenance checks.
                // The head carries the running counter, which survives
                // commit-log checkpoint truncation (a history walk would
                // see at most the retained window's deletes and could
                // starve compaction forever on a long stream)
                val after = table.log()
                val head = after.head.get
                val delSince = head.metrics.getOrElse("deletesSinceCompaction", 0L)
                val totalRows = head.rowCounts.values.sum
                if (delSince >= autoCompactMinDeletes && delSince * 5 >= totalRows) {
                  table.compact(spark,
                    tombstoneHorizon = stats.txidWatermark - tombstoneLag)
                  // the compaction stranded every pre-compaction dir;
                  // reclaim all but the last two snapshots' storage
                  table.vacuum(retainCommits = 2)
                }
                // a 10^10-event tail writes ~10^5 commits: roll the log
                // up periodically so its listing stays O(window), not
                // O(stream lifetime) (a compaction's commit counts at the
                // next trigger)
                if (logCheckpointEvery > 0 && after.names.size > logCheckpointEvery)
                  table.checkpointLog()
              }
              onBatch(ms, stats)
            } finally enriched.unpersist()
          }
        }
        ()
      }
      .start()
  }

  /** Outcome of a quarantine [[redrive]]: `applied` survivors merged
    * into the table (0 when none parsed, or when this redrive was a
    * crash replay), `remaining` lines still unusable (preserved under
    * `batch-N-remaining`), and the apply's stats when one ran. */
  case class RedriveStats(
      applied: Long, remaining: Long, stats: Option[graft.cdc.ApplyStats])

  /** Re-ingest a quarantined batch with TODAY'S knowledge — the path
    * back in that the reference's hand-patch workflow had
    * (lib/json_tsv.js:382-418 hand-fixed corrupt dump lines and re-ran;
    * README F10 replaces the kludges with quarantine, and this closes
    * the loop):
    *
    *  1. the preserved raw lines are re-parsed under a FRESH inference
    *     (lines that were corrupt only because the stream's cached
    *     schema was narrower — since-evolved types, later-declared
    *     fields — now parse; truly malformed JSON stays corrupt);
    *  2. survivors that satisfy the event contract (_txid + every
    *     merge key present) apply as a normal idempotent batch under the derived
    *     identity (`<queryId>-redrive`, same batchId), so a crashed or
    *     repeated redrive never double-applies, and per-key
    *     last-writer-wins means a survivor whose key was updated by a
    *     LATER live batch loses the merge exactly as a late event
    *     should;
    *  3. still-unusable lines move to `batch-N-remaining` (a NEW dir —
    *     evidence is never edited in place) and the original batch dir
    *     is deleted only after both steps, so a crash at any point
    *     re-runs to the same state.
    */
  def redrive(
      spark: SparkSession,
      table: LakeTable,
      queryId: String,
      batchId: Long,
      ignoreFields: Set[String] = Set.empty): RedriveStats = {
    import java.nio.file.{Files, Paths}
    val qroot = s"${table.location}/_quarantine/$queryId"
    val qdir = Paths.get(s"$qroot/batch-$batchId")
    require(Files.isDirectory(qdir), s"no quarantined batch at $qdir")
    val preserved = spark.read.json(qdir.toString)
    require(preserved.columns.contains("raw"),
      s"$qdir is not a quarantine dir (no raw column)")
    // lineage under RESERVED names (__q_*) from here on: a quarantined
    // payload whose JSON itself contains a field named raw /
    // _origin_dc / _origin_file would otherwise collide with the
    // `e.*` expansion below and make the batch un-redrivable
    // (ambiguous-reference AnalysisException). Evidence files keep the
    // original column names on disk, unchanged.
    val rawLines = preserved
      .select(col("raw").as("__q_raw"), col("_origin_dc").as("__q_dc"),
        col("_origin_file").as("__q_file"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // evidence-format projection: back to the on-disk column names
    def evidence(df: org.apache.spark.sql.DataFrame) = df.select(
      col("__q_raw").as("raw"), col("__q_dc").as("_origin_dc"),
      col("__q_file").as("_origin_file"))
    // restore a lineage column's public name for the apply — unless the
    // payload itself carries that name (the collision this rename
    // exists for), in which case the payload's own column wins and our
    // copy is dropped
    def restore(df: org.apache.spark.sql.DataFrame,
        from: String, to: String) =
      if (df.columns.contains(to)) df.drop(from)
      else df.withColumnRenamed(from, to)
    try {
      val inferred = StructType(spark.read.json(rawLines.select("__q_raw")
          .as[String](org.apache.spark.sql.Encoders.STRING)).schema
        .fields.filterNot(_.name == "_corrupt_record"))
      // the contract needs EVERY merge key plus the version: a line
      // without turn_idx used to slip past the _txid+conv_id check and
      // crash the apply instead of staying preserved
      val contract = (graft.model.Model.MergeKeys :+ "_txid")
        .forall(inferred.fieldNames.contains)
      val (nApplied, nRemaining, stats) =
        if (!contract) {
          // nothing here satisfies the event contract even under fresh
          // inference: everything stays preserved (moved, not deleted)
          evidence(rawLines).write.mode("overwrite")
            .json(s"$qroot/batch-$batchId-remaining")
          (0L, rawLines.count(), None)
        } else {
          val parseSchema = StructType(
            inferred.fields :+ StructField(CorruptCol, StringType))
          val parsed = rawLines.select(
              from_json(col("__q_raw"), parseSchema,
                Map("columnNameOfCorruptRecord" -> CorruptCol)).as("e"),
              col("__q_raw"), col("__q_dc"), col("__q_file"))
            .select(col("e.*"), col("__q_raw"),
              col("__q_dc"), col("__q_file"))
          // row-level contract mirrors the schema-level one: a _txid
          // that casts to bigint (a string "x" stays preserved) and
          // EVERY merge key non-null (a row missing turn_idx must stay
          // preserved, not be upserted under a null key no well-formed
          // event could ever address)
          val usable = graft.model.Model.MergeKeys
            .foldLeft(col(CorruptCol).isNull && col("_txid").try_cast("bigint").isNotNull) {
              (acc, k) => acc && col(k).isNotNull
            }
          // optional envelope columns the apply references
          // unconditionally (_op for the delete test, _etag for the
          // winner tiebreak): synthesize nulls when the preserved
          // lines never carried them — null _op is an update, null
          // _etag sorts lowest, both the documented late-event defaults
          val withEnvelope = Seq("_op" -> "string", "_etag" -> "string")
            .foldLeft(parsed.where(usable).drop(CorruptCol, "__q_raw")) {
              case (df, (c, t)) =>
                if (df.columns.contains(c)) df
                else df.withColumn(c, lit(null).cast(t))
            }
          val events = normalize(
            restore(restore(withEnvelope,
              "__q_dc", "_origin_dc"), "__q_file", "_origin_file"))
          val s = CdcApply.applyBatch(spark, table, events,
            batchId = batchId, queryId = s"$queryId-redrive",
            ignoreFields = ignoreFields,
            extraMetrics = Map("redriveOf" -> batchId))
          val remaining = evidence(parsed.where(!usable))
          val nRem = remaining.count()
          if (nRem > 0)
            remaining.write.mode("overwrite")
              .json(s"$qroot/batch-$batchId-remaining")
          // a crash-replayed redrive (apply already committed under the
          // derived identity) reports applied = 0, as documented — the
          // survivors are in the table from the FIRST attempt, and a
          // caller summing `applied` must not double-count them
          ((if (s.skippedReplay) 0L else events.count()), nRem, Some(s))
        }
      // evidence fully accounted for (survivors in the table, the rest
      // under -remaining): release the original batch dir LAST
      LakeTable.deleteRecursively(qdir)
      RedriveStats(nApplied, nRemaining, stats)
    } finally rawLines.unpersist()
  }

  /** Tail the changelog until everything currently present is applied
    * (AvailableNow trigger), then return. Resume = call again with the
    * same checkpointDir after more files arrive. */
  def runOnce(
      spark: SparkSession,
      changelogDir: String,
      table: LakeTable,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 16,
      ignoreFields: Set[String] = Set.empty): Unit = {
    val q = start(spark, changelogDir, table, checkpointDir, maxFilesPerTrigger,
      ignoreFields)
    q.awaitTermination()
  }
}
