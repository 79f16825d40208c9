package graft.cdc

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Model
import graft.table.LakeTable
import graft.table.LakeTable.align

/** Result of applying one change-event batch. */
case class ApplyStats(
    version: Long,
    applied: Long,
    upserts: Long,
    deletes: Long,
    skippedReplay: Boolean,
    txidWatermark: Long,
    bucketsTouched: Int)

/** The MERGE-apply stage: one micro-batch of change events → one new
  * snapshot of the target [[LakeTable]].
  *
  * Pipeline (SURVEY.md §3.4; each step anchored to a reference op):
  *   1. within-batch collapse — latest txid wins per (conv_id,
  *      turn_idx) via a max_by (reference: `sort -r | uniq`
  *      idempotent dedupe, /root/reference/manta/dc_inputs_2b.sh:33-35);
  *   2. bucket pruning — only the hash-buckets the incoming keys map to
  *      are read and rewritten (reference analogue: per-split map
  *      tasks, /root/reference/manta/dc_inputs.sh:57-66);
  *   3. per-key version gate — an event takes effect only if its _txid
  *      exceeds the stored row's _txid. Deletes become TOMBSTONES
  *      (_deleted=true rows), so a stale update arriving after a newer
  *      delete cannot resurrect the key. This makes the final state a
  *      pure function of the event set — independent of arrival order,
  *      duplication, or batch boundaries (exactly-once = idempotent
  *      keyed upsert; reference analogue: `_etag` change detection,
  *      /root/reference/lib/backup_state.js:135-143);
  *   4. merge — every rewrite (bulk apply, fold, consolidation) runs
  *      stored rows ∪ events through ONE shared latest-per-key resolve
  *      ([[LakeTable.resolveLatest]]), the same rule the merge-on-read
  *      reader applies; a stored row wins a _txid tie;
  *   5. that resolve's one exchange is salted within each bucket, so
  *      one hot conversation cannot serialize a whole bucket into one
  *      task (north-rule skew mandate — the reference has no skew
  *      handling, SURVEY.md §4.1), and its output reaches the
  *      bucket-partitioned writer with no further exchange;
  *   6. atomic commit with txid high-watermark + per-bucket lineage
  *      counts. An entirely-ineffective batch (pure replay) commits
  *      nothing.
  *
  * Scale notes: the only full pass over the *batch* is one shuffle —
  * by bucket on the steady path, by (bucket, salt) on the bulk path.
  * The target table is touched only on affected buckets; the steady
  * path's version gate is a broadcast join keyed on the merge key.
  * Nothing scans unaffected data. Tombstones accumulate only for
  * deleted keys; compact() can drop them once no older txids can
  * arrive (watermark-bounded).
  */
object CdcApply {

  val SaltBuckets: Int = graft.table.LakeTable.SaltBuckets

  /** Map a Spark type onto the reference's promotion lattice name
    * (SURVEY.md §1.3). Unlisted types promote via varchar (absorbs). */
  private def latticeName(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case ByteType | ShortType | IntegerType | LongType => "integer"
    case FloatType | DoubleType | _: DecimalType => "real"
    case TimestampType | TimestampNTZType | DateType => "timestamptz"
    case StringType => "varchar"
    case _ => "other"
  }

  private val integralWidth: Seq[DataType] =
    Seq(ByteType, ShortType, IntegerType, LongType)

  private def latticeType(name: String, a: DataType, b: DataType): DataType =
    name match {
      case "integer" =>
        // widest integral of the two by byte width (Byte<Short<Int<Long);
        // keeping the previous (possibly narrower) type would make
        // align() cast incoming values down with silent wraparound
        val integrals = Seq(a, b).filter(integralWidth.contains)
        if (integrals.isEmpty) IntegerType
        else integrals.maxBy(integralWidth.indexOf)
      case "real" => DoubleType
      case "timestamptz" => TimestampType
      case "varchar" => StringType
      case _ => StringType
    }

  /** Evolve `prev` with `incoming` payload columns: novel fields are
    * absorbed (reference: lib/moraydump_reorg.js:501-529) unless listed
    * in `ignore` (manifest `source.ignore`/`custom_ignore`,
    * lib/wf_keys_tojson.js:113-134 — one junk producer must not pollute
    * the table schema forever), and type conflicts on existing fields
    * PROMOTE along the reference's typeThatWins lattice
    * (lib/json2pgtypes.js:613-643) — int+real → real, int+timestamp →
    * timestamp, anything+varchar → varchar — instead of failing or
    * silently truncating. */
  def evolveSchema(
      prev: StructType, incoming: StructType,
      ignore: Set[String] = Set.empty): StructType = {
    val incomingByName = incoming.fields.map(f => f.name -> f).toMap
    val widened = prev.fields.map { f =>
      incomingByName.get(f.name) match {
        case Some(in) if in.dataType != f.dataType
            && !Model.MergeKeys.contains(f.name) =>
          val winner = graft.types.TypeInference.typeThatWins(
            latticeName(f.dataType), latticeName(in.dataType))
          f.copy(dataType = latticeType(winner, f.dataType, in.dataType))
        case _ => f
      }
    }
    val known = prev.fieldNames.toSet
    val novel = incoming.fields.filterNot(f =>
      known.contains(f.name) || ignore.contains(f.name))
    StructType(widened ++ novel.map(_.copy(nullable = true)))
  }

  /** Columns stored in the table: merge keys + payload + CDC metadata
    * (`_deleted` marks tombstones; readers filter them). */
  private def storedSchema(payload: StructType): StructType =
    StructType(payload.fields ++ Seq(
      StructField("_txid", LongType), StructField("_etag", StringType),
      StructField("_deleted", BooleanType)))

  /** Per-batch event-count ceiling for the broadcast merge path: below
    * it, the batch's keys are broadcast and the target side is never
    * shuffled (see `applyBatch` step 3a). 500k keys ≈ 20-40 MB
    * broadcast — far under Spark's 8 GB broadcast limit, large enough
    * that every steady-state CDC micro-batch qualifies. */
  val BroadcastMergeMaxEvents = 500000L

  /** Delta dirs a bucket may stack up before the next apply merges THAT
    * BUCKET's stack (MERGE-ON-READ depth bound, tracked per bucket).
    * Read amplification and resolve-window width stay O(MaxDeltaDepth).
    * A bucket at the cap is CONSOLIDATED — its stack re-resolved into
    * one delta dir, base untouched — until the stack holds
    * [[FoldToBaseRatio]] of its base's rows; only then is the base
    * rewritten (fold). A cold bucket is never touched at all, so
    * maintenance cost is proportional to churn, not table size (the
    * property that survives 100 TB). */
  val MaxDeltaDepth = 8

  /** Fold a bucket's deltas into its base only once the stack's
    * physical rows reach this fraction of the base's. Below it, a
    * depth-capped stack is consolidated instead (stack → one dir, base
    * untouched) — the two-level LSM trade: under UNIFORM churn every
    * bucket hits the depth cap together, and folding at the cap would
    * rewrite the whole table every MaxDeltaDepth batches (O(table/depth)
    * amortized per batch). With consolidation the base is rewritten only
    * after ratio×base rows of churn, cutting steady-state write
    * amplification ~4× while read amplification stays ≤ depth+1. */
  val FoldToBaseRatio = 0.5

  /** Below this batch size the steady-state delta write stays a single
    * coalesced task (a shuffle's stage overhead would dominate);
    * at/above it the write is hash-partitioned by bucket so each
    * bucket's file is written in parallel — the lone writer task
    * measured ~40% of a 100k-event batch's wall time. */
  val ParallelDeltaWriteMinEvents = 20000L

  def applyBatch(
      spark: SparkSession,
      table: LakeTable,
      eventsIn: DataFrame,
      batchId: Long = -1L,
      saltBuckets: Int = SaltBuckets,
      pruneBuckets: Boolean = true,
      queryId: String = "",
      ignoreFields: Set[String] = Set.empty,
      extraMetrics: Map[String, Long] = Map.empty,
      broadcastThreshold: Long = BroadcastMergeMaxEvents,
      maxDeltaDepth: Int = MaxDeltaDepth,
      foldRatio: Double = FoldToBaseRatio,
      prunedHint: Option[(Seq[Int], Long)] = None): ApplyStats = {
    val prev = table.currentCommit()
    val prevWm = prev.map(_.txidWatermark).getOrElse(0L)
    if (batchId >= 0 && table.hasBatch(batchId, queryId))
      return ApplyStats(prev.map(_.version).getOrElse(0L), 0, 0, 0,
        skippedReplay = true, prevWm, 0)

    // Declared column renames (LakeTable.renameColumn): fold events from
    // late producers still emitting a retired key into its CURRENT
    // column — otherwise the retired name would re-enter the table
    // schema through the novel-key absorber below and the table would
    // carry both names forever. A batch carrying BOTH names (producer
    // fleet mid-migration) keeps the current column's value per row and
    // falls back to the retired one where it is null. Plan-only when the
    // batch has no retired keys (the steady state).
    val events = prev.map(_.renames).getOrElse(Map.empty)
      .foldLeft(eventsIn) { case (df, (oldName, curName)) =>
        if (!df.columns.contains(oldName)) df
        else if (df.columns.contains(curName))
          df.withColumn(curName, coalesce(col(curName),
            col(oldName).cast(df.schema(curName).dataType))).drop(oldName)
        else df.withColumnRenamed(oldName, curName)
      }

    // schema evolution from the event envelope's payload columns
    val envelope = Set("_txid", "_op", "_etag", "_bucket", "_deleted",
      "_origin_dc", "_origin_file")
    val payloadIn = StructType(events.schema.fields.filterNot(f => envelope(f.name)))
    val prevPayload = prev.map(c => StructType(
      c.schema.fields.filterNot(f => envelope(f.name)))).getOrElse(
      StructType(Seq(
        StructField("conv_id", StringType, nullable = false),
        StructField("turn_idx", IntegerType, nullable = false))))
    val payload = evolveSchema(prevPayload, payloadIn, ignoreFields)
    val schema = storedSchema(payload)

    // 1. bucket pruning + emptiness in ONE cheap job over the raw batch
    // (every event's key appears among the winners, so the bucket set of
    // the batch IS the bucket set of the winners — no window, no
    // materialization, ≤ numBuckets values collected). For bulk replays
    // that touch ~every bucket anyway (pruneBuckets=false) the pre-scan
    // is pure overhead and skipped. Callers that already run an O(batch)
    // aggregation of their own (the streaming tail's lineage/drift
    // summary) pass the bucket set and count as `prunedHint`, folding
    // the pre-scan into that job — the steady-state micro-batch then
    // pays exactly ONE pass over the batch before the write.
    var batchCount = -1L
    val touched: Seq[Int] = prunedHint match {
      case Some((buckets, n)) =>
        batchCount = n
        if (n == 0L)
          return ApplyStats(prev.map(_.version).getOrElse(0L), 0, 0, 0,
            skippedReplay = false, prevWm, 0)
        buckets.sorted
      case None if !pruneBuckets => 0 until table.effectiveNumBuckets
      case None =>
        // hash the CAST key — the winner tagging below hashes the key
        // cast to the stored type, and xxhash64 is type-directed, so an
        // uncast pre-scan (e.g. a batch whose conv_id inferred bigint
        // against a stored string column) would compute a DIFFERENT
        // bucket set: the gate would read the wrong buckets and a
        // winner could fall outside every fold/cons/delta partition
        val eAgg = events.agg(
          collect_set(table.bucketCol(
            col("conv_id").cast(schema("conv_id").dataType))).as("buckets"),
          count(lit(1)).as("n")).head()
        batchCount = eAgg.getAs[Long]("n")
        if (batchCount == 0L)
          return ApplyStats(prev.map(_.version).getOrElse(0L), 0, 0, 0,
            skippedReplay = false, prevWm, 0)
        eAgg.getSeq[Int](0).sorted
    }

    // 2. latest event wins per key within the batch (§2.8 semantics) as
    // a partial-aggregable max_by instead of a row_number window — the
    // scalable form of `sort -r | uniq`. _etag is the tiebreak for
    // duplicated txids (identical payloads). The batch is hashed ONCE,
    // by bucket (cast-typed key — xxhash64 is type-directed): the
    // winner groupBy keeps that layout (bucket is a subset of the
    // group keys) and so does the broadcast gate below, so the
    // steady-state delta write consumes winners ALREADY clustered by
    // bucket and needs no exchange of its own — a micro-batch pays
    // exactly one O(batch) shuffle end to end (was two: the groupBy
    // hash plus the writer's by-bucket repartition, one extra stage of
    // scheduling latency on every batch of the stream's lifetime).
    val eventCols = events.columns.toSeq
    val bktTyped = table.bucketCol(col("conv_id").cast(schema("conv_id").dataType))
    val stdShufflePartitions = spark.sessionState.conf.numShufflePartitions
    val winners = events
      .withColumn("__bkt", bktTyped)
      .repartition(stdShufflePartitions, col("__bkt"))
      .groupBy((col("__bkt") +: Model.MergeKeys.map(col)): _*)
      .agg(max_by(
        struct(eventCols.map(col): _*),
        struct(col("_txid"), coalesce(col("_etag"), lit("")))).as("__w"))
      .select(col("__bkt"), col("__w.*"))

      // 3. align winners to the stored schema; deletes become tombstones
      // with payload nulled (the per-key version gate needs them so a
      // stale update arriving after a newer delete cannot resurrect).
      // Shared by the steady/broadcast winners and the bulk path's raw
      // events (collapsed by the shared resolve instead).
      val keyCols = Model.MergeKeys.toSet
      val isDel = col("_op") === "delete"
      def alignWinnerCols(srcCols: Seq[String]): Seq[Column] =
        schema.fields.map { f =>
          if (f.name == "_deleted") isDel.as("_deleted")
          else if (keyCols(f.name) || f.name == "_txid" || f.name == "_etag")
            col(f.name).cast(f.dataType).as(f.name)
          else if (srcCols.contains(f.name))
            when(isDel, lit(null)).otherwise(col(f.name)).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }.toSeq
      val winnerRows = winners.select(
        alignWinnerCols(winners.columns.toSeq) :+ col("__bkt"): _*)

      val version = table.nextVersion
      val rel = f"data/c$version%012d"
      val deltaRel = f"data/c$version%012dd"
      val outDir = Paths.get(table.location).resolve(rel)
      val deltaOutDir = Paths.get(table.location).resolve(deltaRel)
      val broadcastPath = batchCount >= 0 && batchCount <= broadcastThreshold
      // Per-bucket maintenance policy: a touched bucket whose delta
      // stack is at the depth cap is either FOLDED (base ∪ deltas ∪ its
      // winners rewritten as a fresh base, stack cleared) when its stack
      // has grown to FoldToBaseRatio of the base — or, cheaper,
      // CONSOLIDATED (stack ∪ its winners re-resolved into ONE delta
      // dir, base untouched). Every other touched bucket takes its
      // winners as one more delta dir. The first commit folds everything
      // (a delta with nothing under it is just a base with extra read
      // cost); stacks without tracked row counts (pre-upgrade commits)
      // fold too. A single commit records all three sides atomically.
      val (foldBuckets: Seq[Int], consBuckets: Seq[Int]) =
        if (prev.isEmpty || maxDeltaDepth <= 0 || !broadcastPath)
          (touched, Seq.empty[Int])
        else {
          val c = prev.get
          touched.filter(b => c.deltaDepthOf(b) >= maxDeltaDepth)
            .partition { b =>
              (c.deltaRowsOf(b), c.baseRowsOf(b)) match {
                case (Some(d), Some(base)) if base > 0 =>
                  d >= (base * foldRatio).toLong
                case _ => true
              }
            }
        }
      val foldSet = foldBuckets.toSet
      val consSet = consBuckets.toSet
      val deltaBuckets: Seq[Int] = touched.filterNot(b => foldSet(b) || consSet(b))
      // the RAW stored rows (base + deltas, unresolved) of `buckets`,
      // aligned to this apply's schema — the stored side of every
      // shared resolve below
      def storedRows(buckets: Seq[Int]): DataFrame =
        align(table.readBuckets(spark, buckets, resolve = false), schema)

      val bucketOf = table.bucketCol(col("conv_id"))
      val (nEff, nDeletes, maxTxRaw, deltaAdds, deltaReplaces) = if (broadcastPath) {
        // 4a. BROADCAST MERGE (steady-state CDC): the batch's keys are
        // small, so the gate never shuffles the TARGET side —
        //   (i)  gate: target's (key, _txid) — a column-pruned narrow
        //        scan — broadcast-joins the winner keys to find which
        //        winners take effect (w._txid > stored _txid or new key);
        //   (ii) plain buckets append the effective winners as one more
        //        delta dir — the payload of the target is never read;
        //   (iii) buckets at the depth cap consolidate (stack ∪ winners)
        //        or fold (base ∪ stack ∪ winners) through the shared
        //        resolve — O(stack) or O(bucket), for those buckets only.
        // At 100 TB this is the difference between writing O(batch) per
        // micro-batch and re-shuffling the touched buckets every batch.
        val mergeKeys = Model.MergeKeys.map(col)
        // gate over the RAW physical rows (base + deltas, unresolved):
        // the broadcast inner join prunes to the batch's keys FIRST, so
        // the per-key max-txid aggregation runs on ≤ |winners|·depth
        // rows instead of window-resolving the whole touched table.
        // An EMPTY table has nothing to gate against — every winner
        // takes effect, so the whole gate subtree (scan, broadcast,
        // agg) is skipped rather than planned over an empty relation.
        val effectivePlan =
          if (prev.isEmpty) winnerRows
          else {
            val rawKeys = storedRows(touched)
              .select((mergeKeys :+ col("_txid").as("__t_txid")): _*)
            val wKeys = winnerRows.select(mergeKeys: _*)
            val matched = rawKeys.join(broadcast(wKeys), Model.MergeKeys.toSeq)
              .groupBy(mergeKeys: _*).agg(max(col("__t_txid")).as("__t_txid"))
            winnerRows
              .join(broadcast(matched), Model.MergeKeys.toSeq, "left")
              .where(col("__t_txid").isNull || col("_txid") > col("__t_txid"))
              .drop("__t_txid")
          }

        // ONE job writes the effective winners to `dir`, partitioned by
        // bucket, with their stats riding an Observation: (rows,
        // deletes, max _txid). Winners arrive already hashed by bucket
        // (the batch's one shuffle, upstream of the winner groupBy):
        // each bucket lands whole in one task, so the dir holds one file
        // per bucket written in parallel with NO exchange here. Tiny
        // batches: a lone writer task beats per-task overhead. Sorted so
        // each bucket file's row groups carry tight conv_id min/max for
        // later pruned reads. AQE may replace an all-stale (empty)
        // winner subtree with an empty relation, dropping the
        // CollectMetrics node — a missing metrics map therefore USUALLY
        // means no rows, but never trust a silent no-op: fall back to
        // the just-written dir (reading the O(batch) output back is
        // cheap and only happens on that path). An empty dir is deleted
        // again (no commit — idempotent no-op).
        def writeObserved(name: String, dir: java.nio.file.Path): (Long, Long, Long) = {
          val obs = new org.apache.spark.sql.Observation(name)
          val observed = effectivePlan
            .observe(obs,
              count(lit(1)).as("n"),
              coalesce(sum(col("_deleted").cast("long")), lit(0L)).as("nDel"),
              max(col("_txid")).as("maxTx"))
            .withColumn("_bucket", col("__bkt"))
            .drop("__bkt")
          val arranged =
            if (batchCount >= 0 && batchCount < ParallelDeltaWriteMinEvents)
              observed.coalesce(1)
            else observed
          arranged
            .sortWithinPartitions("_bucket", "conv_id", "turn_idx")
            .write.mode("overwrite").partitionBy("_bucket")
            .parquet(dir.toString)
          val m = obs.get
          val stats =
            if (m.get("n").exists(_ != null))
              (m("n").asInstanceOf[Long],
                m("nDel").asInstanceOf[Long],
                Option(m("maxTx")).map(_.asInstanceOf[Long]).getOrElse(prevWm))
            else if (LakeTable.footerRowCounts(dir).isEmpty) (0L, 0L, prevWm)
            else {
              val r = spark.read.parquet(dir.toString)
                .agg(count(lit(1)), coalesce(sum(col("_deleted").cast("long")), lit(0L)),
                  max(col("_txid"))).head()
              (r.getLong(0), r.getLong(1), r.getLong(2))
            }
          if (stats._1 == 0L) LakeTable.deleteRecursively(dir)
          stats
        }

        if (prev.isEmpty) {
          // BOOTSTRAP fold — first commit of a broadcast-sized batch:
          // every winner takes effect (nothing to gate against), so
          // the base is written in ONE job with stats riding its
          // Observation — no gate subtree, no persist, no separate
          // stats job (the general fold branch pays all three). The
          // table topology is unchanged: the first commit is a BASE,
          // exactly as the maintenance policy (and its specs) expect.
          val (n, nDel, maxTxObs) = writeObserved(s"boot-$version", outDir)
          if (n == 0L) return ApplyStats(0L, 0, 0, 0, skippedReplay = false, prevWm, 0)
          (n, nDel, maxTxObs,
            Map.empty[Int, (String, Long)], Map.empty[Int, (String, Long)])
        } else {
          if (foldBuckets.isEmpty && consBuckets.isEmpty) {
            // 4a-i. PURE DELTA commit — the steady-state fast path: the
            // gate, the effectiveness stats (Observation) and the write
            // run as ONE job — no persist, no separate stats job; a
            // micro-batch's fixed cost is the prune pre-scan plus this
            // single write. Winners land as one small bucket-partitioned
            // parquet dir — O(batch) write regardless of table size; a
            // single coalesced writer task measured ~40% of steady batch
            // wall, so each bucket's file is written by its own task.
            // Readers resolve base ∪ that bucket's deltas per key by max
            // _txid.
            val (n, nDel, maxTxObs) = writeObserved(s"delta-$version", deltaOutDir)
            if (n == 0L)
              return ApplyStats(prev.map(_.version).getOrElse(0L), 0, 0, 0,
                skippedReplay = false, prevWm, 0)
            val maxTx = math.max(prevWm, maxTxObs)
            val adds = LakeTable.footerRowCounts(deltaOutDir).map { case (b, cnt) =>
              b -> (s"$deltaRel/_bucket=$b", cnt)
            }
            table.commitDelta(schema, adds, maxTx, batchId, Map(
              "events" -> n, "upserts" -> (n - nDel), "deletes" -> nDel,
              "bucketsTouched" -> touched.length.toLong,
              "deltaCommit" -> 1L, "deltaRows" -> n)
              ++ extraMetrics, queryId)
            return ApplyStats(version, n, n - nDel, nDel,
              skippedReplay = false, maxTx, touched.length)
          }
          // fold/consolidate path: effective is reused (stats, delta
          // split, consolidation and fold unions) — persist it once. The
          // steady path's __bkt tag is dropped here: these branches
          // re-derive buckets from bucketOf where needed
          val effective = effectivePlan.drop("__bkt")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val eff = effective.agg(count(lit(1)).as("n"),
              coalesce(sum(col("_deleted").cast("long")), lit(0L)).as("nDel"),
              max(col("_txid")).as("maxTx")).head()
            val n = eff.getLong(0)
            if (n == 0L)
              return ApplyStats(prev.map(_.version).getOrElse(0L), 0, 0, 0,
                skippedReplay = false, prevWm, 0)
            // One bucket-partitioned delta dir serves two roles, disjoint
            // by bucket: plain buckets APPEND their winners to their
            // stacks; at-cap-but-small stacks are CONSOLIDATED — stack ∪
            // winners re-resolved per key (tombstones kept; only a fold
            // may drop them) into that same dir, which then REPLACES the
            // stack. Consolidation reads O(stack), never the base.
            val (adds, replaces) =
              if (deltaBuckets.isEmpty && consBuckets.isEmpty)
                (Map.empty[Int, (String, Long)], Map.empty[Int, (String, Long)])
              else {
                val plainPart =
                  if (deltaBuckets.isEmpty) None
                  else Some(effective
                    .where(bucketOf.isin(deltaBuckets.map(Integer.valueOf): _*))
                    .repartition(bucketOf))
                val consPart =
                  if (consBuckets.isEmpty) None
                  // salt 1: one reducer (and so one file) per consolidated
                  // bucket — the dir lives until the bucket's fold
                  else Some(table.resolveLatest(
                    align(table.readDeltaStacks(spark, consBuckets), schema)
                      .unionByName(effective
                        .where(bucketOf.isin(consBuckets.map(Integer.valueOf): _*))),
                    salt = 1))
                val deltaDf = (plainPart, consPart) match {
                  case (Some(p), Some(c)) => p.unionByName(c)
                  case (Some(p), None) => p
                  case (None, c) => c.get
                }
                deltaDf.withColumn("_bucket", bucketOf)
                  .sortWithinPartitions("_bucket", "conv_id", "turn_idx")
                  .write.mode("overwrite").partitionBy("_bucket")
                  .parquet(deltaOutDir.toString)
                val counts = LakeTable.footerRowCounts(deltaOutDir).map { case (b, cnt) =>
                  b -> (s"$deltaRel/_bucket=$b", cnt)
                }
                (counts.view.filterKeys(b => !consSet(b)).toMap,
                  counts.view.filterKeys(consSet).toMap)
              }
            val nDel = eff.getLong(1)
            // 4a-ii. broadcast FOLD: rewrite ONLY the buckets whose stacks
            // earned it — their raw bases + delta stacks ∪ this batch's
            // winners go through the shared resolve once and become fresh
            // bases; their stacks clear. The gate already made every
            // effective winner's _txid beat the stored one, so the default
            // order picks it. The resolve's one exchange leaves the rows
            // clustered by bucket, ≤ SaltBuckets files per bucket. Fold
            // cost is proportional to the folded (hot, churn-heavy)
            // buckets, never the table.
            if (foldBuckets.nonEmpty) {
              val effFold =
                if (deltaBuckets.isEmpty && consBuckets.isEmpty) effective
                else effective.where(bucketOf.isin(foldBuckets.map(Integer.valueOf): _*))
              table.resolveLatest(storedRows(foldBuckets).unionByName(effFold), SaltBuckets)
                .withColumn("_bucket", bucketOf)
                .sortWithinPartitions("_bucket", "conv_id", "turn_idx")
                .write.mode("overwrite").partitionBy("_bucket")
                .parquet(outDir.toString)
            }
            (n, nDel, eff.getLong(2), adds, replaces)
          } finally effective.unpersist()
        }
      } else {
        // 4b. BULK MERGE (bulk loads/replays, batch ~ table size): the
        // batch's raw events, aligned to the stored schema, ∪ the RAW
        // stored rows (base + deltas) of the touched buckets go through
        // the shared resolve ONCE — one exchange on (bucket, salt), and
        // its output reaches the writer already clustered by bucket,
        // each bucket over ≤ saltBuckets reducers (files). The salt
        // spreads every bucket — and so every hot conversation's — over
        // saltBuckets reducers. The within-batch collapse, the version
        // gate and the merge are that one max_by: a stored row ranks
        // above an event with the same _txid, so an event takes effect
        // only if its _txid exceeds the stored row's and a re-applied
        // batch changes nothing. An EMPTY table is the same plan with
        // nothing to union.
        val batchRows = events.select(alignWinnerCols(eventCols) :+ lit(true).as("__ev"): _*)
        val rows =
          if (prev.isEmpty) batchRows
          else storedRows(touched).withColumn("__ev", lit(false)).unionByName(batchRows)
        val obs = new org.apache.spark.sql.Observation(s"apply-$version")
        table.resolveLatest(rows, saltBuckets,
            struct(col("_txid"), !col("__ev"), coalesce(col("_etag"), lit(""))))
          .observe(obs,
            sum(col("__ev").cast("long")).as("nEff"),
            sum((col("__ev") && coalesce(col("_deleted"), lit(false))).cast("long")).as("nDel"),
            max(when(col("__ev"), col("_txid"))).as("maxTx"))
          .drop("__ev")
          .withColumn("_bucket", bucketOf)
          .sortWithinPartitions("_bucket", "conv_id", "turn_idx")
          .write.mode("overwrite").partitionBy("_bucket")
          .parquet(outDir.toString)

        // AQE may rewrite an all-empty merge to an empty relation and
        // drop the CollectMetrics node (same hazard the delta path
        // guards): a missing map means nothing was written
        val metrics0 = obs.get
        val n = metrics0.get("nEff").flatMap(Option(_))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        val nDel = metrics0.get("nDel").flatMap(Option(_))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        if (n == 0L) {
          // pure replay: nothing took effect — discard the rewrite,
          // keep the previous snapshot (idempotent no-op)
          LakeTable.deleteRecursively(outDir)
          return ApplyStats(prev.map(_.version).getOrElse(0L), 0, 0, 0,
            skippedReplay = false, prevWm, 0)
        }
        (n, nDel, metrics0("maxTx").asInstanceOf[Long],
          Map.empty[Int, (String, Long)], Map.empty[Int, (String, Long)])
      }
      val maxTx = math.max(prevWm, maxTxRaw)

      // 6. lineage: per-bucket row counts straight from the parquet
      // footers of the just-written files — driver-side metadata reads,
      // no Spark job, no scheduling latency
      val countsByBucket: Map[Int, Long] = LakeTable.footerRowCounts(outDir)
      val rewritten: Map[Int, Option[String]] = foldBuckets.map { b =>
        b -> (if (countsByBucket.contains(b)) Some(s"$rel/_bucket=$b") else None)
      }.toMap
      table.commit(schema, rewritten, countsByBucket, maxTx, batchId, Map(
        "events" -> nEff, "upserts" -> (nEff - nDeletes), "deletes" -> nDeletes,
        "bucketsTouched" -> touched.length.toLong,
        "foldedBuckets" -> foldBuckets.length.toLong,
        "consolidatedBuckets" -> consBuckets.length.toLong,
        "consolidatedRows" -> deltaReplaces.values.map(_._2).sum,
        "deltaRows" -> deltaAdds.values.map(_._2).sum,
        "broadcastMerge" -> (if (broadcastPath) 1L else 0L)) ++ extraMetrics,
        queryId, deltaAdds = deltaAdds, deltaReplaces = deltaReplaces)
      ApplyStats(version, nEff, nEff - nDeletes, nDeletes,
        skippedReplay = false, maxTx, touched.length)
  }

  /** Replay a changelog in `nBatches` txid-ordered batches (batch-mode
    * equivalent of the streaming tail; used by tests and Verify). */
  def replay(
      spark: SparkSession,
      table: LakeTable,
      events: DataFrame,
      nBatches: Int): Seq[ApplyStats] = {
    val bounds = events.agg(min("_txid"), max("_txid"), count(lit(1))).head()
    val (lo, hi, n) = (bounds.getLong(0), bounds.getLong(1), bounds.getLong(2))
    val step = math.max(1L, (hi - lo + nBatches) / nBatches)
    // Per-batch path choice: the FIRST batch always takes the bulk
    // path (the table is empty — nothing to gate
    // against, and the pre-scan would be pure overhead); later batches
    // small enough for the broadcast merge (estimated by even split)
    // run with bucket pruning, so each lands as an O(batch)
    // MERGE-ON-READ delta commit instead of a bulk full rewrite —
    // replay cost becomes O(events + one resolve at read)
    // instead of O(nBatches × table). Bulk-sized batches keep the
    // no-pre-scan bulk path (the estimate only decides
    // whether to pay the pre-scan; the apply still measures the exact
    // batch count there before choosing the merge strategy).
    val estBatch = n / math.max(1, nBatches)
    (0 until nBatches).map { i =>
      val from = lo + i * step
      val to = if (i == nBatches - 1) hi + 1 else math.min(lo + (i + 1) * step, hi + 1)
      if (i > 0 && estBatch <= BroadcastMergeMaxEvents
          && n <= 2 * BroadcastMergeMaxEvents)
        // all-buckets hint with the estimated count: a replay batch of
        // an evenly split changelog touches ~every bucket, so the
        // per-batch prune pre-scan job would re-derive a set we
        // already know a correct superset of. The estimate is safe
        // even under total txid-density skew: an empty range falls
        // through to the write's n==0 no-commit path; the broadcast of
        // winner keys is bounded by the WHOLE changelog, which the
        // n ≤ 2×threshold guard caps at ~1M keys (tens of MB); and
        // the hint count is floored at the parallel-write threshold so
        // an under-estimate can never serialize a big delta through a
        // single coalesced writer task.
        applyBatch(spark, table,
          events.where(col("_txid") >= from && col("_txid") < to), batchId = -1L,
          prunedHint = Some((0 until table.effectiveNumBuckets,
            math.max(estBatch, ParallelDeltaWriteMinEvents))))
      else
        applyBatch(spark, table,
          events.where(col("_txid") >= from && col("_txid") < to), batchId = -1L,
          pruneBuckets = false)
    }
  }
}
