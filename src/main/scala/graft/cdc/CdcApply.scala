package graft.cdc

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Model
import graft.table.{Commit, LakeTable}
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

/** What a caller's own pass over a batch already knows, so the apply
  * can skip its pre-scan: the touched bucket set, the event count (-1
  * when unknown), the txid floor — `Some(lo)` when every event carries
  * a non-null `_txid` (cast to bigint, as the apply stores it) of at
  * least `lo` — and `base`, the commit those facts were computed
  * against (None: the table was empty). The apply derives everything
  * from `base` and publishes against it; a caller that passes a hint
  * has run the replay check on the log `base` came from. */
case class BatchHint(buckets: Seq[Int], events: Long, txidFloor: Option[Long],
    base: Option[Commit])

object BatchHint {

  /** The facts against commit `base` as aggregate columns over the rows
    * where `clean` holds, so a caller folds them into an aggregation it
    * already runs. The key is hashed in `base`'s layout, cast to its
    * stored type (xxhash64 is type-directed: an uncast key, say a batch
    * whose conv_id inferred bigint against a stored string, would name
    * other buckets), and the floor is the min `_txid` try-cast to
    * bigint, as the apply stores it (a string `_txid` would compare
    * lexically). */
  def facts(table: LakeTable, base: Option[Commit], clean: Column = lit(true)): Seq[Column] = {
    val keyType = base.fold[DataType](StringType)(_.schema("conv_id").dataType)
    val bucket = LakeTable.bucketColFor(col("conv_id").cast(keyType), table.numBucketsOf(base))
    val tx = col("_txid").try_cast(LongType)
    Seq(collect_set(when(clean, bucket)).as("buckets"),
      count(when(clean, 1)).as("events"),
      min(when(clean, tx)).as("minTx"),
      count(when(clean && tx.isNull, 1)).as("nullTx"))
  }

  /** One hint from the rows of an aggregation over [[facts]] against
    * `base`, one per group: any null `_txid` in any group voids the
    * floor. */
  def combine(rows: Seq[Row], base: Option[Commit]): BatchHint = {
    def longs(name: String) =
      rows.flatMap(r => Option(r.getAs[java.lang.Long](name))).map(_.longValue)
    val lows = longs("minTx")
    val buckets = rows.flatMap(r => r.getSeq[Int](r.fieldIndex("buckets"))).distinct.sorted
    BatchHint(buckets, longs("events").sum,
      Option.when(lows.nonEmpty && longs("nullTx").sum == 0L)(lows.min), base)
  }
}

/** The MERGE-apply stage: one micro-batch of change events → one new
  * snapshot of the target [[LakeTable]].
  *
  * Pipeline (SURVEY.md §3.4; each step anchored to a reference op):
  *   1. the batch is aligned ONCE to the stored schema (deletes become
  *      tombstones) and every bucket class reads that one frame; its
  *      within-batch collapse — latest txid wins per (conv_id,
  *      turn_idx) — is the engine's one merge rule,
  *      [[LakeTable.resolveLatest]] (reference: `sort -r | uniq`
  *      idempotent dedupe, /root/reference/manta/dc_inputs_2b.sh:33-35);
  *   2. bucket pruning — only the hash-buckets the incoming keys map to
  *      are read and rewritten (reference analogue: per-split map
  *      tasks, /root/reference/manta/dc_inputs.sh:57-66);
  *   3. per-key version gate — an event takes effect only if its _txid
  *      exceeds the stored row's _txid. Every stored row's _txid is at
  *      most the commit's txidWatermark, so a batch whose txid floor
  *      (every event has a non-null _txid ≥ it) exceeds the watermark
  *      passes the gate whole and skips it: an in-order tail never
  *      reads the table to gate. Deletes become TOMBSTONES
  *      (_deleted=true rows), so a stale update arriving after a newer
  *      delete cannot resurrect the key. This makes the final state a
  *      pure function of the event set — independent of arrival order,
  *      duplication, or batch boundaries (exactly-once = idempotent
  *      keyed upsert; reference analogue: `_etag` change detection,
  *      /root/reference/lib/backup_state.js:135-143);
  *   4. one class per touched bucket, chosen from what the apply knows
  *      of the batch (a [[BatchHint]] or its own pre-scan) and the
  *      bucket's stack, never from the batch's size — DELTA (append the
  *      gated winners; on an empty table they are the bases),
  *      CONSOLIDATE (stack ∪ winners → one delta dir, base untouched) or
  *      FOLD (base ∪ stack ∪ the bucket's raw events → a fresh base; a
  *      batch the apply knows nothing of folds every touched bucket).
  *      Every class runs [[LakeTable.resolveLatest]], the same rule the
  *      merge-on-read reader applies: the DELTA/CONSOLIDATE winners are
  *      the resolve of their buckets' events alone, and the version gate
  *      runs on that output; a stored row wins a _txid tie, so FOLD's
  *      resolve is also its collapse and its gate, and step 3 runs only
  *      for DELTA and CONSOLIDATE buckets;
  *   5. each resolve is one exchange whose output reaches the writer
  *      with no further exchange. The FOLD resolve is salted within
  *      each bucket, so one hot conversation cannot serialize a whole
  *      bucket into one task (north-rule skew mandate — the reference
  *      has no skew handling, SURVEY.md §4.1). The winners resolve with
  *      salt 1: each winner bucket lands whole in one reducer, so a
  *      known batch's hot bucket (a pre-scanned first load too)
  *      resolves in one task at any size (SkewSpec). The classes' parts
  *      are unioned and written by ONE observed write into ONE fresh
  *      dir of its own ([[LakeTable.newDataDir]]): `data/cV-TOKEN`,
  *      partitioned by bucket, when any base is rewritten; else
  *      `data/cVd-TOKEN`, FLAT — one file per write task, `_bucket` a
  *      column — so a steady apply that touches every bucket writes a
  *      few files, not one per bucket (level 0 of an LSM tree);
  *   6. ONE atomic commit with txid high-watermark + per-bucket
  *      lineage counts from the write's Observation, which also names
  *      the task that wrote each bucket: a flat write's stack entry is
  *      that task's one file (the dir if the bucket spread over several
  *      tasks). Nothing is read back. An entirely-ineffective batch
  *      (pure replay) leaves no dir and commits nothing. Every step
  *      derives from ONE snapshot (the head, read once, or the hint's
  *      `base`), and the commit is published against it: a conflicting
  *      commit landing meanwhile refuses it ([[LakeTable.commit]]).
  *
  * Scale notes: the only full pass over the *batch* is one shuffle,
  * the resolve's — by bucket for the DELTA/CONSOLIDATE winners, by
  * (bucket, salt) for the FOLD buckets' events — at every batch size:
  * no batch is funnelled into one writer task, and a delta-only write
  * opens at most one file per write task (≤ spark.sql.shuffle.partitions
  * per part), however many buckets it touches. The target table is
  * touched only on affected buckets; the version gate is a join keyed
  * on the merge key, and only the DELTA/CONSOLIDATE buckets of a batch
  * at or below the watermark (late, overlapping, or with a null _txid)
  * run it. It broadcasts the winner keys only under Spark's
  * autoBroadcastJoinThreshold; a larger batch (a re-apply of a whole
  * changelog, a stream backfill of large late segments) sort-merge
  * joins the narrow stored keys instead. A replay never gates.
  * Nothing scans unaffected data.
  * Tombstones accumulate only for deleted keys; compact() can drop
  * them once no older txids can arrive (watermark-bounded).
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
    * silently truncating. A struct that only lacks some of the stored
    * struct's subfields is no conflict: the stored struct is kept. */
  def evolveSchema(
      prev: StructType, incoming: StructType,
      ignore: Set[String] = Set.empty): StructType = {
    val incomingByName = incoming.fields.map(f => f.name -> f).toMap
    val widened = prev.fields.map { f =>
      incomingByName.get(f.name) match {
        case Some(in) if in.dataType != f.dataType
            && !Model.MergeKeys.contains(f.name) && !narrowerStruct(in.dataType, f.dataType) =>
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

  /** A struct whose every field `wide` holds under the same name, with
    * the same or (recursively) a narrower struct type: a batch that
    * lacks some subfields. It is no type conflict — `wide` already reads
    * it ([[LakeTable.castTo]] fills the absent subfields with nulls). */
  private def narrowerStruct(in: DataType, wide: DataType): Boolean = (in, wide) match {
    case (i: StructType, w: StructType) => i.fields.forall(f => w.find(_.name == f.name)
      .exists(g => g.dataType == f.dataType || narrowerStruct(f.dataType, g.dataType)))
    case _ => false
  }

  /** Columns stored in the table: merge keys + payload + CDC metadata
    * (`_deleted` marks tombstones; readers filter them). */
  private def storedSchema(payload: StructType): StructType =
    StructType(payload.fields ++ Seq(
      StructField("_txid", LongType), StructField("_etag", StringType),
      StructField("_deleted", BooleanType)))

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
      maxDeltaDepth: Int = MaxDeltaDepth,
      foldRatio: Double = FoldToBaseRatio,
      prunedHint: Option[BatchHint] = None): ApplyStats = {
    // the ONE snapshot the apply derives from and publishes against: the
    // hint's, or the head of the one log read that also answers the
    // replay check (a hinting caller ran that check on its base's log)
    val log = Option.when(prunedHint.isEmpty)(table.log())
    val prev = prunedHint.fold(log.flatMap(_.head))(_.base)
    val numBuckets = table.numBucketsOf(prev)
    val prevWm = prev.map(_.txidWatermark).getOrElse(0L)
    // every apply that changes nothing returns this
    def unchanged(skipped: Boolean) = ApplyStats(prev.map(_.version).getOrElse(0L),
      0, 0, 0, skippedReplay = skipped, prevWm, 0)
    if (log.exists(_.committed(batchId, queryId))) return unchanged(skipped = true)

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

    // 1. the batch's facts — touched buckets, event count, txid floor —
    // in ONE cheap job over the raw batch (every event's key appears
    // among the winners, so the bucket set of the batch IS the bucket
    // set of the winners — no window, no materialization, ≤ numBuckets
    // values collected). Callers that already run an O(batch)
    // aggregation of their own (the streaming tail's lineage/drift
    // summary) fold the same [[BatchHint.facts]] into that job and pass
    // them as `prunedHint` — the steady-state micro-batch then pays
    // exactly ONE pass over the batch before the write. With no hint and
    // pruneBuckets=false the apply has no facts: the pre-scan is
    // skipped and every bucket folds (step 2).
    val hint = prunedHint.map(h => h.copy(buckets = h.buckets.sorted))
      .orElse(Option.when(pruneBuckets) {
        val facts = BatchHint.facts(table, prev)
        BatchHint.combine(events.agg(facts.head, facts.tail: _*).collect().toSeq, prev)
      })
    val BatchHint(touched, batchCount, txidFloor, _) =
      hint.getOrElse(BatchHint(0 until numBuckets, -1L, None, prev))
    if (batchCount == 0L) return unchanged(skipped = false)

    // 2. every touched bucket falls in exactly ONE class, chosen from
    // the batch's facts and the bucket's stack, never from the batch's
    // size:
    //   DELTA       — the batch's gated winners append to its stack (on
    //                 an empty table they ARE the bases: nothing under
    //                 them to resolve against);
    //   CONSOLIDATE — at the depth cap with a stack still small next to
    //                 its base: stack ∪ winners re-resolve into ONE
    //                 delta dir that replaces the stack, base untouched
    //                 (O(stack), never O(base));
    //   FOLD        — at the cap with a stack of FoldToBaseRatio of its
    //                 base (or untracked counts, pre-upgrade commits):
    //                 base ∪ stack ∪ the bucket's RAW events re-resolve
    //                 into a fresh base, stack cleared — that resolve is
    //                 also the within-batch collapse and the gate. A
    //                 batch without facts (the bulk load) folds every
    //                 touched bucket.
    // A cold bucket is in no class at all, so cost follows churn.
    val (foldBuckets: Seq[Int], consBuckets: Seq[Int]) =
      if (hint.isEmpty) (touched, Nil)
      else if (prev.isEmpty) (Nil, Nil)
      else if (maxDeltaDepth <= 0) (touched, Nil)
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
    val consSet = consBuckets.toSet
    // the buckets that take the batch's collapsed winners
    val winnerBuckets = touched.filterNot(foldBuckets.toSet)
    val deltaBuckets = winnerBuckets.filterNot(consSet)
    // the buckets whose BASE this commit writes, into a fresh dir of
    // its own: a delta-only apply's is marked `d`
    val baseBuckets = if (prev.isEmpty) touched else foldBuckets
    val rel = LakeTable.newDataDir(prev, delta = baseBuckets.isEmpty)
    val outDir = Paths.get(table.location).resolve(rel)
    val bucketOf = LakeTable.bucketColFor(col("conv_id"), numBuckets)
    // the RAW stored rows (base + deltas, or the deltas alone) of
    // `buckets` in the snapshot, aligned to this apply's schema
    def storedRows(buckets: Seq[Int], includeBase: Boolean = true): DataFrame =
      align(table.readCommit(spark, prev.get, buckets, resolve = false, includeBase), schema)
    // the rows of `df` (spanning the buckets `of`) whose bucket `bkt` is
    // in `buckets`
    def within(df: DataFrame, bkt: Column, buckets: Seq[Int], of: Seq[Int]): DataFrame =
      if (buckets.size == of.size) df
      else df.where(bkt.isin(buckets.map(Integer.valueOf): _*))

    // 3. the batch aligned ONCE to the stored schema and tagged __ev =
    // true; deletes become tombstones with payload nulled (the per-key
    // version gate needs them so a stale update arriving after a newer
    // delete cannot resurrect). Every class reads this one frame.
    val keyCols = Model.MergeKeys.toSet
    val isDel = col("_op") === "delete"
    val evRows = events.select(schema.fields.toSeq.map { f =>
        if (f.name == "_deleted") isDel.as("_deleted")
        else if (keyCols(f.name) || f.name == "_txid" || f.name == "_etag")
          col(f.name).cast(f.dataType).as(f.name)
        else if (events.columns.contains(f.name))
          LakeTable.castTo(when(isDel, lit(null)).otherwise(col(f.name)),
            events.schema(f.name).dataType, f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } :+ lit(true).as("__ev"): _*)
    // the one merge rule over stored rows ∪ the batch side `ev`: a
    // stored row ranks above an event with the same _txid, so an event
    // takes effect only if its _txid exceeds the stored row's and a
    // re-applied batch changes nothing; events of one _txid rank by
    // _etag (duplicated txids carry identical payloads). The resolve's
    // one exchange leaves each bucket over ≤ `salt` reducers (files)
    def merged(stored: Option[DataFrame], ev: DataFrame, salt: Int): DataFrame =
      table.resolveLatest(
          stored.fold(ev)(_.withColumn("__ev", lit(false)).unionByName(ev)), numBuckets, salt,
          struct(col("_txid"), !col("__ev"), coalesce(col("_etag"), lit(""))))
        .withColumn("_bucket", bucketOf)

    // 4. the DELTA and CONSOLIDATE buckets' winners: the latest event per
    // key within the batch (§2.8 semantics), resolved with salt 1 so each
    // bucket lands whole in one reducer. The version gate below keeps
    // that layout when it broadcasts, so the delta write consumes winners
    // ALREADY clustered by bucket and needs no exchange of its own — a
    // micro-batch pays exactly one O(batch) shuffle end to end.
    val winners = merged(None, within(evRows, bucketOf, winnerBuckets, touched), 1)
    // The version gate keeps the winners that TAKE EFFECT: the stored
    // (key, _txid) of the winner buckets — a column-pruned narrow scan
    // of the raw physical rows — joins the winner keys FIRST, so the
    // per-key max-txid aggregation runs on ≤ |winners|·depth rows and,
    // with the winner keys broadcast, the TARGET side is never
    // shuffled; a winner takes effect
    // if its _txid beats the stored one or its key is new. At 100 TB
    // this is the difference between writing O(batch) per micro-batch
    // and re-shuffling the touched buckets every batch. The gate has
    // nothing to reject, so its whole subtree is skipped, when the
    // table is EMPTY or the batch is strictly newer than it: every
    // stored _txid is ≤ the watermark, so a txid floor above the
    // watermark beats every stored row.
    // The winner keys (and the matched keys, one row per winner at
    // most) are broadcast only when their plan statistics fit
    // spark.sql.autoBroadcastJoinThreshold; past it both joins
    // sort-merge, so no batch is collected to be broadcast. Not left to
    // Spark: it sizes the second join as a product (a tiny batch would
    // shuffle) and the stored side by its compressed files (a 630k-key
    // scan was broadcast at 100 MB).
    val gated = prev.nonEmpty && winnerBuckets.nonEmpty && !txidFloor.exists(_ > prevWm)
    val batchRows: DataFrame =
      if (!gated) winners
      else {
        val mergeKeys = Model.MergeKeys.map(col)
        val winnerKeys = winners.select(mergeKeys: _*)
        val bcastMax = spark.sessionState.conf.autoBroadcastJoinThreshold
        val side: DataFrame => DataFrame =
          if (bcastMax >= 0 && winnerKeys.queryExecution.optimizedPlan.stats.sizeInBytes <= bcastMax)
            broadcast(_)
          else _.hint("merge")
        val rawKeys = storedRows(winnerBuckets)
          .select((mergeKeys :+ col("_txid").as("__t_txid")): _*)
        val matched = rawKeys.join(side(winnerKeys), Model.MergeKeys.toSeq)
          .groupBy(mergeKeys: _*).agg(max(col("__t_txid")).as("__t_txid"))
        winners
          .join(side(matched), Model.MergeKeys.toSeq, "left")
          .where(col("__t_txid").isNull || col("_txid") > col("__t_txid"))
          .drop("__t_txid")
      }
    // the consolidate part reads the gated winners too: persist them so
    // the gate runs once
    val shared = deltaBuckets.nonEmpty && consBuckets.nonEmpty
    if (shared) batchRows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val parts: Seq[DataFrame] = Seq(
      // delta winners arrive already hashed by bucket: each bucket lands
      // whole in one task, one file per bucket, no exchange here
      Option.when(deltaBuckets.nonEmpty)(
        within(batchRows, col("_bucket"), deltaBuckets, winnerBuckets)),
      // salt 1: one reducer (and so one file) per consolidated bucket —
      // the dir lives until the bucket's fold
      Option.when(consBuckets.nonEmpty)(merged(
        Some(storedRows(consBuckets, includeBase = false)),
        within(batchRows, col("_bucket"), consBuckets, winnerBuckets).drop("_bucket"), 1)),
      // the fold buckets' events: the salted resolve collapses, gates
      // and merges them in its one exchange
      Option.when(foldBuckets.nonEmpty)(merged(
        prev.map(_ => storedRows(foldBuckets)),
        within(evRows, bucketOf, foldBuckets, touched), saltBuckets))).flatten

    // 5. ONE write puts every class's part into ONE dir, sorted so each
    // file's row groups carry tight (bucket, conv_id) min/max for later
    // pruned reads. A write that rewrites a base partitions the dir by
    // bucket; a delta-only one writes it FLAT, one file per write task
    // with `_bucket` as a column (level 0: the steady tail's write pays
    // per file, not per row, and touches about every bucket). The
    // apply's stats ride an Observation over the batch's rows (__ev):
    // effective events, deletes, max _txid — no separate stats job. A
    // batch where nothing took effect (a pure replay) leaves no dir and
    // commits nothing — idempotent no-op. The same Observation counts
    // the rows written per bucket and the task that wrote them, so no
    // footer is read back.
    val flat = baseBuckets.isEmpty
    val obs = new org.apache.spark.sql.Observation(s"apply-${prev.fold(1L)(_.version + 1)}")
    try {
      val w = parts.reduce(_ unionByName _)
        .observe(obs,
          coalesce(sum(col("__ev").cast("long")), lit(0L)).as("nEff"),
          coalesce(sum((col("__ev") && coalesce(col("_deleted"), lit(false)))
            .cast("long")), lit(0L)).as("nDel"),
          max(when(col("__ev"), col("_txid"))).as("maxTx"),
          LakeTable.bucketWrites(col("_bucket"), numBuckets))
        .drop("__ev")
        .sortWithinPartitions("_bucket", "conv_id", "turn_idx")
        .write.mode("errorifexists")
      (if (flat) w else w.partitionBy("_bucket")).parquet(outDir.toString)
    } finally if (shared) batchRows.unpersist()
    val m = obs.get
    val written = LakeTable.observedBucketWrites(m, outDir)
    val counts = written.map { case (b, w) => b -> w.rows }
    val nEff = m.get("nEff").map(_.asInstanceOf[Long]).getOrElse(0L)
    if (nEff == 0L) {
      LakeTable.deleteRecursively(outDir)
      return unchanged(skipped = false)
    }
    val nDel = m("nDel").asInstanceOf[Long]
    val maxTx = math.max(prevWm, Option(m("maxTx")).fold(prevWm)(_.asInstanceOf[Long]))

    // 6. ONE atomic commit: fold (and first-commit) buckets get fresh
    // bases, consolidated stacks are replaced by their one entry, every
    // other bucket appends its entry to its stack — with the txid
    // high-watermark and per-bucket lineage counts. A flat write's entry
    // names the one file its bucket's task wrote (the dir when the
    // bucket spread over several tasks: the sort-merge gate's re-hash)
    val entryOf: Map[Int, String] =
      if (flat) LakeTable.flatEntries(Paths.get(table.location), rel, written)
      else counts.map { case (b, _) => b -> s"$rel/_bucket=$b" }
    val baseSet = baseBuckets.toSet
    val (deltaAdds, deltaReplaces) = (counts -- baseBuckets)
      .map { case (b, n) => b -> (entryOf(b), n) }
      .partition { case (b, _) => !consSet(b) }
    val c = table.commit(prev, schema,
      baseBuckets.map(b => b -> entryOf.get(b)).toMap,
      counts.filter { case (b, _) => baseSet(b) }, maxTx, batchId, Map(
        "events" -> nEff, "upserts" -> (nEff - nDel), "deletes" -> nDel,
        "bucketsTouched" -> touched.length.toLong,
        "foldedBuckets" -> baseBuckets.length.toLong,
        "consolidatedBuckets" -> consBuckets.length.toLong,
        "consolidatedRows" -> deltaReplaces.values.map(_._2).sum,
        "deltaRows" -> deltaAdds.values.map(_._2).sum,
        "deltaCommit" -> (if (baseBuckets.isEmpty && consBuckets.isEmpty) 1L else 0L),
        // 1 when step 4's gate join ran (a fold's resolve is its own gate)
        "versionGate" -> (if (gated) 1L else 0L),
        "filesWritten" -> LakeTable.parquetFilesUnder(outDir)) ++ extraMetrics,
      queryId, deltaAdds = deltaAdds, deltaReplaces = deltaReplaces)
    ApplyStats(c.version, nEff, nEff - nDel, nDel,
      skippedReplay = false, c.txidWatermark, touched.length)
  }

  /** Replay a changelog in `nBatches` txid-ordered batches (batch-mode
    * equivalent of the streaming tail; used by tests and Verify). A
    * batch whose range starts above the table's txidWatermark is in
    * order: its range's start is its txid floor (the filter drops null
    * _txids), so it lands as a delta with no version gate. Every other
    * batch — the first load, or a re-run over data the table already
    * holds — has no facts and folds its buckets from its raw events, so
    * a replay never broadcasts winner keys, however long the changelog. */
  def replay(
      spark: SparkSession,
      table: LakeTable,
      events: DataFrame,
      nBatches: Int): Seq[ApplyStats] = {
    val bounds = events.agg(min("_txid"), max("_txid")).head()
    // an empty changelog has no txid range (min/max are null)
    if (bounds.isNullAt(0)) return Seq.empty
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val step = math.max(1L, (hi - lo + nBatches) / nBatches)
    (0 until nBatches).map { i =>
      val from = lo + i * step
      val to = if (i == nBatches - 1) hi + 1 else math.min(lo + (i + 1) * step, hi + 1)
      val head = table.log().head
      applyBatch(spark, table,
        events.where(col("_txid") >= from && col("_txid") < to), pruneBuckets = false,
        prunedHint = Option.when(head.exists(_.txidWatermark < from))(
          BatchHint(0 until table.numBucketsOf(head), -1L, Some(from), head)))
    }
  }
}
