package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftParquetSchema
import org.apache.spark.sql.types.StructType

/** Copy-on-write MERGE (upsert) through the [[SnapshotLog]] commit
  * protocol — the storage-side completion of the warehouse pair: the
  * query-side latest-state/merge semantics exist (`cdc_latest_state`,
  * `cdc_merge_snapshot`), but the reference's append-only sink can never
  * APPLY them — every UPDATE lingers as a duplicate row forever. This is
  * the standard lakehouse answer (Delta/Iceberg copy-on-write MERGE,
  * both published designs):
  *
  *  1. **Prune by manifest stats.** Each live file's recorded zone for
  *     the merge key is intersected with the delta's key set —
  *     only files that MAY hold a matched key are touched. For CDC-scale
  *     deltas (≤ [[DefaultMaxDriverKeys]] distinct keys) the key set is
  *     a KB-scale sorted array on the driver; beyond that the decision
  *     DISTRIBUTES ([[touchedFiles]]) so a 100 M-key backfill degrades
  *     to one broadcast range join instead of OOMing the driver. Files
  *     outside every delta key's range are carried forward UNTOUCHED,
  *     by reference: their bytes are not read, not rewritten, and their
  *     paths survive the commit identically.
  *  2. **Rewrite only the touched files.** touched rows with matched
  *     keys are replaced by the delta rows; unmatched delta keys are
  *     inserts. One anti-join of the touched subset against the
  *     (broadcastable) delta — the corpus-sized untouched majority never
  *     participates in any join.
  *  3. **Commit atomically** as op=`upsert`: removed = touched paths,
  *     added = rewritten + inserted files (with fresh key stats, so the
  *     next merge prunes just as well). Readers pinned to pre-merge
  *     snapshots are untouched; time travel across the merge works.
  *
  * COMPOSITE keys merge through a canonical surrogate: encode the key
  * tuple as one string column and merge on that. The string-key
  * machinery then applies unchanged: xxhash64 manifest blooms index it,
  * masks join by it, and the components stay as ordinary payload
  * columns. CAVEAT a bare `concat_ws('', …)` does NOT deliver
  * collision-freedom on its own: concat_ws SKIPS null components, so
  * tuples differing only in WHICH component is null — (a, NULL) vs
  * (NULL, a) — collapse to the same surrogate and would merge as one
  * key. Either guarantee all key components non-null (the usual PK
  * contract), or build the surrogate with [[compositeKey]], which
  * encodes null as an explicit sentinel before joining. Pinned in
  * CdcSpec ("composite keys via canonical surrogate").
  *
  * Schema DRIFT between the table and the delta routes through the
  * [[graft.schema.Evolution]] widening lattice: both sides cast to the
  * LUB types, added columns null-fill on carried-forward rows — and
  * off-lattice drift (string vs int, narrowing) throws at WRITE time
  * instead of corrupting the table or failing some later read. A renamed
  * column is declared once on the table (`ALTER TABLE … RENAME COLUMN`,
  * the [[FieldRegistry]]); the delta then speaks the new name and both
  * sides meet in physical space.
  *
  * [[SnapshotLog.diff]] refuses ranges containing an `upsert` commit
  * (row-level change feeds need delete vectors / row lineage — exactly
  * Iceberg's incremental-read behavior over overwrite snapshots): an
  * incremental consumer must fail loudly rather than silently miss
  * updates.
  *
  * At 100 TB the cost is O(touched files + delta), not O(table): a
  * key-clustered layout (range-partitioned or Z-ordered writes — both in
  * this engine) keeps touched-file counts proportional to the delta, and
  * the untouched majority is metadata-only.
  */
object Merge {

  /** Distinct-key-count threshold above which the touched-file decision
    * and the merge-on-read mask-key selection stop collecting keys to
    * the driver and distribute instead. 100 k longs ≈ 800 KB — well
    * under any driver budget — while a backfill delta (millions of
    * keys) goes straight to the distributed path. */
  val DefaultMaxDriverKeys: Int = 100000

  final case class MergeResult(snapshotId: Long, filesTouched: Int,
                               filesUntouched: Int, rowsWritten: Long)

  /** NULL-SAFE canonical surrogate for a composite merge key: each
    * component null-coalesces to an explicit sentinel BEFORE the
    * '' join, so (a, NULL) and (NULL, a) stay distinct keys —
    * `concat_ws` alone silently skips nulls and would collide them.
    * Components must not themselves contain ''/'' (control
    * characters no real PK domain carries). */
  def compositeKey(components: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
    concat_ws("",
      components.map(c => coalesce(c.cast("string"), lit(""))): _*)

  /** Upsert `delta` into the snapshot table at `tableDir` by equality on
    * `keyCol` (delta wins on match; unmatched delta rows insert). The
    * table must have been written with `statsCol = keyCol` for pruning
    * to engage; files without stats are conservatively treated as
    * touched. */
  def upsert(spark: SparkSession, tableDir: String, delta: DataFrame,
             keyCol: String): MergeResult =
    applyChanges(spark, tableDir, delta, keyCol, deleteCol = None)

  /** The hidden ROW-LINEAGE column a `lineage = true` COW merge stamps:
    * each row's last-updated snapshot id (the Iceberg v3
    * `_last_updated_sequence_number` role). Carried-forward rows KEEP
    * their old value through the rewrite — that is exactly what lets
    * [[SnapshotLog.changes]] tell changed rows from carried copies
    * inside the same added files, making row-level change feeds
    * derivable across copy-on-write commits (which are otherwise
    * opaque: added files mix changed and carried rows). Rows from
    * pre-lineage files stamp their file's commit seq at the first
    * lineage merge. [[SnapshotLog.read]] hides the column. */
  val LineageCol = "_graft_updated_seq"

  /** The delta's distinct keys in the PROBE DOMAIN ([[probeKeyExpr]]:
    * the manifest zones' long domains; xxhash64 for string/UUID keys),
    * split into a physical strategy by size: Left(sorted driver array)
    * when ≤ maxDriverKeys (probed with one limit-bounded collect — no
    * count job), Right(distinct-key frame, eagerly checkpointed for its
    * multiple consumers) beyond. */
  private def keySet(delta: DataFrame, keyCol: String,
                     maxDriverKeys: Int): Either[Array[Long], DataFrame] = {
    val keyDf = delta.select(probeKeyExpr(delta, keyCol).as("k")).distinct()
    val rows = keyDf.limit(maxDriverKeys + 1).collect()
    // a NULL merge key has no defined merge semantics (equality never
    // matches it; pruning cannot see it) — refuse with a clear message
    // instead of the opaque NPE getLong would throw mid-merge
    require(!rows.exists(_.isNullAt(0)),
      s"merge delta contains NULL values in key column '$keyCol' — " +
        "filter or repair null-keyed rows before merging")
    val probe = rows.map(_.getLong(0))
    if (probe.length <= maxDriverKeys) Left(probe.sorted)
    else Right(keyDf.localCheckpoint(true))
  }

  /** The probe-domain key expression (r15): the SAME long domain the
    * manifest ZONES record ([[SnapshotLog]]'s writer domains) —
    * numerics cast, dates epoch DAYS, timestamps epoch MICROS, strings
    * xxhash64. The legacy `cast(col AS long)` read SECONDS for
    * timestamps and refused dates at analysis, so a temporal-keyed
    * merge either failed outright (date) or probed zones cross-domain
    * (timestamp: seconds against micro zones — present keys wrongly
    * classified as pure inserts, silently lost deletes once the key
    * column carried stats). */
  private def probeKeyExpr(df: DataFrame, keyCol: String): Column = {
    import org.apache.spark.sql.types._
    df.schema(keyCol).dataType match {
      case StringType => xxhash64(col(keyCol))
      case DateType =>
        datediff(col(keyCol), to_date(lit("1970-01-01"))).cast("long")
      case TimestampType => unix_micros(col(keyCol))
      case _ => col(keyCol).cast("long")
    }
  }

  /** Temporal keys never probe manifest BLOOMs: blooms are built in
    * [[SnapshotLog.keyAsLong]]'s cast domain (epoch seconds for
    * timestamps; dates cannot build one at all), not the zone domain
    * the probe keys carry — a cross-domain bloom probe would report
    * false negatives and silently lose rows. Zone probes stay on (the
    * zone domain IS the probe domain). */
  private def temporalKey(df: DataFrame, keyCol: String): Boolean = {
    import org.apache.spark.sql.types._
    df.schema(keyCol).dataType match {
      case DateType | TimestampType => true
      case _ => false
    }
  }

  /** Cap on driver-side (file × key) bloom probes: past this the driver
    * path skips bloom refinement (zone-only — still correct, less
    * pruned) rather than burn seconds single-threaded; the distributed
    * path has no such cap. */
  private val MaxDriverBloomProbes = 5000000L

  /** Does any key of the sorted array fall inside [mn, mx]? */
  private def hits(keys: Array[Long], mn: Long, mx: Long): Boolean = {
    val i = java.util.Arrays.binarySearch(keys, mn)
    val from = if (i >= 0) i else -i - 1
    from < keys.length && keys(from) <= mx
  }

  /** Does this file carry ANY pruning metadata for the merge key — a
    * zone (long keys) or a bloom (either; the only index string keys
    * get)? Files with neither are unprunable: always touched. */
  private def prunable(f: SnapshotLog.DataFile, keyCol: String): Boolean =
    f.stats.contains(keyCol) || f.blooms.contains(keyCol)

  /** Broadcastable metadata frame of the prunable live files:
    * (idx, mn, mx, bloom) — the file's manifest key-column zone (null
    * for string keys, which record no long zone) plus its manifest
    * bloom when one was written. Thousands of rows at 100 TB:
    * metadata, not data. */
  private def fileStatsDf(spark: SparkSession, keyCol: String,
                          stated: Seq[SnapshotLog.DataFile],
                          useBloom: Boolean = true): DataFrame = {
    import spark.implicits._
    stated.zipWithIndex.map { case (f, i) =>
      val zone = f.stats.get(keyCol)
      (i, zone.map(_._1), zone.map(_._2),
        f.blooms.get(keyCol).filter(_ => useBloom)
          .map(java.util.Base64.getDecoder.decode).orNull)
    }.toDF("idx", "mn", "mx", "bloom")
  }

  /** The shared probe condition over a [[fileStatsDf]] row: a missing
    * zone passes (strings, or no stats recorded), a present zone must
    * contain the key; a missing bloom passes, a present one must report
    * a possible hit. */
  private def probeCond(k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (col("mn").isNull || (k >= col("mn") && k <= col("mx"))) &&
      (col("bloom").isNull || graft.functions.GraftFunctions
        .bloom_might_contain(col("bloom"), k, SnapshotLog.BloomHashes))

  /** Driver-side twin of [[probeCond]] for one file against the sorted
    * key array (bloom skipped when over the probe budget). */
  private def driverKeeps(f: SnapshotLog.DataFile, keyCol: String,
                          arr: Array[Long], bloomBudget: Boolean,
                          useBloom: Boolean = true): Boolean = {
    val zoneOk = f.stats.get(keyCol) match {
      case Some((mn, mx)) => hits(arr, mn, mx)
      case None => true
    }
    zoneOk && (f.blooms.get(keyCol) match {
      case Some(b64) if bloomBudget && useBloom =>
        val bytes = java.util.Base64.getDecoder.decode(b64)
        arr.exists(graft.functions.BloomFilterOps
          .mightContain(bytes, _, SnapshotLog.BloomHashes))
      case _ => true
    })
  }

  /** Partition `live` into (touched, untouched) by the delta key set.
    * Driver path: binary-search each file's zone against the sorted
    * array, then bloom-refine within the probe budget. Distributed path
    * (the large-delta escalation the COW docstring promises): broadcast
    * the per-file metadata against the key frame as one join on
    * zone ∧ bloom (`bloom_might_contain` has no false negatives, so
    * refinement can only skip, never lose), and collect just the
    * touched file INDICES — bounded by file count, never by delta size.
    * String keys probe by xxhash64 against bloom-only metadata (no long
    * zone exists — mn/mx null passes); files with neither zone nor
    * bloom are conservatively touched on both paths. */
  private def touchedFiles(spark: SparkSession, keyCol: String,
                           live: Seq[SnapshotLog.DataFile],
                           keys: Either[Array[Long], DataFrame],
                           useBloom: Boolean = true)
      : (Seq[SnapshotLog.DataFile], Seq[SnapshotLog.DataFile]) = {
    val (stated, unstated) = live.partition(prunable(_, keyCol))
    keys match {
      case Left(arr) =>
        val budget = arr.length.toLong * stated.size <= MaxDriverBloomProbes
        val (t, u) = stated.partition(
          driverKeeps(_, keyCol, arr, budget, useBloom))
        (unstated ++ t, u)
      case Right(keyDf) =>
        val hit = keyDf
          .join(broadcast(fileStatsDf(spark, keyCol, stated, useBloom)),
            probeCond(col("k")))
          .select(col("idx")).distinct()
          .collect().map(_.getInt(0)).toSet
        val (t, u) = stated.zipWithIndex.partition { case (_, i) => hit(i) }
        (unstated ++ t.map(_._1), u.map(_._1))
    }
  }

  private def sameShape(a: StructType, b: StructType): Boolean =
    a.fields.length == b.fields.length &&
      a.fields.map(f => f.name -> f.dataType).toMap ==
        b.fields.map(f => f.name -> f.dataType).toMap

  /** The full CDC form: rows of `delta` where `deleteCol` is true are
    * TOMBSTONES — their keys are removed instead of upserted (Debezium's
    * `drop.tombstones=false` wire semantics, applied at the storage
    * layer). Delete keys participate in pruning like any other key (a
    * delete must touch the file holding its row), but contribute no
    * output row. The caller resolves the delta to latest-per-key first —
    * a re-insert after a delete therefore arrives as a plain upsert.
    * The delta and `keyCol` speak the table's LOGICAL names. */
  def applyChanges(spark: SparkSession, tableDir: String, delta: DataFrame,
                   keyCol: String, deleteCol: Option[String],
                   maxDriverKeys: Int = DefaultMaxDriverKeys,
                   lineage: Boolean = false): MergeResult = {
    // PIN the snapshot this merge derives from: reading "latest" twice
    // (once for the file list, once for the commit id) would let a
    // commit land in between and defeat both the optimistic-concurrency
    // check and the pendingMasks guard below — e.g. a racing
    // mergeOnRead's mask (seq N+1) would silently stop applying to
    // files this rewrite re-stamps at N+2, resurrecting deleted rows.
    // With the pinned pair an interleaved commit is either proven
    // compatible and REBASED over (commitPinned's guard below) or
    // throws — never silently merged.
    val baseId = SnapshotLog.currentSnapshotId(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"cannot merge into empty table $tableDir"))
    val intendedId = baseId + 1
    val (allFiles, reg0) = SnapshotLog.stateAt(spark, tableDir, Some(baseId))
    // renamed/dropped tables merge in PHYSICAL space end to end: the
    // caller's logical delta translates once here, and from then on the
    // raw file reads, manifest key zones, mask files and the rewritten
    // output all share one coordinate system — a rename stays
    // metadata-only even under a COW merge
    val reg = reg0.filterNot(_.isIdentity)
    val delta0 = reg.map(_.toPhysical(delta)).getOrElse(delta)
    val keyColP = reg.flatMap(_.physicalOf(keyCol)).getOrElse(keyCol)
    val (pendingMasks, live) = allFiles.partition(SnapshotLog.isMask)
    // a COW rewrite reads touched files RAW and re-stamps their rows with
    // a fresh seq — pending equality masks would stop applying to the
    // rewritten copies, and pending POSITION masks would keep pointing
    // at removed files (deleted rows resurrect either way). Refuse the
    // mix loudly; the caller materializes first or stays on merge-on-read.
    require(pendingMasks.isEmpty,
      s"table $tableDir has ${pendingMasks.size} pending delete mask file(s); " +
        "run materializeDeletes before a copy-on-write merge, or use mergeOnRead")
    require(live.nonEmpty, s"cannot merge into empty table $tableDir")
    val keys = keySet(delta0, keyColP, maxDriverKeys)
    val nKeys = keys.fold(_.length.toLong, _.count())
    val useBloom = !temporalKey(delta0, keyColP)
    val (touched, untouched) = touchedFiles(spark, keyColP, live, keys, useBloom)
    // tombstones drop out of the written rows; their keys still anti-join.
    // A NULL flag is NOT a delete (`!NULL` is NULL, which a bare filter
    // silently drops — the row's key would anti-join its old version
    // away with no replacement): coalesce to false so nullable CDC flag
    // columns mean "not deleted" on null, the only safe reading.
    val upserts0 = deleteCol.fold(delta0)(dc =>
      delta0.filter(!coalesce(col(dc), lit(false))).drop(dc))
    val upserts =
      if (lineage) upserts0.withColumn(LineageCol, lit(intendedId))
      else upserts0
    val merged =
      if (touched.isEmpty) upserts
      else {
        // touched files may themselves span SCHEMA EPOCHS (a drift merge
        // leaves old-schema files live by reference): the epoch-safe
        // read scans them under their merged schema — one raw
        // multi-path relation would infer a single file's schema and
        // silently null the other epoch's drifted columns
        val touchedDf =
          if (lineage) readTouchedLineage(spark, touched)
          else SnapshotLog.readEpochSafe(spark, touched)
        val survivors = touchedDf
          .join(delta0.select(col(keyColP)).distinct(), Seq(keyColP), "left_anti")
        if (sameShape(survivors.schema, upserts.schema))
          survivors.unionByName(upserts)
        // drifted delta: LUB-cast both sides, null-fill additions on the
        // carried rows; off-lattice drift throws HERE, before any write
        else graft.schema.Evolution.mergeEpochs(Seq(survivors, upserts))
      }
    // string keys get a manifest bloom instead of the (impossible) long
    // zone, so the NEXT merge prunes these files too
    val written = SnapshotLog.writeData(merged, tableDir, statsCol = Some(keyColP),
      bloomCol = Some(keyColP).filter(_ => isStringKey(delta0, keyColP)),
      rawPhysical = true)
    // a lost id race rebases when every interleaved commit is provably
    // indifferent to this merge: an appended file conflicts only when
    // its key zone/bloom may hold one of the DELTA's keys (rows the
    // anti-join should have consumed) — the same metadata decision that
    // picked `touched`. Lineage merges stamped intendedId into rows, so
    // they refuse any other id.
    val guard = SnapshotLog.ConflictGuard(
      mayReadAdded = Some(fs =>
        touchedFiles(spark, keyColP, fs, keys, useBloom)._1),
      idStamped = lineage)
    val id = SnapshotLog.commitPinned(spark, tableDir, baseId, "upsert", written,
      removed = touched.map(_.path),
      summary = Map("key" -> keyColP, "delta_keys" -> nKeys.toString,
        "files_touched" -> touched.size.toString,
        "files_untouched" -> untouched.size.toString) ++
        (if (lineage) Map("lineage" -> "true") else Map.empty),
      guard = guard)
    MergeResult(id, touched.size, untouched.size, written.map(_.rows).sum)
  }

  /** Partition `live` by whether a file MAY hold any of `keys` (a
    * one-column frame in the key's ORIGINAL domain; nulls never match
    * equality and are dropped) — the [[touchedFiles]] zone-∧-bloom
    * decision exposed for callers that assemble their own rewrite (the
    * SQL MERGE face). Same driver/distributed escalation as
    * [[applyChanges]]. */
  private[graft] def pruneTouched(spark: SparkSession, keyCol: String,
                                  live: Seq[SnapshotLog.DataFile], keys: DataFrame,
                                  maxDriverKeys: Int = DefaultMaxDriverKeys)
      : (Seq[SnapshotLog.DataFile], Seq[SnapshotLog.DataFile]) = {
    val c = keys.columns.head
    touchedFiles(spark, keyCol, live,
      keySet(keys.filter(col(c).isNotNull), c, maxDriverKeys),
      useBloom = !temporalKey(keys, c))
  }

  /** The touched files with row lineage resolved: rows keep their
    * existing [[LineageCol]] where one was stamped, and rows from
    * pre-lineage files adopt their file's commit seq (the best lower
    * bound the metadata has). Each seq group reads under the groups'
    * merged schema, like the plain epoch-safe read, and the groups meet
    * in one union. Package-visible: the SQL DML face routes its
    * copy-on-write rewrites through the same lineage-preserving read. */
  private[graft] def readTouchedLineage(spark: SparkSession,
                                 touched: Seq[SnapshotLog.DataFile]): DataFrame = {
    val groups = SnapshotLog.epochGroups(spark, touched)
    val merged = SnapshotLog.mergedOf(groups.map(_._1))
    groups.map { case (_, fs) =>
      val df = SnapshotLog.readAs(spark, merged, fs)
      val seq = lit(fs.head.seq)
      if (df.columns.contains(LineageCol))
        df.withColumn(LineageCol, coalesce(col(LineageCol), seq))
      else df.withColumn(LineageCol, seq)
    }.reduce(_ unionByName _)
  }

  private def isStringKey(df: DataFrame, keyCol: String): Boolean =
    df.schema(keyCol).dataType == org.apache.spark.sql.types.StringType

  final case class MorResult(snapshotId: Long, dataFiles: Int,
                             deleteEntries: Long, rowsWritten: Long)

  /** MERGE-ON-READ upsert — the write-optimized twin of [[applyChanges]]
    * (Iceberg v2 equality deletes / Delta deletion-vector school, both
    * published designs). Where copy-on-write REWRITES every touched data
    * file, merge-on-read writes only:
    *
    *  1. the delta's surviving rows as new data files (op rows), and
    *  2. ONE equality-delete file listing the delta keys that might
    *     exist in current data — each masks all older-seq rows with
    *     that key at read time.
    *
    * The commit is op=`rowdelta`: write cost is O(delta) regardless of
    * table size — at 100 TB a 1000-row CDC batch costs 1000 rows + a
    * KB-scale key file, vs COW's rewrite of every key-intersecting data
    * file. The price moves to reads (a broadcast-hash mask join per
    * scan, see [[SnapshotLog.applyMasks]]) until
    * [[materializeDeletes]] folds the masks back into clustered data —
    * the classic write-amplification/read-amplification trade, chosen
    * per table by update rate.
    *
    * Manifest key stats still engage, on the WRITE side: delta keys
    * provably outside every live data file's key zone are pure inserts
    * and get NO delete entry — steady-state append-mostly tables accrue
    * almost no mask debt. Past [[DefaultMaxDriverKeys]]
    * distinct keys that selection runs as a distributed semi-join
    * against the broadcast file intervals (+ manifest blooms) instead
    * of a driver array. Tombstoned rows (`deleteCol` true) contribute
    * only their mask. The caller resolves the delta to latest-per-key
    * first, exactly as for [[applyChanges]].
    *
    * A drifted delta schema simply becomes the new epoch's file schema —
    * the read path merges epochs through the Evolution lattice — but
    * off-lattice drift is validated HERE (one footer read per distinct
    * epoch, driver-side) so the pipeline stops at write time, not at
    * some later reader. */
  def mergeOnRead(spark: SparkSession, tableDir: String, delta: DataFrame,
                  keyCol: String, deleteCol: Option[String] = None,
                  summary: Map[String, String] = Map.empty,
                  maxDriverKeys: Int = DefaultMaxDriverKeys,
                  maxRetries: Int = 5): MorResult = {
    val (allFiles0, mreg0) = SnapshotLog.stateAt(spark, tableDir)
    val live0 = allFiles0.filter(_.kind == "data")
    require(live0.nonEmpty, s"cannot merge into empty table $tableDir")
    // physical-space adapter — same reasoning as applyChanges: one
    // translation at entry, physical names everywhere after
    val mreg = mreg0.filterNot(_.isIdentity)
    val delta0 = mreg.map(_.toPhysical(delta)).getOrElse(delta)
    val keyColP = mreg.flatMap(_.physicalOf(keyCol)).getOrElse(keyCol)
    // NULL delete flags read as "not deleted" — see applyChanges
    val upserts = deleteCol.fold(delta0)(dc =>
        delta0.filter(!coalesce(col(dc), lit(false))).drop(dc))
      .localCheckpoint(true) // consumed twice: emptiness probe + write
    // off-lattice drift fails the WRITE: cheap fast path (one footer)
    // when nothing drifted, full per-epoch validation when it did
    val headSchema = GraftParquetSchema.schemaOf(spark, live0.head.path)
    if (!sameShape(headSchema, upserts.schema)) {
      val epochSchemas = SnapshotLog.epochGroups(spark, live0).map(_._1)
      graft.schema.Evolution.mergedSchema(epochSchemas :+ upserts.schema)
    }
    val keys = keySet(delta0, keyColP, maxDriverKeys)
    val nKeys = keys.fold(_.length.toLong, _.count())
    // the delta's data files are immutable and state-independent — write
    // them ONCE, outside the retry loop. An all-tombstone delta writes NO
    // data files (parquet emits no part files for an empty frame, and the
    // stats read-back would fail); the commit then carries only the mask.
    val keyBloom = Some(keyColP).filter(_ => isStringKey(delta0, keyColP))
    val dataFiles =
      if (upserts.isEmpty) Seq.empty[SnapshotLog.DataFile]
      else SnapshotLog.writeData(upserts, tableDir, statsCol = Some(keyColP),
        bloomCol = keyBloom, rawPhysical = true)

    // the delta keys that MIGHT exist in `live` data (mask entries); pure
    // inserts — provably outside every file's zone ∧ bloom — get none
    val useBloom = !temporalKey(delta0, keyColP)
    def maskKeyDf(live: Seq[SnapshotLog.DataFile]): DataFrame = {
      val stated = live.filter(prunable(_, keyColP))
      val unstated = live.size > stated.size
      keys match {
        case Left(arr) =>
          import spark.implicits._
          val masks =
            if (unstated) arr.toSeq
            else {
              // per-FILE probe structures built once (each 4 KB bloom
              // decodes once, not once per key), then every key tests
              // zone ∧ bloom
              val budget = arr.length.toLong * stated.size <= MaxDriverBloomProbes
              val probes = stated.map(f => (f.stats.get(keyColP),
                f.blooms.get(keyColP).filter(_ => budget && useBloom)
                  .map(java.util.Base64.getDecoder.decode)))
              arr.toSeq.filter(k => probes.exists { case (zone, bloom) =>
                zone.forall { case (mn, mx) => k >= mn && k <= mx } &&
                  bloom.forall(graft.functions.BloomFilterOps
                    .mightContain(_, k, SnapshotLog.BloomHashes))
              })
            }
          masks.toDF("k")
        case Right(keyDf) =>
          if (unstated) keyDf
          else keyDf.join(
              broadcast(fileStatsDf(spark, keyColP, stated, useBloom)),
              probeCond(col("k")), "left_semi")
      }
    }

    // Optimistic-concurrency retry with RE-DERIVATION (the Iceberg
    // revalidate-and-reapply school): losing the id race means another
    // commit landed, and a key that looked like a pure insert against the
    // old state may now exist — so the MASK SELECTION recomputes against
    // the new head before every re-commit, while the already-written data
    // files are reused as-is. A superseded attempt's mask file becomes an
    // unreferenced orphan (the grace-gated expire sweep reclaims it).
    var attempt = 0
    while (true) {
      val live = if (attempt == 0) live0
        else SnapshotLog.filesAt(spark, tableDir).filter(_.kind == "data")
      // (metadata keys stay physical — keyColP probes them directly)
      // the mask frame's column renames away from "k" before the join:
      // a table whose key column is ITSELF named `k` would otherwise
      // make the join condition ambiguous
      val mk = maskKeyDf(live).toDF("_graft_mk")
      val keyProj = delta0.select(col(keyColP)).distinct()
      val delFiles =
        if (mk.isEmpty) Seq.empty
        else SnapshotLog.writeData(
          keyProj
            .join(mk, probeKeyExpr(keyProj, keyColP) === col("_graft_mk"),
              "left_semi")
            .coalesce(1),
          tableDir, statsCol = Some(keyColP), kind = "eqdelete",
          bloomCol = keyBloom, rawPhysical = true)
      val maskEntries = delFiles.map(_.rows).sum
      try {
        val id = SnapshotLog.commit(spark, tableDir, "rowdelta",
          dataFiles ++ delFiles,
          summary = summary ++ Map("key" -> keyColP,
            "delta_keys" -> nKeys.toString,
            "delete_entries" -> maskEntries.toString,
            "insert_only_keys" -> (nKeys - maskEntries).toString))
        return MorResult(id, dataFiles.size, maskEntries, dataFiles.map(_.rows).sum)
      } catch {
        case e: SnapshotLog.ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** POSITIONAL merge-on-read DELETE — the deletion-vector path (Iceberg
    * position deletes / Delta deletion vectors, both published designs):
    * ONE scan locates the matching rows' (file path, row ordinal) pairs
    * and commits them as a `posdelete` mask. Zero data files rewritten;
    * and — unlike an equality mask — later masked scans anti-join on
    * SCAN METADATA (`_metadata.file_path` + `row_index`) instead of
    * reading key columns, so WIDE or COMPOSITE keys stop paying
    * key-column reads on every read (the gap the composite-key sentinel
    * encoding left open). `cond` speaks logical names; `ranges`
    * optionally prunes the locating scan through the same manifest
    * zones the readers use ("delete last month" never scans the cold
    * years). Positions need no seq arithmetic: they name physical rows
    * of immutable files, valid exactly as long as the file is live —
    * any rewrite of a targeted file retires the mask with it (the full
    * materializing paths fold masks in and remove them atomically).
    * Returns the commit id, or None when nothing matched. */
  def deleteWhere(spark: SparkSession, tableDir: String, cond: Column,
                  ranges: Map[String, (Long, Long)] = Map.empty,
                  summary: Map[String, String] = Map.empty): Option[Long] =
    deleteWhereFn(spark, tableDir, _ => cond, ranges, summary)

  /** [[deleteWhere]] with the predicate built against the locating
    * scan's OWN frame — what a SQL front end needs to rebind analyzed
    * attribute references (the `posDeletes` table-property DELETE). */
  def deleteWhereFn(spark: SparkSession, tableDir: String,
                    cond: DataFrame => Column,
                    ranges: Map[String, (Long, Long)] = Map.empty,
                    summary: Map[String, String] = Map.empty): Option[Long] = {
    val baseId = SnapshotLog.currentSnapshotId(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(
        s"cannot delete from empty table $tableDir"))
    val (live, reg0) = SnapshotLog.stateAt(spark, tableDir, Some(baseId))
    val reg = reg0.filterNot(_.isIdentity)
    val data = live.filter(_.kind == "data")
    if (data.isEmpty) return None
    // manifest zone pruning; metadata keys are physical — translate once
    val rangesP = ranges.map { case (c, r) =>
      reg.flatMap(_.physicalOf(c)).getOrElse(c) -> r }
    val zone = Constraints(ranges = rangesP)
    val candidates = data.filter(zone.keeps)
    if (candidates.isEmpty) return None
    // cond evaluates in LOGICAL space; the recorded positions are
    // physical. Rows hidden by a PENDING mask may re-mask (a position
    // delete of an already-deleted row is a no-op) — keeping the
    // locating scan single-pass instead of mask-applied.
    val raw = SnapshotLog.readEpochSafeWithPos(spark, candidates)
    val logical = reg.map(_.toLogical(raw)).getOrElse(raw)
    val hits = logical.filter(cond(logical))
      .select(col(SnapshotLog.PosFileCol), col(SnapshotLog.PosOrdCol))
    // ONE pass: write the mask first, discard it when nothing matched —
    // an emptiness pre-probe would run the (possibly large, zone-pruned)
    // locating scan twice. A discarded zero-row file is an unreferenced
    // orphan the grace-gated sweep reclaims, the same contract as a
    // superseded merge attempt's mask. The manifest records the set of
    // files the mask names, so a read hands it only to those files.
    val written = SnapshotLog.writeData(hits.coalesce(1), tableDir,
      kind = "posdelete", partitionCols = Seq(SnapshotLog.PosFileCol),
      rawPhysical = true)
    if (written.map(_.rows).sum == 0L) return None
    // the predicate ranged over every candidate row: an interleaved
    // append inside the pruning window may hold rows this DELETE should
    // have covered (ConcurrentAppend), and a commit that removed a
    // scanned file invalidates its recorded positions. Interleaved MASK
    // additions compose (masksOnly): positions are untouched by another
    // writer's masks — exactly the streaming-sink race this path runs in.
    Some(SnapshotLog.commitPinned(spark, tableDir, baseId, "rowdelta",
      written, removed = Seq.empty,
      summary = summary ++ Map("mode" -> "posdelete",
        "pos_delete_entries" -> written.map(_.rows).sum.toString),
      guard = SnapshotLog.ConflictGuard(
        mayReadAdded = Some(fs => fs.filter(zone.keeps)),
        readPaths = candidates.map(_.path).toSet,
        masksOnly = true)))
  }

  /** Fold pending masks (equality and positional deletes) back into
    * data: rewrite the masked table clustered, drop every delete file,
    * commit as `replace` (same logical rows — invisible to
    * [[SnapshotLog.diff]] consumers, like any compaction). This is the
    * maintenance job that bounds read amplification: the [[Advisor]]
    * names it once the masked rows reach a tenth of the live rows, and
    * the read path returns to a bare pruned scan. The rewrite is key-range-clustered on the delete key by
    * default; `clusterZOrder = Seq(x, y)` instead restores a 2-D
    * Z-ORDER layout (near-square zone-map tiles on both dims, with the
    * key column's stats still recorded for merge pruning) — so MOR
    * maintenance on a Z-ordered table doesn't silently decay the layout
    * zone pruning depends on. Returns None when the table has no pending
    * deletes (no commit made). */
  def materializeDeletes(spark: SparkSession, tableDir: String,
                         targetFiles: Int = 2,
                         clusterZOrder: Seq[String] = Nil): Option[Long] = {
    require(clusterZOrder.isEmpty || clusterZOrder.size >= 2,
      s"clusterZOrder takes at least two dimensions, got $clusterZOrder")
    // pin ONE snapshot for the file list, the masked read and the
    // commit id: resolving "latest" separately for each would let a
    // concurrent rowdelta slip between them — its rows duplicated (file
    // not in `removed`) or its deletes lost (mask seq below the rewrite
    // seq). With the pinned triple an interleaved commit makes commitAt
    // throw and the maintenance run retries cleanly next cycle.
    val baseId = SnapshotLog.currentSnapshotId(spark, tableDir)
      .getOrElse(return None)
    val live = SnapshotLog.filesAt(spark, tableDir, Some(baseId))
    val (dels, data) = live.partition(SnapshotLog.isMask)
    if (dels.isEmpty) return None
    // clustering key: the equality masks' key column when any exists; a
    // posdelete-only fold has no key of its own — fall back to the data
    // files' first recorded zone column (keeps the rewrite prunable)
    val eqDels = dels.filter(_.kind == "eqdelete")
    val keyColPOpt =
      (if (eqDels.isEmpty) None else Some(SnapshotLog.maskKey(spark, eqDels).name))
        .orElse(data.flatMap(_.stats.keys).headOption)
    // the masked read exits in LOGICAL space (registry projection);
    // translate back to physical once so the mask key, the cluster
    // columns and the written footers all agree
    val reg = SnapshotLog.registryAt(spark, tableDir, Some(baseId))
      .filterNot(_.isIdentity)
    val logical = SnapshotLog.read(spark, tableDir, asOf = Some(baseId)).get
    val masked = reg.map(_.toPhysical(logical)).getOrElse(logical)
    val zOrderP = clusterZOrder.map(c =>
      reg.flatMap(_.physicalOf(c)).getOrElse(c))
    val keyColP = keyColPOpt.filter(masked.columns.contains)
    val rewritten =
      if (zOrderP.size >= 2)
        graft.cdc.Compaction.zorderArrange(masked, zOrderP, targetFiles)
      else keyColP match {
        case Some(k) => masked.repartitionByRange(targetFiles, col(k))
        case None => masked.repartition(targetFiles)
      }
    val written = SnapshotLog.writeData(rewritten, tableDir,
      statsCol = keyColP, statsCols = zOrderP,
      bloomCol = keyColP.filter(isStringKey(masked, _)),
      rawPhysical = true)
    // row-preserving rewrite of exactly its removed set: a lost race
    // rebases over interleaved appends (their files simply stay live);
    // an interleaved rowdelta's new mask still conflicts (rule 4 —
    // this rewrite's re-stamped rows would escape it)
    Some(SnapshotLog.commitPinned(spark, tableDir, baseId, "replace", written,
      removed = live.map(_.path),
      summary = Map("materialized_deletes" -> dels.map(_.rows).sum.toString)))
  }

  /** METADATA-ONLY mask compaction: fold every pending equality-delete
    * file into ONE — per-key MAX application seq, carried as an embedded
    * `_graft_del_seq` column (the file-level seq of the consolidation
    * commit must not govern application, or re-inserts landing between
    * the original masks and this rewrite would be wrongly masked; the
    * read path prefers the embedded column). Committed as `replace`
    * removing the old mask files: no logical row changes, invisible to
    * diff/changes consumers, and high-frequency CDC tables stop paying
    * one file-open per historical rowdelta commit on every scan. Data
    * files are untouched — this is the cheap maintenance step between
    * full [[materializeDeletes]] rewrites (which remain the way to
    * return reads to a bare scan). Returns None when fewer than two
    * mask files are pending. */
  def consolidateMasks(spark: SparkSession, tableDir: String): Option[Long] = {
    // pinned state + successor commit, same reasoning as
    // [[materializeDeletes]]: a racing rowdelta must fail this commit,
    // not silently escape the fold
    val baseId = SnapshotLog.currentSnapshotId(spark, tableDir)
      .getOrElse(return None)
    val dels = SnapshotLog.filesAt(spark, tableDir, Some(baseId))
      .filter(_.kind == "eqdelete")
    if (dels.size <= 1) return None
    // the fold IS applyMasks' fold — one shared definition, so the
    // write-side consolidation can never drift from read-side semantics
    val (folded0, keyCol) = SnapshotLog.foldMasks(spark, dels)
    val folded = folded0
      .coalesce(1) // mask debt is O(delta keys): KBs against a 100 TB table
    val written = SnapshotLog.writeData(folded, tableDir,
      statsCol = Some(keyCol), kind = "eqdelete",
      bloomCol = Some(keyCol).filter(_ => isStringKey(folded, keyCol)),
      rawPhysical = true)
    // masksOnly guard: application seq is EMBEDDED per key, so even an
    // interleaved rowdelta (the streaming sink — exactly the writer this
    // maintenance races in production) composes: its new mask file is
    // untouched by the fold and its data files are younger than every
    // embedded seq here. Only a commit that REMOVED one of the folded
    // masks (a racing materialization/consolidation) conflicts.
    Some(SnapshotLog.commitPinned(spark, tableDir, baseId, "replace", written,
      removed = dels.map(_.path),
      summary = Map("consolidated_masks" -> dels.size.toString,
        "mask_entries" -> written.map(_.rows).sum.toString),
      guard = SnapshotLog.ConflictGuard(masksOnly = true)))
  }
}
