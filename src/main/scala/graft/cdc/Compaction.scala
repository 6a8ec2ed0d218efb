package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Warehouse small-file compaction — the maintenance job the reference's
  * layout implies but never runs. The reference forces ONE file per table
  * per sync (`coalesce(1)`, `glue-jobs/kafka_to_s3_enhanced.py:203`): at a
  * 5-minute cadence that is 288 files/table/day, and a year of syncs makes
  * every reader list and open ~100k tiny files — the classic small-files
  * death at scale (NameNode/S3-listing pressure, per-file open cost,
  * row-group fragmentation). This job rewrites a table directory to
  * size-targeted files and swaps it in, so ingest stays latency-shaped
  * while readers see scan-shaped files.
  *
  * Safety: the rewrite goes to a sibling temp dir; the swap happens ONLY
  * after the rewritten copy's row count equals the source's (cheap
  * metadata-backed parquet count). The swap is two renames (old → .bak,
  * tmp → live) with the .bak removed last — a crash between renames
  * leaves either the original or a complete compacted copy plus a .bak to
  * recover from, never a half-written live dir. Readers racing the swap
  * see the old or the new listing, both complete (same contract as any
  * directory-swap compaction; a table format's atomic commit is the
  * production upgrade path).
  *
  * Scale posture: the rewrite is one distributed pass (scan →
  * repartition(ceil(bytes/target)) → write); nothing is collected. For a
  * `sync_date`-partitioned layout the same call compacts WITHIN each
  * partition dir (partitionBy on rewrite), so daily partitions compact
  * independently and pruning is preserved.
  */
object Compaction {

  case class CompactionResult(table: String, filesBefore: Int, filesAfter: Int,
                              rows: Long, bytes: Long)

  private def dataFiles(spark: SparkSession, dir: Path): Seq[(Path, Long)] = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else {
      val it = fs.listFiles(dir, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Path, Long)]
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (f.isFile && !name.startsWith("_") && !name.startsWith("."))
          buf += ((f.getPath, f.getLen))
      }
      buf.toSeq
    }
  }

  /** Compact `warehouseDir/<table>_parquet` to ~`targetBytes` files.
    * No-op (returns the current stats) when the layout is already at or
    * under the target file count. A snapshot-tracked table (one with a
    * `_graft_log`) compacts through [[compactSnapshotted]]'s atomic
    * `replace` commit; the directory-swap path below is kept only for the
    * reference-parity flat layout. */
  def compact(spark: SparkSession, warehouseDir: String, table: String,
              targetBytes: Long = 128L * 1024 * 1024): CompactionResult = {
    val live = new Path(s"$warehouseDir/${table}_parquet")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(live, "_graft_log")))
      return compactSnapshotted(spark, warehouseDir, table, targetBytes)
    val files = dataFiles(spark, live)
    // A healthy table whose first sync had an empty delta never creates the
    // dir (or leaves it fileless) — nothing to do, and spark.read on it
    // would throw, aborting the whole pipeline run.
    if (files.isEmpty) return CompactionResult(table, 0, 0, 0L, 0L)
    val totalBytes = files.map(_._2).sum
    val targetFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    if (files.size <= targetFiles)
      return CompactionResult(table, files.size, files.size,
        spark.read.parquet(live.toString).count(), totalBytes)

    val df = spark.read.parquet(live.toString)
    val partitioned = df.columns.contains("sync_date")
    val tmp = new Path(s"$warehouseDir/${table}_parquet.compact.tmp")
    val bak = new Path(s"$warehouseDir/${table}_parquet.compact.bak")
    fs.delete(tmp, true); fs.delete(bak, true)
    val writer = df.repartition(targetFiles).write.mode("overwrite")
    (if (partitioned) writer.partitionBy("sync_date") else writer)
      .parquet(tmp.toString)

    // swap only if the copy is provably complete
    val (nOld, nNew) = (df.count(), spark.read.parquet(tmp.toString).count())
    require(nNew == nOld,
      s"compaction row-count mismatch for $table: $nOld -> $nNew; keeping original")
    // Concurrent-WRITER guard: a file appended to the live dir after the
    // initial listing would be swept into .bak and deleted — silent loss.
    // Re-list immediately before the swap and abort if the set moved; the
    // caller retries on the next maintenance run. (Racing READERS are safe
    // per the swap contract above; racing writers must not overlap a
    // compaction window — PipelineRunner sequences compaction after
    // syncAll for exactly this reason.)
    val relisted = dataFiles(spark, live).map { case (p, len) => (p.toString, len) }.toSet
    require(relisted == files.map { case (p, len) => (p.toString, len) }.toSet,
      s"compaction aborted for $table: live dir changed during rewrite (concurrent writer)")
    require(fs.rename(live, bak), s"compaction swap: could not move live dir aside")
    require(fs.rename(tmp, live), s"compaction swap: could not install compacted dir")
    fs.delete(bak, true)
    val after = dataFiles(spark, live)
    CompactionResult(table, files.size, after.size, nNew, after.map(_._2).sum)
  }

  /** Snapshot-protocol compaction — the production upgrade the swap-path
    * docstring promises: rewrite the CURRENT snapshot's file set to
    * size-targeted files staged under a fresh data dir, then publish one
    * atomic `replace` manifest (adds the rewritten files, removes the
    * originals). No live directory is ever touched:
    *  - readers pinned to ANY snapshot keep their exact file list —
    *    there is no swap window at all, and time travel to pre-compaction
    *    snapshots still works until [[graft.table.SnapshotLog
    *    .expireSnapshots]] reclaims them;
    *  - incremental consumers ([[graft.table.SnapshotLog.diff]]) skip the
    *    `replace` commit entirely — maintenance is invisible downstream;
    *  - a concurrent sync cannot lose data: both writers race for the
    *    next manifest id and the loser throws
    *    [[graft.table.SnapshotLog.ConcurrentCommitException]] — the
    *    optimistic-concurrency replacement for the flat path's re-list
    *    guard.
    * The row-count equality check still gates the commit, and per-file
    * offset stats are recomputed for the rewritten files so manifest
    * pruning survives compaction. */
  /** `clusterBy`: also CLUSTER the rewrite by that column —
    * range-partition + sort-within, so the rewritten files carry
    * DISJOINT [min,max] stats intervals in the manifest. Ingest-ordered
    * appends overlap on the merge/range key (every file spans most of
    * the key space), which slowly degrades [[graft.table.Merge]]'s and
    * `readRange`'s pruning to "touch everything"; clustering during the
    * compaction the table needs anyway restores pruning to
    * one-file-per-key-range — the same reason lakehouse OPTIMIZE takes a
    * cluster/Z-order spec. */
  def compactSnapshotted(spark: SparkSession, warehouseDir: String, table: String,
                         targetBytes: Long = 128L * 1024 * 1024,
                         clusterBy: Option[String] = None,
                         clusterZOrder: Seq[String] = Nil): CompactionResult =
    compactDir(spark, s"$warehouseDir/${table}_parquet", targetBytes,
      clusterBy, clusterZOrder, label = table)

  /** [[compactSnapshotted]] addressed by table DIRECTORY instead of a
    * warehouse/table pair — the entry point the SQL `OPTIMIZE` command
    * uses, where the target is a catalog table's path or a quoted
    * location. Identical semantics; `label` only names the result.
    *
    * `scope`: restrict the BIN-PACK candidate set to files this predicate
    * keeps (manifest zones/blooms/partition values — the `OPTIMIZE …
    * WHERE` face): at warehouse scale "compact the hot partition" must
    * not pay for the cold petabytes even in candidate listing. Scoping
    * composes only with the bin-pack path — a scoped CLUSTER/Z-order
    * rewrite or mask materialization would split one logical layout/mask
    * fold across commits, so those refuse. */
  def compactDir(spark: SparkSession, dir: String,
                 targetBytes: Long = 128L * 1024 * 1024,
                 clusterBy: Option[String] = None,
                 clusterZOrder: Seq[String] = Nil,
                 label: String = "",
                 scope: Option[graft.table.SnapshotLog.DataFile => Boolean] = None)
      : CompactionResult = {
    import graft.table.SnapshotLog
    val table = if (label.nonEmpty) label else dir
    require(clusterZOrder.isEmpty || clusterZOrder.size >= 2,
      s"clusterZOrder takes at least two dimensions, got $clusterZOrder")
    require(clusterBy.isEmpty || clusterZOrder.isEmpty,
      "clusterBy and clusterZOrder are mutually exclusive")
    require(scope.isEmpty || (clusterBy.isEmpty && clusterZOrder.isEmpty),
      "a scoped (WHERE) compaction is bin-pack only: a predicate-sliced " +
        "CLUSTER/Z-order rewrite would fracture one logical layout")
    // pin the snapshot this rewrite derives from and commit at exactly
    // its successor: resolving "latest" again at commit time would let
    // a concurrent commit slip in between — a racing rowdelta's rows
    // would duplicate (its file absent from `removed`) or its deletes
    // resurrect (mask seq below the rewrite's). An interleaved commit
    // now throws ConcurrentCommitException; the maintenance cron
    // retries next cycle.
    val baseId = SnapshotLog.currentSnapshotId(spark, dir).getOrElse(
      return CompactionResult(table, 0, 0, 0L, 0L))
    val (files, reg0) = SnapshotLog.stateAt(spark, dir, Some(baseId))
    if (files.isEmpty) return CompactionResult(table, 0, 0, 0L, 0L)
    // a LIVE (non-identity) field registry routes through the FULL
    // materializing rewrite: logical names get written into fresh files
    // and the commit carries the RESET (identity) registry — the one
    // road back to the connector fast path after RENAME/DROP COLUMN
    val reg = reg0.filterNot(_.isIdentity)
    require(scope.isEmpty || reg.isEmpty,
      s"a scoped (WHERE) compaction refuses tables with a live column " +
        "mapping (renamed/dropped columns pending materialization): the " +
        "rewrite must cover every file to reset the registry — run an " +
        "unscoped OPTIMIZE first")
    val (delFiles, dataFiles) = files.partition(SnapshotLog.isMask)
    val totalBytes = dataFiles.map(_.bytes).sum
    val targetFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    if (clusterBy.isEmpty && clusterZOrder.isEmpty && reg.isEmpty &&
        delFiles.isEmpty && dataFiles.size <= targetFiles)
      return CompactionResult(table, files.size, files.size,
        dataFiles.map(_.rows).sum, totalBytes)
    // Pure small-file debt (no clustering asked, no pending masks) BIN-
    // PACKS: only files under half the target rewrite, grouped into
    // ~target-sized bins; right-sized files carry forward BY REFERENCE
    // (paths survive the commit identically). Once a table holds
    // right-sized files, compaction cost scales with the DEBT, not the
    // table — at 100 TB a nightly small-file pass touches the day's sync
    // droppings, never the petabytes of already-compacted history. A
    // table still under half the target in total is all debt: its one
    // packed file stays a candidate, so every bin-pack rewrites the
    // whole table — which is why the Advisor names `compact` only at
    // five small files (Advisor.CompactMinFiles), not at two.
    // Clustering/Z-order stay full rewrites (they are about layout), and
    // masked tables stay on the full path (the rewrite is what
    // materializes the deletes).
    require(scope.isEmpty || delFiles.isEmpty,
      s"a scoped (WHERE) compaction refuses tables with pending " +
        s"equality-delete masks (${delFiles.size} here): the mask fold " +
        "spans files the predicate would exclude — run an unscoped " +
        "OPTIMIZE (or materializeDeletes) first")
    if (clusterBy.isEmpty && clusterZOrder.isEmpty && delFiles.isEmpty &&
        reg.isEmpty)
      return binPack(spark, table, dir, files, dataFiles, targetBytes, totalBytes,
        baseId, scope.getOrElse(_ => true))

    // merge-on-read tables compact through the masked read — the rewrite
    // MATERIALIZES pending equality deletes, so the replace commit also
    // retires the delete files (read amplification returns to zero).
    // Maskless tables read EPOCH-SAFELY: drifted schemas merge through
    // the Evolution lattice instead of a raw multi-path read silently
    // nulling the other epoch's columns (the clustering rewrite then
    // MATERIALIZES the widened schema — a declared-rename registry is
    // not known here, so renamed columns stay separate; lossless)
    val df =
      if (delFiles.isEmpty && reg.isEmpty)
        SnapshotLog.readEpochSafe(spark, dataFiles)
      // masked and/or registry tables rewrite THROUGH the full read:
      // masks materialize, renamed columns materialize under their
      // logical names, dropped columns' bytes are finally reclaimed
      else SnapshotLog.read(spark, dir, asOf = Some(baseId)).get
    val nOld =
      if (delFiles.isEmpty) dataFiles.map(_.rows).sum
      else df.count() // masked logical count — manifests alone can't know it
    val hasOffset = df.columns.contains("kafka_offset")
    // the DECLARED bucket layout (durable bucketCol/bucketCount props —
    // the declaration, resolved case-insensitively against the frame's
    // LOGICAL columns, so renames and case drift can't silently bypass
    // it) must not be lost to maintenance: an explicit clusterBy /
    // Z-order request CONFLICTS and refuses loudly; the default
    // (mask-materializing / registry-resetting) rewrite re-arranges BY
    // BUCKET so every rewritten file keeps one id and the storage-
    // partitioned-join proof survives. An UNDECLARED layout (props
    // UNSET, or the bucket column renamed away) is dead: its stale
    // manifest keys are dropped here — compaction is the garbage
    // collector that makes `UNSET TBLPROPERTIES then OPTIMIZE` the real
    // road to a re-layout.
    val bucketSpec: Option[(String, Int)] = {
      val props = SnapshotLog.tableProps(spark, dir)
      def prop(k: String) = props.collectFirst {
        case (kk, v) if kk.equalsIgnoreCase(k) => v }
      for {
        c0 <- prop("bucketCol")
        n <- prop("bucketCount").flatMap(_.toIntOption)
        c <- df.columns.find(_.equalsIgnoreCase(c0))
      } yield (c, n)
    }
    require(bucketSpec.isEmpty ||
      (clusterBy.isEmpty && clusterZOrder.isEmpty),
      s"$table is bucket-clustered (${bucketSpec.get._1} into " +
        s"${bucketSpec.get._2} buckets) — clusterBy/Z-order would destroy " +
        "the storage-partitioned-join layout; UNSET TBLPROPERTIES " +
        "('bucketCol','bucketCount') first if the re-layout is intended " +
        "(the next OPTIMIZE then retires the per-file bucket keys)")
    val arranged = (clusterBy, clusterZOrder) match {
      case (Some(c), _) =>
        df.repartitionByRange(targetFiles, col(c)).sortWithinPartitions(col(c))
      case (None, zs) if zs.nonEmpty => zorderArrange(df, zs, targetFiles)
      case _ => bucketSpec match {
        case Some((c, n)) => SnapshotLog.bucketArrange(df, c, n)
        case None => df.repartition(targetFiles)
      }
    }
    // a bucketed rewrite has exactly n partitions; target-sized FILES
    // come from the per-partition row cap instead (splitting one bucket
    // partition into several files keeps every file single-id)
    val rowCap = bucketSpec.map { _ =>
      math.max(1L, nOld * targetBytes / math.max(1L, totalBytes)) }
    val rewritten = SnapshotLog.writeData(arranged, dir,
      statsCol = clusterBy.orElse(clusterZOrder.headOption)
        .orElse(if (hasOffset) Some("kafka_offset") else None),
      statsCols = clusterZOrder,
      maxRecordsPerFile = rowCap,
      // partition-value metadata survives the rewrite (a compaction must
      // not blind readPartitions); an unclustered rewrite may mix values
      // per file — over-cap sets simply stop recording (conservative).
      // Registry tables translate the recorded (physical) keys to the
      // frame's logical names — which this rewrite then makes physical.
      // Bucket keys are NOT inherited: the declared spec re-records its
      // canonical key; undeclared (stale) keys retire with the rewrite.
      partitionCols = (dataFiles.flatMap(_.parts.keys).distinct
        .filterNot(SnapshotLog.BucketKeyPattern.matches)
        .map(c => reg.flatMap(_.logicalOf(c)).getOrElse(c)).distinct
        .filter(df.columns.contains)) ++
        bucketSpec.map { case (c, n) => SnapshotLog.bucketPartKey(n, c) },
      // the frame is in its FINAL name space (logical names become the
      // rewritten files' stored names); no further translation
      rawPhysical = true,
      // both key-clustered layouts leave every partition ascending by
      // the cluster column, and the per-file row cap splits a sorted
      // stream into sorted files — stamp the order the readers' SMJ can
      // then skip re-sorting
      sortedBy = clusterBy.orElse(bucketSpec.map(_._1)))
    val nNew = rewritten.map(_.rows).sum
    require(nNew == nOld,
      s"compaction row-count mismatch for $table: $nOld -> $nNew; not committing")
    // row-preserving rewrite: a lost race rebases over interleaved
    // appends instead of aborting the whole O(table) job — the appended
    // files stay live (merely unclustered until the next pass). A
    // registry-MATERIALIZING rewrite cannot afford that: it commits a
    // reset identity registry that must describe EVERY live file, but an
    // interleaved append's files were written in the OLD physical name
    // space (the writer read the registry before the reset) — rebasing
    // over it would leave those rows' renamed columns unmapped (read
    // back null under their logical name). So with a registry in play,
    // ANY interleaved row-bearing add conflicts, alongside any
    // schema/registry change.
    SnapshotLog.commitPinned(spark, dir, baseId, "replace", rewritten,
      removed = files.map(_.path),
      summary = Map("table" -> table, "files_before" -> files.size.toString,
        "files_after" -> rewritten.size.toString,
        "materialized_deletes" -> delFiles.map(_.rows).sum.toString) ++
        // the reset registry rides the SAME atomic commit as the rewrite:
        // either both land (fast path restored) or neither
        reg.map(r => graft.table.FieldRegistry.SummaryKey -> r.reset.toJson),
      guard = SnapshotLog.ConflictGuard(
        registrySensitive = reg.nonEmpty,
        mayReadAdded = if (reg.nonEmpty) Some(fs => fs) else None))
    CompactionResult(table, files.size, rewritten.size, nNew, rewritten.map(_.bytes).sum)
  }

  /** The bin-pack rewrite behind [[compactSnapshotted]]'s no-clustering
    * path: small files (< targetBytes/2 — see the selection comment for
    * why half-target is the O(debt) stability point) rewrite into
    * ceil(bytes/target) bins, everything else is untouched metadata.
    * Three safety properties:
    *  - files pack only WITHIN a schema class (one footer read per
    *    commit-seq group): a drifted table's epochs never union raw,
    *    where single-schema inference would silently null the other
    *    epoch's columns — they pack among themselves and stay readable
    *    through the Evolution merge;
    *  - the rewritten files RE-DERIVE the packed files' pruning
    *    metadata: the union of their zone-stat columns and their bloom
    *    column, so a merge-key zone or a string key's bloom survives
    *    the maintenance that would otherwise blind it;
    *  - one replace commit removes ONLY the packed paths, gated per
    *    class on manifest-row equality. */
  private def binPack(spark: SparkSession, table: String, dir: String,
                      files: Seq[graft.table.SnapshotLog.DataFile],
                      dataFiles: Seq[graft.table.SnapshotLog.DataFile],
                      targetBytes: Long, totalBytes: Long,
                      baseId: Long,
                      keep: graft.table.SnapshotLog.DataFile => Boolean = _ => true)
      : CompactionResult = {
    import graft.table.SnapshotLog
    val noOp = CompactionResult(table, files.size, files.size,
      dataFiles.map(_.rows).sum, totalBytes)
    // the HALF-target selection threshold is what keeps the job O(debt)
    // under ongoing ingest once the table outgrows it: packed outputs of
    // a big enough class average ABOVE half target (bins is a byte
    // ceiling), so they permanently exit the candidate set — a wider
    // threshold would re-select its own outputs and rewrite the
    // accumulated class on every run once any new small file arrived.
    // A table under half the target in total stays all debt (see
    // compactDir). Consolidating half-to-full-target files is a
    // deliberate O(table) layout job: ask for `clusterBy`.
    val small = dataFiles.filter(f => f.bytes < targetBytes / 2 && keep(f))
    if (small.size <= 1) return noOp
    val classes = graft.table.SnapshotLog.epochGroups(spark, small)
      .groupBy(_._1).toSeq.map { case (sch, gs) => sch -> gs.flatMap(_._2) }
    // the DECLARED layout (durable props) decides the packing topology:
    // declared → merge WITHIN recorded bucket ids (merging two ids into
    // one file would break the storage-partitioned-join proof);
    // undeclared → pack freely and drop stale bucket keys below (the
    // declaration is gone; its keys retire with the debt)
    val bucketDeclared: Boolean = {
      val props = SnapshotLog.tableProps(spark, dir)
      props.keys.exists(_.equalsIgnoreCase("bucketCol")) &&
        props.keys.exists(_.equalsIgnoreCase("bucketCount"))
    }
    val packed = classes.flatMap { case (_, cls0) =>
      val bucketOf: graft.table.SnapshotLog.DataFile => Option[Int] = f =>
        f.parts.collectFirst {
          case (SnapshotLog.BucketKeyPattern(_, _), Seq(one))
              if one.toIntOption.isDefined => one.toInt
        }
      val subgroups: Seq[Seq[graft.table.SnapshotLog.DataFile]] =
        if (bucketDeclared) cls0.groupBy(bucketOf).values.toSeq
        else Seq(cls0)
      subgroups.flatMap { cls =>
        val clsBytes = cls.map(_.bytes).sum
        val bins = math.max(1L, (clsBytes + targetBytes - 1) / targetBytes).toInt
        if (cls.size <= bins) None // this subgroup's debt is already paid
        else {
          val df = spark.read.parquet(cls.map(_.path): _*)
          val statKeys = cls.flatMap(_.stats.keys).distinct.filter(df.columns.contains)
          // keep the legacy first-stats slot on kafka_offset when the
          // COLUMN is present (readRange's offset pruning — even files
          // committed by pre-stats writers gain the zone here), then the
          // rest of the recorded zone columns
          val ordered =
            if (df.columns.contains("kafka_offset"))
              "kafka_offset" +: statKeys.filterNot(_ == "kafka_offset")
            else statKeys
          val bloom = cls.flatMap(_.blooms.keys).distinct
            .filter(df.columns.contains).headOption
          val partCols = cls.flatMap(_.parts.keys).distinct
            .filter {
              case SnapshotLog.BucketKeyPattern(_, inner) =>
                bucketDeclared && df.columns.contains(inner)
              case c => df.columns.contains(c)
            }
          val rewritten = SnapshotLog.writeData(df.repartition(bins), dir,
            statsCol = ordered.headOption, statsCols = ordered.drop(1),
            bloomCol = bloom, partitionCols = partCols,
            rawPhysical = true) // raw class read: names are already physical
          val (nOld, nNew) = (cls.map(_.rows).sum, rewritten.map(_.rows).sum)
          require(nNew == nOld,
            s"bin-pack row-count mismatch for $table: $nOld -> $nNew; not committing")
          Some((cls, rewritten))
        }
      }
    }
    if (packed.isEmpty) return noOp
    val removed = packed.flatMap(_._1)
    val rewritten = packed.flatMap(_._2)
    // one replace PER schema class: a commit's data files share one seq,
    // and the epoch-merging read path resolves schemas per seq group —
    // mixing two classes under one id would hand it a heterogeneous
    // group (each commit stays individually atomic; diff ignores both).
    // Ids chain from the pinned base; each class commit is a
    // row-preserving rewrite of exactly its own removed set, so a lost
    // race anywhere in the chain REBASES over compatible interleaves
    // (appends, disjoint rewrites) and only a true conflict — a foreign
    // commit touching this class's files, or a new mask whose deletes
    // the re-stamped rows would escape — aborts (the already-landed
    // class replaces stay valid — each was individually consistent).
    // "This class's files" is not enough: the chain as a whole was
    // derived from the pinned base, and only the FIRST commit to
    // actually lose a race classifies an interleave — a foreign commit
    // that removed a LATER class's files would otherwise slip past
    // (that class then commits at a free id, re-adding its rows from
    // the stale read: duplication). Every class commit therefore
    // guards the ENTIRE pinned live set minus its own removed files as
    // read paths, so any interleaved removal of ANY pinned file aborts
    // the remaining chain.
    val allPinnedPaths = dataFiles.map(_.path).toSet
    var base = baseId
    packed.foreach { case (cls, rw) =>
      base = SnapshotLog.commitPinned(spark, dir, base, "replace", rw,
        removed = cls.map(_.path),
        summary = Map("table" -> table, "bin_packed" -> cls.size.toString,
          "carried_forward" -> (dataFiles.size - cls.size).toString),
        guard = SnapshotLog.ConflictGuard(
          readPaths = allPinnedPaths -- cls.map(_.path)))
    }
    CompactionResult(table, files.size,
      files.size - removed.size + rewritten.size,
      dataFiles.map(_.rows).sum,
      totalBytes - removed.map(_.bytes).sum + rewritten.map(_.bytes).sum)
  }

  /** Z-ORDER arrangement shared by the clustering compaction and
    * [[graft.table.Merge.materializeDeletes]]: min-max-normalize both
    * dims to 8 bits (raw dims of unequal range would let the wide one
    * dominate the interleave) and range-partition + sort on the
    * codegen'd Morton value — each written file becomes a near-square
    * tile of the 2-D key space, so BOTH dims' manifest stats prune. */
  private[graft] def zorderArrange(df: org.apache.spark.sql.DataFrame,
                                   cx: String, cy: String,
                                   targetFiles: Int): org.apache.spark.sql.DataFrame =
    zorderArrange(df, Seq(cx, cy), targetFiles)

  /** N-dimensional Z-order (Morton) arrangement: each dimension buckets
    * to `bits` levels within its observed range (bits = min(8, 62/D),
    * so the interleaved value stays in one long — 8 bits through 7
    * dims, 7 bits at 8, degrading gracefully beyond), the per-dimension bits
    * interleave into one codegen'd arithmetic expression (no custom
    * Expression needed beyond 2-D: `D × bits` shift-and-mask terms), and
    * the frame range-partitions + sorts by the interleaved value — every
    * dimension's zone maps then prune roughly equally, the multi-dim
    * analog of Delta's `ZORDER BY (a, b, …)`. */
  private[graft] def zorderArrange(df: org.apache.spark.sql.DataFrame,
                                   dims: Seq[String],
                                   targetFiles: Int): org.apache.spark.sql.DataFrame = {
    require(dims.size >= 2, s"zorderArrange needs >= 2 dimensions, got $dims")
    val d = dims.size
    val bits = math.max(1, math.min(8, 62 / d))
    val side = 1L << bits
    val aggs = dims.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val bounds = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    // 0..side-1 bucket of (v - lo) within the observed range. Exact
    // integer math while it provably cannot overflow ((v-lo)*side needs
    // range < 2^(63-bits)); beyond that — hash-valued or full-range-long
    // dimensions — switch to doubles: bin width is huge there, and double
    // rounding moves a value across a bin edge only at the edge itself,
    // which z-order locality is indifferent to.
    def bucket(c: String, lo: Long, hi: Long): org.apache.spark.sql.Column = {
      val range = (BigInt(hi) - BigInt(lo) + 1).max(1)
      if (range <= BigInt(1L << (55 - bits + 8)))
        expr(s"((CAST($c AS BIGINT) - (${lo}L)) * ${side}L) div ${range.toLong}L")
      else {
        val w = range.toDouble / side.toDouble
        expr(s"greatest(0L, least(${side - 1}L, " +
          s"floor((CAST($c AS DOUBLE) - (${lo.toDouble}D)) / ${w}D)))")
      }
    }
    val buckets = dims.zipWithIndex.map { case (c, i) =>
      bucket(c, bounds.getLong(2 * i), bounds.getLong(2 * i + 1)) }
    // bit interleave: z = Σ_b Σ_i bit_b(bucket_i) << (b*D + i) — plain
    // shift/mask arithmetic, fully inside whole-stage codegen
    val zv = (for (b <- 0 until bits; i <- 0 until d) yield
      shiftleft(shiftright(buckets(i), b).bitwiseAND(lit(1L)), b * d + i))
      .reduce[org.apache.spark.sql.Column](_ bitwiseOR _)
    df.withColumn("_graft_zv", zv)
      .repartitionByRange(targetFiles, col("_graft_zv"))
      .sortWithinPartitions(col("_graft_zv"))
      .drop("_graft_zv")
  }
}
