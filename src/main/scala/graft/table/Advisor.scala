package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Maintenance ADVISOR over a snapshot table — the operational face the
  * maintenance jobs themselves don't provide: from MANIFESTS ALONE (zero
  * data files opened), diagnose the table's debt and name the job that
  * pays it. Each row is one actionable finding:
  *
  *  - `compact`            — small-file debt: at least
  *                           [[CompactMinFiles]] data files under half
  *                           the target size (the reference's
  *                           coalesce(1)-per-sync failure mode at scale);
  *                           pay with [[graft.cdc.Compaction]].
  *  - `materialize_deletes`— merge-on-read mask debt: pending mask rows
  *                           reach `maskRatio` of the live data rows;
  *                           pay with [[Merge.materializeDeletes]] (or
  *                           the clustering compaction, which folds them
  *                           in).
  *  - `consolidate_masks`  — mask-file debt below that ratio: every scan
  *                           opens each pending mask file; fold them to
  *                           one with [[Merge.consolidateMasks]].
  *  - `cluster`            — zone-map decay: the fraction of data-file
  *                           pairs whose key ranges OVERLAP (overlap ⇒
  *                           pruning and COW merges touch extra files);
  *                           pay with `compactSnapshotted(clusterBy)` /
  *                           `clusterZOrder`.
  *  - `index`              — pruning blindness: data files with neither
  *                           zone stats nor a bloom, which every merge
  *                           must touch and every lookup must open; pay
  *                           with a clustering rewrite (stats recorded).
  *  - `expire_snapshots`   — retention debt: manifests (and their
  *                           unreferenced files) beyond the keep window;
  *                           pay with [[SnapshotLog.expireSnapshots]].
  *
  * The two O(table) findings are sized to the debt, so a table taking a
  * small change every few minutes is not rewritten on every run:
  *  - `materialize_deletes` rewrites the whole table, so it waits until
  *    the masked rows are a tenth of the live rows (`maskRatio` 0.1).
  *    Amortized, that is one full rewrite per tenth of the table in
  *    masked rows: at most about 10 rows rewritten per masked row, and
  *    under 10 % of the rows a read decodes are dead. Until then the
  *    masks are cheap to read — the V2 scan applies them vectorized.
  *  - `compact` waits for [[CompactMinFiles]] small files (Iceberg's
  *    bin-pack `min-input-files` default). While a whole table is under
  *    half the target size its packed file stays a candidate, so each
  *    bin-pack rewrites the table; the five-file floor bounds that to
  *    one rewrite per four new small files.
  *
  * At 100 TB this is how maintenance gets SCHEDULED: the advisor is a
  * metadata scan a cron can run per table per hour, and the thresholds
  * are the knobs a platform team tunes once.
  */
object Advisor {

  /** Small data files that name `compact` — the `min-input-files`
    * default of Iceberg's bin-pack rewrite. */
  val CompactMinFiles = 5

  def advise(spark: SparkSession, tableDir: String,
             targetBytes: Long = 128L * 1024 * 1024,
             maskRatio: Double = 0.1,
             overlapThreshold: Double = 0.3,
             retainLast: Int = 5,
             maskFileThreshold: Int = 4): DataFrame = {
    import spark.implicits._
    val live = SnapshotLog.filesAt(spark, tableDir)
    val (dels, data) = live.partition(SnapshotLog.isMask)
    val findings = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]

    val small = data.count(_.bytes < targetBytes / 2)
    if (small >= CompactMinFiles)
      findings += (("compact", small.toLong,
        s"$small of ${data.size} data files under ${targetBytes / 2} bytes"))

    val maskRows = dels.map(_.rows).sum
    val dataRows = data.map(_.rows).sum
    // the ratio as a quotient: exact at the boundary (10 of 100 is the
    // double 0.1), where maskRatio * dataRows may round past it
    if (maskRows > 0 && maskRows.toDouble / math.max(dataRows, 1L) >= maskRatio)
      findings += (("materialize_deletes", maskRows,
        s"$maskRows pending mask entries in ${dels.size} file(s) against " +
          s"$dataRows live data rows — every read decodes the dead rows"))

    // high-frequency CDC accrues one tiny mask FILE per rowdelta commit;
    // every scan opens each — fold them to one (metadata-only, cheaper
    // than the full materializing rewrite) with Merge.consolidateMasks
    if (dels.size >= maskFileThreshold)
      findings += (("consolidate_masks", dels.size.toLong,
        s"${dels.size} pending mask files — every scan pays a per-file " +
          "open; fold to one (per-key max seq) metadata-only"))

    // files carrying NEITHER zone stats NOR a bloom are invisible to
    // every pruning path — merges must touch them, point lookups must
    // open them; pay with a clustering rewrite that records stats
    val unindexed = data.count(f => f.stats.isEmpty && f.blooms.isEmpty)
    if (unindexed > 0)
      findings += (("index", unindexed.toLong,
        s"$unindexed of ${data.size} data files carry no zone stats and no " +
          "bloom — unprunable by merges and lookups"))

    // overlap fraction PER zone column (clustered layouts are ~0,
    // ingest-ordered ones approach 1), reported for the worst column.
    // The legacy first-stats slot is deliberately NOT used: different
    // files may record different columns there (a Z-order compaction
    // points it at a cluster dimension), and mixing domains makes the
    // fraction meaningless — the same pitfall Merge.keyZone documents.
    val overlapByCol = data.flatMap(_.stats.keys).distinct.flatMap { c =>
      val ivs = data.flatMap(_.stats.get(c))
      if (ivs.size > 1) Some(c -> overlapFraction(ivs)) else None
    }
    overlapByCol.sortBy(-_._2).headOption.foreach { case (c, frac) =>
      if (frac > overlapThreshold)
        findings += (("cluster", (frac * 100).round,
          f"$frac%.2f of file pairs overlap on '$c' — " +
            "zone-map pruning and merge pruning are decayed"))
    }

    val nSnapshots = SnapshotLog.snapshots(spark, tableDir).size
    if (nSnapshots > retainLast)
      findings += (("expire_snapshots", (nSnapshots - retainLast).toLong,
        s"$nSnapshots snapshots retained, ${nSnapshots - retainLast} beyond " +
          s"the keep-last-$retainLast window"))

    findings.toSeq.toDF("action", "metric", "reason")
  }

  /** Fraction of interval PAIRS that overlap, in O(n log n): two sorts
    * and one binary search per interval instead of enumerating all
    * C(n,2) pairs — ~800 k files at 100 TB is ~3×10¹¹ pairs, which no
    * hourly metadata cron survives, but 800 k log-steps is milliseconds.
    *
    * Identity: a pair is DISJOINT iff one interval ends strictly before
    * the other starts, and that relation can hold in at most one
    * direction (hi_a < lo_b and hi_b < lo_a together imply lo_a > hi_a).
    * So #disjoint = Σ_j #{i : hi_i < lo_j} — for each interval, how many
    * intervals end before it starts, counted by binary search over the
    * sorted end-points — and #overlapping = C(n,2) − #disjoint. Exact,
    * not a sample: same fraction the pair enumeration produced. */
  private[graft] def overlapFraction(ivs: Seq[(Long, Long)]): Double = {
    val n = ivs.size
    val his = ivs.map(_._2).sorted.toArray
    // #his strictly below lo = insertion point of lo in sorted his
    def endsBefore(lo: Long): Long = {
      var a = 0; var b = n
      while (a < b) {
        val m = (a + b) >>> 1
        if (his(m) < lo) a = m + 1 else b = m
      }
      a.toLong
    }
    val disjoint = ivs.iterator.map { case (lo, _) => endsBefore(lo) }.sum
    val total = n.toLong * (n - 1) / 2
    (total - disjoint).toDouble / total
  }
}
