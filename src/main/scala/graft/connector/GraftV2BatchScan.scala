package graft.connector

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.table.SnapshotLog
import graft.table.SnapshotLog.DataFile

/** The FAST-PATH V2 scan: a real [[Batch]] over the engine's own
  * vectorized parquet reader (no Row bridge, columnar, whole-stage-
  * codegen-friendly), with [[SupportsRuntimeFiltering]] — the V2 face of
  * dynamic partition pruning for the table format. Eligibility mirrors
  * the V1 relation's fast path ([[GraftDataSource.relationFor]]):
  * one bearing schema epoch whose column types survive the visible
  * merge (parquet null-fills later-declared columns natively) — and,
  * since r14/r15, POSITIONAL and EQUALITY masks within the debt
  * budget, row-id projections, and live FIELD REGISTRIES (renames /
  * drops — the inner read requests physical names), type-promoting
  * drifted epochs, temporal equality keys and row-id reads of
  * eq-masked tables all ride this path too: the standing read traffic
  * stays columnar instead of degrading to the Row bridge. Over-budget
  * debt, genuinely incompatible drift and unsupported equality-key
  * types stay on the always-correct [[GraftBridgeScan]].
  *
  * RUNTIME file pruning: when this scan sits under a join whose other
  * side is selectively filtered, Catalyst's partition-pruning rule sees
  * [[filterAttributes]] (every column the manifests can prune on —
  * zones, blooms, partition-value sets) and inserts a DPP subquery; at
  * execution `BatchScanExec` hands the realized join keys here as
  * `In`/`EqualTo` filters and [[filter]] re-prunes the FILE LIST through
  * the same [[Constraints]] machinery the static pushdown uses. At
  * 100 TB this is the difference between scanning every fact file and
  * only the ones whose metadata admits a surviving dim key — for a
  * predicate the user never wrote against the fact. Pruning may only
  * skip: a file is dropped only when its metadata PROVES no qualifying
  * row lives in it, and the join itself still filters rows.
  *
  * The file list is pinned at build (snapshot isolation); runtime
  * filtering only shrinks it, and [[toBatch]]/[[planInputPartitions]]
  * re-plan from the current list — `BatchScanExec` calls them again
  * after `filter(...)`, which is the engine's re-plan contract. */
private[connector] final class GraftV2BatchScan(
    spark: SparkSession,
    dir: String,
    visible: StructType,
    required: StructType,
    pushed: Array[Filter],
    staticKept: Seq[DataFile],
    staticPruned: Int,
    /** Declared `bucket(n, col)` layout (durable bucketCol/bucketCount
      * props) — reported as [[KeyGroupedPartitioning]] when every kept
      * file provably holds ONE bucket residue. */
    bucketSpec: Option[(String, Int)] = None,
    /** Pending POSITIONAL delete masks, file path → sorted deleted row
      * ordinals (r14): the deletion-vector read. Non-empty masks keep
      * the scan on the vectorized columnar path — masked files read
      * through a per-batch zero-copy selection wrapper
      * ([[org.apache.spark.sql.graftshim.GraftSelectedColumnVector]])
      * instead of falling back to the Row bridge. Loaded once at plan
      * time, bounded by `graft.v2.maskedScan.maxPositions`. */
    masks: Map[String, Array[Long]] = Map.empty,
    /** Projection includes the scan-metadata columns (`_graft_file`/
      * `_graft_pos`, r15): the vectorized ROW-ID read — one partition
      * per file (the file is a per-partition constant, the row index
      * resets per file), so key-grouped reporting is withheld. This is
      * the scan under every vanilla-session DELETE/UPDATE/MERGE. */
    withPos: Boolean = false,
    /** Folded EQUALITY mask (r15): (sorted key → max delete seq)
      * arrays, budget-gated driver metadata. Files whose commit seq is
      * below some key's delete seq filter rows per batch inside the
      * columnar read; newer files (re-inserts) pay nothing. */
    eqMask: Option[org.apache.spark.sql.graftshim.GraftEqMask] = None,
    /** Live FIELD REGISTRY (r15): the scan's OUTPUT stays logical, but
      * the files hold physical names — inner parquet reads request the
      * translated schemas (vectors carry no names, so emitting them
      * under the logical readSchema is pure metadata), and file-
      * metadata pruning translates per file like the static path. */
    reg: Option[graft.table.FieldRegistry] = None)
    extends Scan with Batch
    with SupportsRuntimeFiltering with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsReportOrdering {

  @volatile private var kept: Seq[DataFile] = staticKept
  @volatile private var runtimePruned: Int = 0

  /** Highest delete seq of the equality mask — a file whose seq is at
    * or above it can contain no masked row (re-inserts survive by the
    * `del_seq <= file_seq` rule). */
  private val eqMaxDelSeq: Long =
    eqMask.map(_.delSeqs.max).getOrElse(Long.MinValue)
  private def eqApplies(f: DataFile): Boolean =
    eqMask.isDefined && f.seq < eqMaxDelSeq

  /** The files' PHYSICAL twins of the logical schemas — what every
    * inner parquet read requests (identity when no registry lives). */
  private def toPhys(s: StructType): StructType = reg match {
    case Some(r) => StructType(s.fields.map(f =>
      f.copy(name = r.physicalOf(f.name).getOrElse(f.name))))
    case None => s
  }
  private val physVisible: StructType = toPhys(visible)
  private val physRequired: StructType = toPhys(required)

  /** Test face: the CURRENT file list (post runtime filtering). */
  private[connector] def keptFiles: Seq[DataFile] = kept

  /** `numFiles`, the files the scan reads after static and runtime
    * pruning — the same SQL metric name a parquet file scan reports, so
    * plan inspection reads both paths alike. */
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new GraftNumFilesMetric)

  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    Array(new CustomTaskMetric {
      override def name(): String = GraftNumFilesMetric.Name
      override def value(): Long = kept.size.toLong
    })

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def description(): String =
    s"GraftBatchScan(files=${kept.size}, pruned=$staticPruned, " +
      s"rtPruned=$runtimePruned, " +
      (if (masks.nonEmpty)
        s"maskedFiles=${masks.size}, maskedRows=${masks.valuesIterator.map(_.length.toLong).sum}, "
       else "") +
      (if (withPos) "rowIds=true, " else "") +
      eqMask.fold("")(e => s"eqKeys=${e.delSeqs.length}, ") +
      s"cols=${required.fieldNames.mkString(",")})"

  /** Columns a runtime filter could prune files on: anything with a zone
    * map, manifest bloom or partition-value set on some kept file —
    * restricted to the scan's OUTPUT (the engine resolves these against
    * the column-pruned relation; naming a pruned-away column throws). */
  override def filterAttributes(): Array[NamedReference] = {
    // manifest metadata keys are PHYSICAL; the engine resolves these
    // names against the LOGICAL output — translate before intersecting
    val prunable = kept.iterator
      .flatMap(f => f.stats.keysIterator ++ f.blooms.keysIterator ++
        f.parts.keysIterator)
      .map(k => reg.flatMap(_.logicalOf(k)).getOrElse(k)).toSet
    required.fieldNames.filter(prunable.contains).map(Expressions.column)
  }

  override def filter(filters: Array[Filter]): Unit = {
    val cs = GraftSourceConstraints.from(filters, visible)
    val before = kept.size
    // runtime filters speak LOGICAL names; file metadata is physical —
    // translate per file exactly like the static pushdown does
    kept = kept.filter(f =>
      cs.keeps(reg.map(_.translateMeta(f)).getOrElse(f)))
    runtimePruned += before - kept.size
  }

  // -------------------------------------- storage-partitioned reporting

  /** The grouping DECISION is made ONCE, over the statically-pruned file
    * list: the declared layout provably holds when every row-bearing
    * kept file records the synthetic `bucket(n,col)` manifest key with
    * EXACTLY one value. A multi-residue or unrecorded file disables
    * reporting (correct, just unoptimized) — the manifest is the proof,
    * never the declaration. The decision must be STICKY across runtime
    * filtering: once the scan reported KeyGroupedPartitioning, every
    * re-planned partition must still carry a partition key (the engine
    * allows DROPPING groups — the subset rule — but throws on partitions
    * that lost HasPartitionKey; a runtime filter that pruned every
    * row-bearing file must therefore yield zero KEYED partitions, not a
    * fallback to plain FilePartitions). */
  // MASKS do NOT disable key-grouped reporting (r15): positional AND
  // equality masks filter rows within a file and can never change
  // bucket membership (the bucket is a pure function of the key; an
  // eq-delete removes rows, never moves them), so two co-bucketed MOR
  // tables keep their zero-exchange join between compactions. Row-id
  // projections withhold it (one partition per file by construction).
  private val bucketedAtPlan: Boolean = !withPos &&
    bucketSpec.exists { case (c, n) =>
      val key = SnapshotLog.bucketPartKey(n, c)
      val bearing = staticKept.filter(_.rows > 0)
      bearing.nonEmpty && bearing.forall(f => f.parts.get(key) match {
        case Some(Seq(one)) => one.toIntOption.isDefined
        case _ => false
      })
    }

  /** Bucket-id groups of the CURRENT (possibly runtime-filtered) file
    * list — row-bearing files only; a zero-row carrier contributes
    * nothing to any read. Defined iff [[bucketedAtPlan]]. */
  private def bucketGroups: Option[Seq[(Int, Seq[DataFile])]] =
    if (!bucketedAtPlan) None
    else bucketSpec.map { case (c, n) =>
      val key = SnapshotLog.bucketPartKey(n, c)
      kept.filter(_.rows > 0)
        .map(f => (f.parts(key).head.toInt, f))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (b, fs) => (b, fs.map(_._2)) }
    }

  /** The engine consults this under `spark.sql.sources.v2.bucketing
    * .enabled`: two graft scans reporting the same `bucket(n, col)`
    * transform (resolved through [[GraftBucketFunction]]) join WITHOUT
    * an exchange — the Iceberg storage-partitioned-join design. */
  override def outputPartitioning(): Partitioning = bucketGroups match {
    case Some(gs) =>
      val (c, n) = bucketSpec.get
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(n, c)), gs.size)
    case None => new UnknownPartitioning(0)
  }

  /** SORTED buckets (r14): when the key-grouped reporting holds AND
    * every row-bearing kept file is manifest-stamped `sortedBy` the
    * bucket column AND each bucket group holds exactly ONE file (a
    * concatenation of two sorted files is not sorted), each scan
    * partition is provably ascending by the key — reported so the SMJ
    * over two co-located scans drops its per-task Sort as well as its
    * Exchange. Decided ONCE over the statically-pruned list: runtime
    * filtering only drops whole files, which can never unsort a
    * partition (a 1-file group shrinks to 0 files, still sorted). */
  private val sortedAtPlan: Boolean = bucketedAtPlan && bucketSpec.exists {
    case (c, n) =>
      val key = SnapshotLog.bucketPartKey(n, c)
      val bearing = staticKept.filter(_.rows > 0)
      bearing.forall(_.sortedBy.exists(_.equalsIgnoreCase(c))) &&
        bearing.groupBy(_.parts(key).head).forall(_._2.size == 1)
  }

  override def outputOrdering(): Array[SortOrder] =
    if (sortedAtPlan)
      Array(Expressions.sort(Expressions.column(bucketSpec.get._1),
        SortDirection.ASCENDING))
    else Array.empty

  override def planInputPartitions(): Array[InputPartition] = inner().planInputPartitions()

  override def createReaderFactory(): PartitionReaderFactory = inner().createReaderFactory()

  private def inner(): Batch = bucketGroups match {
    case _ if withPos =>
      // ROW-ID read: every file its own partition, masks (positional
      // AND equality) applied by original ordinal, metadata columns
      // synthesized in the reader
      org.apache.spark.sql.graftshim.GraftParquetShim.posBatch(
        spark, kept.map(f =>
          org.apache.spark.sql.graftshim.GraftPosFileSpec(
            f.path, f.bytes, masks.getOrElse(f.path, Array.empty[Long]),
            f.seq, eqApplies(f))),
        physVisible, required,
        SnapshotLog.PosFileCol, SnapshotLog.PosOrdCol, pushed,
        physOutputSchema = physRequired, eqMask = eqMask)
    case Some(gs) if masks.nonEmpty || eqMask.isDefined =>
      org.apache.spark.sql.graftshim.GraftParquetShim.bucketedMaskedBatch(
        spark, gs.map { case (b, fs) => (b, fs.map(f =>
          org.apache.spark.sql.graftshim.GraftMaskedFileRef(
            f.path, f.bytes, masks.getOrElse(f.path, Array.empty[Long]),
            f.seq, eqApplies(f)))) },
        physVisible, physRequired, pushed, eqMask = eqMask)
    case Some(gs) =>
      org.apache.spark.sql.graftshim.GraftParquetShim.bucketedBatch(
        spark, gs.map { case (b, fs) => (b, fs.map(f => (f.path, f.bytes))) },
        physVisible, physRequired, pushed)
    case None if masks.nonEmpty || eqMask.isDefined =>
      // masked files (one partition each, positional ordinals and/or
      // the equality key set filtered in the reader) + untouched files
      // on the plain packed batch — all vectorized
      val (maskedF, plainF) = kept.partition(f =>
        masks.get(f.path).exists(_.nonEmpty) || eqApplies(f))
      if (maskedF.isEmpty)
        org.apache.spark.sql.graftshim.GraftParquetShim.parquetBatch(
          spark, kept.map(f => (f.path, f.bytes)), physVisible, physRequired,
          pushed)
      else
        org.apache.spark.sql.graftshim.GraftParquetShim.maskedBatch(
          spark, plainF.map(f => (f.path, f.bytes)),
          maskedF.map(f => org.apache.spark.sql.graftshim.GraftMaskedFileSpec(
            f.path, f.bytes,
            masks.getOrElse(f.path, Array.empty[Long]),
            f.seq, eqApplies(f))),
          physVisible, physRequired, pushed, eqMask = eqMask)
    case None =>
      org.apache.spark.sql.graftshim.GraftParquetShim.parquetBatch(
        spark, kept.map(f => (f.path, f.bytes)), physVisible, physRequired,
        pushed)
  }

  /** Manifest-exact statistics over the CURRENT (runtime-filtered) file
    * list; pending positional masks subtract their recorded (distinct)
    * ordinals — each names one physical row of one live file, so the
    * difference IS the logical row count. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, kept.map(_.bytes).sum))
    override def numRows(): java.util.OptionalLong =
      // an equality mask's subtraction is unknowable from metadata (a
      // key may match zero or many rows) — like the bridge, report none
      if (eqMask.isDefined) java.util.OptionalLong.empty()
      else {
        val masked = kept.iterator
          .flatMap(f => masks.get(f.path)).map(_.length.toLong).sum
        java.util.OptionalLong.of(
          math.max(0L, kept.map(_.rows).sum - masked))
      }
  }
}

/** [[GraftV2BatchScan]]'s `numFiles` metric. Spark re-creates a custom
  * metric from its class name to aggregate it, so it is a top-level
  * class with a no-argument constructor. */
private[connector] final class GraftNumFilesMetric extends CustomSumMetric {
  override def name(): String = GraftNumFilesMetric.Name
  override def description(): String = "number of files read"
}

private[connector] object GraftNumFilesMetric {
  val Name = "numFiles"
}

/** `sources.Filter` (EXTERNAL JVM literal types) → the driver-side
  * [[Constraints]] the manifest pruning predicates consume — the V2 twin
  * of [[Constraints.from]] (which walks Catalyst expressions with
  * INTERNAL literal types). Shared by the static V2 pushdown and the
  * runtime DPP filters, so both prune through identical semantics:
  * zones in the writer's long domains, blooms via the shared key hash,
  * partition values as the recorded string casts. Unrecognized shapes
  * constrain nothing (pruning may only skip). */
private[connector] object GraftSourceConstraints {

  /** Zone-domain long of an external literal — numerics as themselves,
    * dates as epoch days, timestamps as epoch micros (the exact domains
    * [[SnapshotLog.writeData]] records). */
  private def zoneLong(v: Any): Option[Long] = v match {
    case null => None
    case n: Byte => Some(n.toLong)
    case n: Short => Some(n.toLong)
    case n: Int => Some(n.toLong)
    case n: Long => Some(n)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case t: java.sql.Timestamp =>
      Some(t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
    case t: java.time.Instant =>
      Some(t.getEpochSecond * 1000000L + t.getNano / 1000L)
    case _ => None
  }

  /** Bloom-domain key: integrals as themselves, strings through the
    * shared xxhash64; temporal types deliberately EXCLUDED — the bloom
    * build's `cast(col AS long)` records epoch SECONDS while these
    * literals carry micros/days, and probing across domains would turn
    * pruning into silent row loss (the [[Constraints]] rule). */
  private def bloomKey(v: Any): Option[Long] = v match {
    case s: String => Some(SnapshotLog.hashStringKey(s))
    case _: Byte | _: Short | _: Int | _: Long => zoneLong(v)
    case _ => None
  }

  /** Partition-value sets are recorded as `cast(col AS string)`; only
    * string literals round-trip that verbatim. */
  private def partString(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case _ => None
  }

  def from(filters: Array[Filter], schema: StructType): Constraints = {
    val ranges = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val points = scala.collection.mutable.Map.empty[String, Seq[Long]]
    val parts = scala.collection.mutable.Map.empty[String, Seq[String]]
    def col(c: String): Option[String] =
      schema.fieldNames.find(_.equalsIgnoreCase(c))
    def narrow(c: String, lo: Long, hi: Long): Unit = {
      val (l0, h0) = ranges.getOrElse(c, (Long.MinValue, Long.MaxValue))
      ranges(c) = (math.max(l0, lo), math.min(h0, hi))
    }
    // independent equality constraints on one column intersect; keeping
    // only the first key set stays conservative (the Constraints rule)
    def addPoints(c: String, ks: Seq[Long]): Unit =
      if (!points.contains(c)) points(c) = ks
    def addParts(c: String, vs: Seq[String]): Unit =
      if (!parts.contains(c)) parts(c) = vs
    def eq(c0: String, v: Any): Unit = col(c0).foreach { c =>
      if (v != null) {
        zoneLong(v).foreach(x => narrow(c, x, x))
        bloomKey(v).foreach(k => addPoints(c, Seq(k)))
        partString(v).foreach(s => addParts(c, Seq(s)))
      }
    }
    def walk(f: Filter): Unit = f match {
      case sources.And(l, r) => walk(l); walk(r)
      case sources.EqualTo(c, v) => eq(c, v)
      case sources.EqualNullSafe(c, v) => eq(c, v)
      case sources.GreaterThan(c, v) => col(c).foreach(cc =>
        zoneLong(v).foreach(x => narrow(cc, x + 1, Long.MaxValue)))
      case sources.GreaterThanOrEqual(c, v) => col(c).foreach(cc =>
        zoneLong(v).foreach(x => narrow(cc, x, Long.MaxValue)))
      case sources.LessThan(c, v) => col(c).foreach(cc =>
        zoneLong(v).foreach(x => narrow(cc, Long.MinValue, x - 1)))
      case sources.LessThanOrEqual(c, v) => col(c).foreach(cc =>
        zoneLong(v).foreach(x => narrow(cc, Long.MinValue, x)))
      case sources.In(c0, vs0) if vs0.nonEmpty => col(c0).foreach { c =>
        val vs = vs0.toSeq.filter(_ != null)
        if (vs.nonEmpty && vs.size == vs0.length) {
          val zs = vs.flatMap(zoneLong(_))
          if (zs.size == vs.size) narrow(c, zs.min, zs.max)
          val ks = vs.flatMap(bloomKey(_))
          if (ks.size == vs.size) addPoints(c, ks)
          val ps = vs.flatMap(partString(_))
          if (ps.size == vs.size) addParts(c, ps)
        }
      }
      case _ => () // non-conjunctive / unrecognized shapes never prune
    }
    filters.foreach(walk)
    Constraints(ranges.toMap, points.toMap, parts.toMap)
  }
}
