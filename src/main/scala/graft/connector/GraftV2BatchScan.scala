package graft.connector

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.graftshim.{GraftFileSpec, GraftMaskFile, GraftParquetShim}
import org.apache.spark.sql.types._

import graft.table.{Constraints, SnapshotLog}
import graft.table.SnapshotLog.DataFile

/** The V2 batch scan of every graft snapshot: a real [[Batch]] over the
  * engine's own vectorized parquet reader (no Row bridge, columnar,
  * whole-stage-codegen-friendly), with [[SupportsRuntimeFiltering]] —
  * the V2 face of dynamic partition pruning for the table format.
  * Drifted schema epochs read under the visible (merged) schema: the
  * parquet readers widen each file's narrower types in-scan — the
  * [[graft.schema.Evolution]] lattice is exactly their promotions — and
  * null-fill the columns an epoch lacks. POSITIONAL and EQUALITY masks
  * (any key type), row-id projections and live FIELD REGISTRIES
  * (renames / drops — the inner read requests physical names) all ride
  * this scan. Masks apply in the reading task, the Iceberg delete-file
  * shape: the scan hands each data file the mask files its manifests
  * say can hit it ([[fileSpecs]]), so planning runs no Spark job.
  *
  * RUNTIME file pruning: when this scan sits under a join whose other
  * side is selectively filtered, Catalyst's partition-pruning rule sees
  * [[filterAttributes]] (every column the manifests can prune on —
  * zones, blooms, partition-value sets) and inserts a DPP subquery; at
  * execution `BatchScanExec` hands the realized join keys here as
  * `In`/`EqualTo` filters and [[filter]] re-prunes the FILE LIST through
  * the same [[GraftV2BatchScan.constraints]] the static pushdown uses. At
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
    /** Projection includes the scan-metadata columns (`_graft_file`/
      * `_graft_pos`, r15): the vectorized ROW-ID read — one partition
      * per file (the file is a per-partition constant, the row index
      * resets per file), so key-grouped reporting is withheld. This is
      * the scan under every vanilla-session DELETE/UPDATE/MERGE. */
    withPos: Boolean = false,
    /** The pinned snapshot's live mask files, positional and equality:
      * manifest entries only — their contents load in the reading
      * tasks. */
    dels: Seq[DataFile] = Nil,
    /** The equality key (the mask files' PHYSICAL column, typed as the
      * visible schema types it); defined iff equality masks are live. */
    eqKey: Option[StructField] = None,
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

  private val (posDels, eqDels) = dels.partition(_.kind == "posdelete")

  /** Each positional mask with the data files its manifest entry names
    * (the recorded `_graft_file` set, normalized to manifest paths);
    * None when unrecorded — over the partition-value cap, or written
    * before posdelete writers recorded the set. */
  private val posNames: Seq[(DataFile, Option[Set[String]])] =
    posDels.map(m => m -> m.parts.get(SnapshotLog.PosFileCol)
      .map(_.map(GraftFileSpec.pathOf).toSet))

  /** The read spec of `f`: the mask files that can hit it, from
    * manifests alone. Both kinds must be younger than the file (a
    * consolidated mask's embedded delete seqs never exceed its own
    * seq, so no applicable mask is dropped); a positional mask must
    * also name the file or record no set, and an equality mask's key
    * zone must overlap the file's where both record one. */
  private def specOf(f: DataFile): GraftFileSpec = {
    val zone = eqKey.flatMap(k => f.stats.get(k.name))
    def overlaps(m: DataFile): Boolean =
      (zone, eqKey.flatMap(k => m.stats.get(k.name))) match {
        case (Some((lo, hi)), Some((mLo, mHi))) => mLo <= hi && lo <= mHi
        case _ => true
      }
    def ref(m: DataFile) = GraftMaskFile(m.path, m.bytes, m.seq)
    GraftFileSpec(f.path, f.bytes, f.seq,
      posMasks = posNames.collect {
        case (m, names) if m.seq > f.seq && names.forall(_(f.path)) => ref(m) },
      eqMasks = eqDels.collect { case m if m.seq > f.seq && overlaps(m) => ref(m) },
      keyZone = zone)
  }

  /** The read spec of every file in the CURRENT list (a test face too). */
  private[connector] def fileSpecs: Seq[GraftFileSpec] = kept.map(specOf)

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

  /** Mask figures come from the manifests: each kind's live file and
    * entry counts, and how many kept files were handed a mask file. */
  override def description(): String =
    s"GraftBatchScan(files=${kept.size}, pruned=$staticPruned, " +
      s"rtPruned=$runtimePruned, " +
      (if (posDels.isEmpty) ""
       else s"posMaskFiles=${posDels.size}, posMaskRows=${posDels.map(_.rows).sum}, ") +
      (if (eqDels.isEmpty) ""
       else s"eqMaskFiles=${eqDels.size}, eqMaskRows=${eqDels.map(_.rows).sum}, ") +
      (if (dels.isEmpty) "" else s"filesWithMasks=${fileSpecs.count(_.masked)}, ") +
      (if (withPos) "rowIds=true, " else "") +
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
    val cs = GraftV2BatchScan.constraints(filters.toSeq, visible)
    // runtime filters speak LOGICAL names; file metadata is physical —
    // translate per file exactly like the static pushdown does
    val next = kept.filter(f =>
      cs.keeps(reg.map(_.translateMeta(f)).getOrElse(f)))
    if (next.size < kept.size) synchronized {
      runtimePruned += kept.size - next.size
      kept = next
      innerBatch = None
    }
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

  /** The inner batch of the CURRENT file list, built once per list: the
    * engine asks for partitions and a reader factory separately (and
    * again on every plan copy), and each build creates reader factories,
    * each of which broadcasts the session's whole Hadoop configuration.
    * [[filter]] drops it when runtime pruning shrinks the list. */
  private var innerBatch: Option[Batch] = None

  private def inner(): Batch = synchronized {
    if (innerBatch.isEmpty) innerBatch = Some(buildInner())
    innerBatch.get
  }

  private def buildInner(): Batch = bucketGroups match {
    case _ if withPos =>
      // ROW-ID read: every file its own partition, masks applied by
      // original ordinal, metadata columns synthesized in the reader
      GraftParquetShim.posBatch(spark, fileSpecs, physVisible, required,
        SnapshotLog.PosFileCol, SnapshotLog.PosOrdCol, pushed,
        physOutputSchema = physRequired, eqKey = eqKey)
    case Some(gs) =>
      GraftParquetShim.bucketedBatch(spark,
        gs.map { case (b, fs) => (b, fs.map(specOf)) },
        physVisible, physRequired, pushed, eqKey)
    case None =>
      GraftParquetShim.maskedBatch(spark, fileSpecs, physVisible,
        physRequired, pushed, eqKey)
  }

  /** Manifest-exact statistics over the CURRENT (runtime-filtered) file
    * list. Positional masks subtract entries without ever undercounting:
    * one commit's masks are disjoint (each row id is deleted once) while
    * masks of different commits may overlap, so only the largest
    * commit's entries subtract, and only from masks whose named files
    * are all kept — exact for a single DELETE. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, kept.map(_.bytes).sum))
    override def numRows(): java.util.OptionalLong =
      // an equality mask's subtraction is unknowable from metadata (a
      // key may match zero or many rows) — report none
      if (eqDels.nonEmpty) java.util.OptionalLong.empty()
      else {
        val keptPaths = kept.map(_.path).toSet
        val masked = posNames
          .collect { case (m, Some(names)) if names.subsetOf(keptPaths) => m }
          .groupBy(_.seq).valuesIterator.map(_.map(_.rows).sum)
          .maxOption.getOrElse(0L)
        java.util.OptionalLong.of(math.max(0L, kept.map(_.rows).sum - masked))
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

private[connector] object GraftV2BatchScan
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  /** Does `plan` read through a columnar `BatchScanExec` over this scan?
    * Descends into adaptive plans, their query stages and an executed
    * command's plan. False for every Row path (the V1
    * `GraftComputedRelation` scan included). */
  def readsColumnar(plan: SparkPlan): Boolean =
    find(plan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.isInstanceOf[GraftV2BatchScan] && b.supportsColumnar
      case _ => false
    }.isDefined

  override def allChildren(p: SparkPlan): Seq[SparkPlan] = p match {
    case c: org.apache.spark.sql.execution.CommandResultExec =>
      Seq(c.commandPhysicalPlan)
    case _ => super.allChildren(p)
  }

  /** The equality key of `eqDels` as the masked read probes it: the
    * PHYSICAL column the mask files carry ([[SnapshotLog.maskKey]]),
    * typed as the visible schema types it — or, for a key dropped
    * through the field registry, as the mask footers type it. None iff
    * no equality mask is live. */
  def eqKeyOf(spark: SparkSession, eqDels: Seq[DataFile], visible: StructType,
              reg: Option[graft.table.FieldRegistry]): Option[StructField] =
    if (eqDels.isEmpty) None
    else {
      val key = SnapshotLog.maskKey(spark, eqDels)
      Some(visible.fields
        .find(f => reg.flatMap(_.physicalOf(f.name)).getOrElse(f.name)
          .equalsIgnoreCase(key.name))
        .fold(key)(f => key.copy(dataType = f.dataType)))
    }

  /** The pruning [[Constraints]] of pushed or runtime V2 filters: each
    * conjunct is rebuilt as the Catalyst predicate it came from
    * ([[GraftDml.sourceFilterExpr]] — the schema's column, matched
    * case-insensitively, against `Literal(value)`), so both faces share
    * one literal-to-domain table. A conjunct that does not translate (a
    * value `Literal` rejects, a column the schema lacks) constrains
    * nothing. */
  def constraints(filters: Seq[Filter], schema: StructType): Constraints = {
    val out = schema.map(f => AttributeReference(f.name, f.dataType)())
    def conjuncts(f: Filter): Seq[Filter] = f match {
      case sources.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    Constraints.from(filters.flatMap(conjuncts).flatMap(f =>
      scala.util.Try(GraftDml.sourceFilterExpr(f, out)).toOption.flatten))
  }
}
