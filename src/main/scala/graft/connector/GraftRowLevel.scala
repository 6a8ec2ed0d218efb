package graft.connector

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.graftshim.{GraftBucketWriterFactory, GraftDeltaTaskResult, GraftDeltaWriterFactory, GraftWriteShim}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.SnapshotLog

/** DELTA-based row-level operation of a graft table (r14) — the
  * `SupportsRowLevelOperations`/`SupportsDelta` face a VANILLA Spark
  * session (no graft extensions) plans DELETE/UPDATE/MERGE through:
  *
  *  - the operation pins ONE snapshot at creation; its scan reads that
  *    snapshot's VISIBLE rows (masks applied) with the
  *    (`_graft_file`, `_graft_pos`) row ids attached;
  *  - the engine's rewrite rules filter/join those rows and hand the
  *    delta writer DELETE row ids and INSERT rows (updates arrive as
  *    delete+insert — [[representUpdateAsDeleteAndInsert]]);
  *  - executors record deletes as ONE positional-delete parquet file
  *    per task (the deletion-vector form the masked reads already
  *    consume) and inserts through the inline-stats data writer;
  *  - `commit` is ONE `rowdelta` manifest CAS, conflict-guarded against
  *    the pinned base exactly like [[graft.table.Merge.deleteWhere]]:
  *    interleaved row-bearing appends conflict (the predicate might
  *    have covered them), interleaved masks compose, removal of a
  *    scanned file aborts. Zero data files rewritten at any table size.
  *
  * Sessions WITH the graft extensions never reach this path —
  * [[GraftDmlRule]] rewrites DML in the analyzer's resolution batch
  * first (keeping lineage stamping and COW bucket-layout preservation);
  * this face is the PORTABILITY contract other engines and bare
  * sessions expect. On lineage-declared tables the feed still derives
  * deletes from the positional masks; updates degrade to delete+insert
  * event pairs instead of update_pre/postimage. */
private[connector] final class GraftRowLevelOperation(
    spark: SparkSession, dir: String,
    cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  // the operation's WHOLE lifecycle — scan, write, conflict guard —
  // speaks this one pinned snapshot
  private val baseId: Long = SnapshotLog.currentSnapshotId(spark, dir)
    .getOrElse(throw new IllegalArgumentException(s"not a graft table: $dir"))
  private val state = GraftDataSource.visibleState(spark, dir, Some(baseId))

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"GraftRowLevelOperation($cmd, $dir @ $baseId)"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, dir, state)

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(SnapshotLog.PosFileCol),
    Expressions.column(SnapshotLog.PosOrdCol))

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(spark, dir, baseId, state, info.schema())
    }
}

/** The distributed delta write: new data files + per-task positional
  * masks, committed as one guarded `rowdelta` snapshot. */
private[connector] final class GraftDeltaWrite(
    spark: SparkSession, dir: String, baseId: Long,
    state: GraftDataSource.VisibleState,
    rowSchema: StructType)
    extends DeltaWrite with DeltaBatchWrite {

  private val reg = state._4.filterNot(_.isIdentity)
  private def phys(c: String): String =
    reg.flatMap(_.physicalOf(c)).getOrElse(c)
  private val physicalSchema = StructType(rowSchema.fields.map(f =>
    f.copy(name = phys(f.name), nullable = true)))

  private val posSchema = StructType(Seq(
    StructField(SnapshotLog.PosFileCol, StringType, nullable = false),
    StructField(SnapshotLog.PosOrdCol, LongType, nullable = false)))

  // inherited pruning metadata for the INSERT side, the insertInto
  // posture, planned by the one spec builder every write shares
  private val (specs, bucketSpec) = {
    val visible = state._3
    val (stats0, bloom0, parts0) =
      GraftDataSource.inheritedMeta(spark, dir, visible)
    val props = SnapshotLog.tableProps(spark, dir)
    def prop(k: String): Option[String] = props.collectFirst {
      case (kk, v) if kk.equalsIgnoreCase(k) => v }
    def propCols(key: String): Seq[String] = prop(key).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      .filter(c => visible.fieldNames.exists(_.equalsIgnoreCase(c)))
    val stats = if (stats0.nonEmpty) stats0 else propCols("statsCols")
    val bloom = bloom0.orElse(propCols("bloomCol").headOption)
    val parts = if (parts0.nonEmpty) parts0 else propCols("partitionCols")
    // a pure DELETE's write schema carries no data columns (only row
    // ids reach the writer) — no data file can be written, so nothing
    // is recorded
    val writesData = visible.fieldNames.exists(n =>
      rowSchema.fieldNames.exists(_.equalsIgnoreCase(n)))
    val specs =
      if (writesData) GraftBucketWrite.specsOf(spark, dir, rowSchema,
        stats, bloom, parts, phys)
      else GraftBucketWrite.specsOf(spark, dir, rowSchema, Nil, None, Nil, phys)
    val bucket = for {
      c <- prop("bucketCol")
      n <- prop("bucketCount").flatMap(_.toIntOption)
      i = rowSchema.fields.indexWhere(_.name.equalsIgnoreCase(c)) if i >= 0
      t <- GraftWriteShim.bucketTagOf(rowSchema.fields(i).dataType)
    } yield (phys(c), i, t, n)
    (specs, bucket)
  }

  private val writeUuid = java.util.UUID.randomUUID().toString

  override def toBatch: DeltaBatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DeltaWriterFactory = {
    val (owfData, confD) = GraftWriteShim.prepareFactory(spark, physicalSchema)
    val (owfPos, confP) = GraftWriteShim.prepareFactory(spark, posSchema)
    val dataFactory = new GraftBucketWriterFactory(
      s"$dir/data/$writeUuid", physicalSchema,
      bucketOrdinal = bucketSpec.map(_._2).getOrElse(-1),
      bucketTag = bucketSpec.map(_._3).getOrElse(-1),
      bucketCount = bucketSpec.map(_._4).getOrElse(0),
      specs, owfData, confD)
    new GraftDeltaWriterFactory(dataFactory, s"$dir/data/$writeUuid",
      posSchema, owfPos, confP)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val results = messages.toSeq.collect { case m: GraftDeltaTaskResult => m }
    val bucketKey = bucketSpec.map { case (c, _, _, n) =>
      SnapshotLog.bucketPartKey(n, c) }
    val dataFiles = SnapshotLog.fileEntries(results.flatMap(_.data), specs,
      bucketKey = bucketKey,
      sortedBy = r => if (r.sorted) bucketSpec.map(_._1) else None)
    val posFiles = results.flatMap(_.pos).filter(_.rows > 0).map(p =>
      SnapshotLog.DataFile(p.path, p.rows, p.bytes,
        kind = "posdelete",
        parts = p.files.map(SnapshotLog.PosFileCol -> _).toMap))
    if (dataFiles.isEmpty && posFiles.isEmpty) return // matched nothing
    SnapshotLog.commitPinned(spark, dir, baseId, "rowdelta",
      added = posFiles ++ dataFiles, removed = Seq.empty,
      summary = Map("mode" -> "v2-row-delta",
        "pos_delete_entries" -> posFiles.map(_.rows).sum.toString),
      guard = SnapshotLog.ConflictGuard(
        // any interleaved row-bearing append conflicts: the operation's
        // predicate might have covered its rows (no range pruning
        // metadata survives to narrow this). Interleaved masks compose
        // ONLY with a pure DELETE (a double-delete is a no-op); an
        // insert-bearing delta (UPDATE/MERGE) re-creates rows it read
        // from the pinned state at a HIGHER seq — an interleaved mask
        // that deleted those rows would be silently resurrected, so it
        // must conflict (the Delta ConcurrentDeleteRead rule).
        mayReadAdded = Some(fs => fs),
        readPaths = state._2.map(_.path).toSet,
        masksOnly = dataFiles.isEmpty))
    spark.sessionState.catalog.invalidateAllCachedTables()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val paths = messages.toSeq.collect { case m: GraftDeltaTaskResult =>
      m.data.map(_.path) ++ m.pos.map(_.path) }.flatten
    paths.foreach { p0 =>
      try {
        val p = new org.apache.hadoop.fs.Path(p0)
        p.getFileSystem(conf).delete(p, false)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  override def toString: String = s"GraftDeltaWrite($dir @ $baseId)"
}
