package org.apache.spark.sql.graftshim

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, VariantExtraction}
import org.apache.spark.sql.execution.datasources.{FilePartition, NoopCache, PartitionedFile, PartitioningAwareFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarBatch, ColumnarMap, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

import graft.table.SnapshotLog

/** Bridge constructing the ENGINE's own vectorized parquet [[Batch]] over
  * an explicit, manifest-pinned file list — the read machinery behind the
  * graft V2 batch scan. `ParquetScan` / `PartitioningAwareFileIndex` are
  * `private[sql]`, hence this file's package placement (the same
  * placement Delta uses for its Spark-internal bridges). Contains no
  * Spark-derived code; it only instantiates.
  *
  * Everything downstream of this call is stock Spark: FilePartition
  * packing (`maxPartitionBytes`), the vectorized columnar parquet reader,
  * row-group predicate pushdown from `pushedFilters`, nested-column
  * pruning — which is exactly the point: the graft layer decides WHICH
  * files (manifest zones/blooms/partition values, static and runtime),
  * the engine decides HOW to read them. */
object GraftParquetShim {

  /** A [[Batch]] reading `files` (path, bytes) as parquet under
    * `readDataSchema` (missing columns null-fill natively). Rebuild per
    * runtime-filter application — construction is metadata-only. */
  def parquetBatch(spark: SparkSession,
                   files: Seq[(String, Long)],
                   dataSchema: StructType,
                   readDataSchema: StructType,
                   pushedFilters: Array[Filter]): Batch = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val statuses = files.map { case (p, bytes) =>
      // the index resolves roots through fs.makeQualified — manifest
      // paths are scheme-less, so QUALIFY the keys or every lookup
      // misses (file:/x vs /x) and the scan silently reads nothing
      val raw = new Path(p)
      val qualified = raw.getFileSystem(hadoopConf).makeQualified(raw)
      new FileStatus(bytes, false, 1, 128L << 20, 0L, qualified) }
    val index = new PartitioningAwareFileIndex(spark, Map.empty, None, NoopCache) {
      // allFiles() enumerates FROM rootPaths (each resolved through
      // leafFiles / leafDirToChildrenFiles), so the manifest-pinned file
      // paths ARE the roots — an empty list would list nothing
      override val rootPaths: Seq[Path] = statuses.map(_.getPath)
      override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
      override val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
        mutable.LinkedHashMap(statuses.map(s => s.getPath -> s): _*)
      override val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
        statuses.groupBy(_.getPath.getParent)
          .map { case (d, fs) => d -> fs.toArray }
      override def refresh(): Unit = ()
    }
    ParquetScan(spark,
      hadoopConf,
      index,
      dataSchema = dataSchema,
      readDataSchema = readDataSchema,
      readPartitionSchema = new StructType(),
      pushedFilters = pushedFilters,
      options = CaseInsensitiveStringMap.empty(),
      pushedAggregate = None,
      partitionFilters = Nil,
      dataFilters = Nil,
      pushedVariantExtractions = Array.empty[VariantExtraction])
  }

  /** The MASKED vectorized read — the Iceberg delete-file design
    * (https://iceberg.apache.org/spec/#scan-planning): each masked data
    * file is read in its OWN input partition, whose task streams only
    * the mask files the driver picked for it from the manifests
    * ([[GraftFileSpec]]) and drops the rows they hit. The inner read
    * requests the engine's row-index generator column
    * (`ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME` — populated by
    * the vectorized reader itself, page-skipping-safe, never read from
    * the file) and, when the projection pruned it, the equality key; a
    * per-batch SELECTION WRAPPER drops the masked rows without copying a
    * single value ([[GraftSelectedColumnVector]]). Planning runs no job
    * and ships no mask contents. Unmasked files keep the engine's
    * `maxPartitionBytes` packing on the plain batch, with no row-index
    * column and no wrapper; with none masked this IS the plain batch. */
  def maskedBatch(spark: SparkSession,
                  files: Seq[GraftFileSpec],
                  dataSchema: StructType,
                  readDataSchema: StructType,
                  pushedFilters: Array[Filter],
                  /** The equality key (PHYSICAL name, visible type) when
                    * equality masks are live. */
                  eqKey: Option[StructField] = None): Batch = {
    val (masked, plain) = files.partition(_.masked)
    val plainBatch =
      if (plain.nonEmpty || masked.isEmpty)
        Some(parquetBatch(spark, plain.map(f => (f.path, f.len)), dataSchema,
          readDataSchema, pushedFilters))
      else None
    if (masked.isEmpty) return plainBatch.get
    val read = GraftMaskedFileRead(spark, masked, dataSchema, readDataSchema,
      readDataSchema.indices.toArray, readDataSchema, eqKey, pushedFilters)
    val plainFactory = plainBatch.map(_.createReaderFactory())
    val pp = plainBatch.map(_.planInputPartitions())
      .getOrElse(Array.empty[InputPartition])
    // Vectorization is decided PER SCHEMA, and the two inner factories
    // differ by the appended columns — at the codegen maxFields boundary
    // one can answer columnar while the other answers row-based, and the
    // engine requires ONE answer for the whole scan ("Cannot mix
    // row-based and columnar partitions"). On disagreement every
    // partition takes the row-based path (always available).
    val columnar = pp.forall(p => plainFactory.get.supportColumnarReads(p)) &&
      read.supportsColumnar(masked.head)
    batchOf(pp ++ masked.zipWithIndex.map { case (f, i) =>
        GraftMaskedPartition(f, null, f.partition(pp.length + i)): InputPartition },
      new GraftMaskedReaderFactory(plainFactory, Some(read), columnar))
  }

  /** The ROW-ID variant: serves scans whose projection includes the
    * scan-metadata columns (`_graft_file`/`_graft_pos` — the row-id face
    * of the delta-based row-level operations, and explicit
    * metadata-column SELECTs), keeping the read columnar. Every file
    * reads through the masked reader in its OWN partition (the row
    * index resets per file and the file path is a per-partition
    * CONSTANT), which emits
    *   - `_graft_pos` as the row-index vector (selection-filtered under
    *     a mask — surviving rows keep their ORIGINAL file ordinal, which
    *     is what a posdelete entry must name), and
    *   - `_graft_file` as a zero-copy constant string vector carrying
    *     the same qualified-URI rendering the V1 `_metadata.file_path`
    *     read emits (pinned in RowLevelSpec), so both paths' row ids
    *     are byte-identical.
    * `outputSchema` is the scan's declared output with the metadata
    * columns at their requested ordinals; data columns keep their
    * relative order. */
  def posBatch(spark: SparkSession,
               files: Seq[GraftFileSpec],
               dataSchema: StructType,
               outputSchema: StructType,
               fileColName: String, posColName: String,
               pushedFilters: Array[Filter],
               /** The PHYSICAL twin of `outputSchema` on registry tables
                 * (same field order, files' column names) — what the
                 * inner parquet read requests; defaults to the output. */
               physOutputSchema: StructType = null,
               eqKey: Option[StructField] = None): Batch = {
    def isMeta(n: String): Boolean =
      n.equalsIgnoreCase(fileColName) || n.equalsIgnoreCase(posColName)
    val physOut = Option(physOutputSchema).getOrElse(outputSchema)
    val data = StructType(physOut.fields.filterNot(f => isMeta(f.name)))
    // output ordinal → inner ordinal; FileCode/PosCode mark the two
    // synthesized columns
    val colMap: Array[Int] = {
      var next = 0
      outputSchema.fields.map { f =>
        if (f.name.equalsIgnoreCase(fileColName)) GraftMaskedFileRead.FileCode
        else if (f.name.equalsIgnoreCase(posColName)) GraftMaskedFileRead.PosCode
        else { val i = next; next += 1; i }
      }
    }
    val read = GraftMaskedFileRead(spark, files, dataSchema, data, colMap,
      outputSchema, eqKey, pushedFilters)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val parts = files.zipWithIndex.map { case (f, i) =>
      val raw = new Path(f.path)
      // the emitted _graft_file value — the same qualified Path
      // rendering ("file:/x", Path.toString) the V1 read's
      // _metadata.file_path carries for this file
      val qualified = raw.getFileSystem(hadoopConf).makeQualified(raw).toString
      GraftMaskedPartition(f, qualified, f.partition(i)): InputPartition
    }.toArray
    batchOf(parts, new GraftMaskedReaderFactory(None, Some(read),
      files.headOption.forall(read.supportsColumnar)))
  }

  /** The KEY-GROUPED variant for storage-partitioned joins: one input
    * partition per bucket group, each carrying its bucket id as the
    * [[HasPartitionKey]] row — `EnsureRequirements` then aligns two
    * same-bucketed scans WITHOUT an exchange (the Iceberg SPJ shape).
    * Within-bucket files read back to back in one task (no splitting):
    * the classic bucketed-join tradeoff of per-bucket parallelism for
    * zero shuffle. Masks — positional AND equality — filter rows WITHIN
    * files and can never change a row's bucket membership (the bucket is
    * a pure function of the key; an eq-delete removes rows, never moves
    * them), so masked files simply take the masked reader; selection
    * preserves row order, so a sorted single-file bucket stays sorted. */
  def bucketedBatch(spark: SparkSession,
                    groups: Seq[(Int, Seq[GraftFileSpec])],
                    dataSchema: StructType,
                    readDataSchema: StructType,
                    pushedFilters: Array[Filter],
                    eqKey: Option[StructField] = None): Batch = {
    val all = groups.flatMap(_._2)
    val masked = all.filter(_.masked)
    val plain = parquetBatch(spark, all.map(f => (f.path, f.len)), dataSchema,
      readDataSchema, pushedFilters).createReaderFactory()
    val read =
      if (masked.isEmpty) None
      else Some(GraftMaskedFileRead(spark, masked, dataSchema, readDataSchema,
        readDataSchema.indices.toArray, readDataSchema, eqKey, pushedFilters))
    // one pre-agreed columnar answer for the whole scan (the engine
    // refuses mixed row/columnar partitions)
    val columnar =
      all.headOption.forall(f => plain.supportColumnarReads(f.partition(0))) &&
        masked.headOption.forall(f => read.get.supportsColumnar(f))
    batchOf(groups.sortBy(_._1).zipWithIndex.map { case ((bucket, fs), i) =>
        GraftBucketedPartition(new GenericInternalRow(Array[Any](bucket)), i, fs)
          : InputPartition
      }.toArray,
      new GraftMaskedReaderFactory(Some(plain), read, columnar))
  }

  private def batchOf(parts: Array[InputPartition],
                      factory: PartitionReaderFactory): Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = parts
    override def createReaderFactory(): PartitionReaderFactory = factory
  }
}

/** One data file of a graft scan and the mask files that can hit it,
  * picked from the manifests on the driver: positional masks younger
  * than the file whose recorded `_graft_file` set names it (or records
  * none), and equality masks younger than the file whose key zone
  * overlaps its own. `keyZone` is the file's recorded zone of the
  * equality key, in the key's long domain. */
final case class GraftFileSpec(
    path: String, len: Long, seq: Long,
    posMasks: Seq[GraftMaskFile] = Nil,
    eqMasks: Seq[GraftMaskFile] = Nil,
    keyZone: Option[(Long, Long)] = None) {
  def masked: Boolean = posMasks.nonEmpty || eqMasks.nonEmpty
  private[graftshim] def partition(index: Int): FilePartition =
    GraftFileSpec.partitionOf(path, len, index)
}

/** One mask file: path, length and commit seq — the delete seq of
  * equality rows that embed none. */
final case class GraftMaskFile(path: String, len: Long, seq: Long)

object GraftFileSpec {
  /** The scheme-less path a `_graft_file` value (a qualified URI) names —
    * the form manifests record data files under. */
  def pathOf(fileValue: String): String = new java.net.URI(fileValue).getPath

  private[graftshim] def partitionOf(path: String, len: Long,
                                     index: Int): FilePartition =
    FilePartition(index, Array(PartitionedFile(InternalRow.empty,
      SparkPath.fromPathString(path), 0L, len, Array.empty, 0L, len,
      Map.empty)))
}

/** One masked data file in its own partition: `fileValue` is the
  * `_graft_file` string its rows carry (null unless the scan emits row
  * ids); `files` is the single-file partition the inner reader opens. */
private[graftshim] final case class GraftMaskedPartition(
    file: GraftFileSpec,
    fileValue: String,
    files: FilePartition) extends InputPartition {
  override def preferredLocations(): Array[String] = files.preferredLocations()
}

/** One bucket group of a key-grouped graft scan: the partition key is
  * the bucket id row the engine groups/aligns on; its files read back
  * to back. */
private[graftshim] final case class GraftBucketedPartition(
    key: InternalRow, index: Int,
    files: Seq[GraftFileSpec]) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** The one masked-file reader, built once per scan on the driver (each
  * factory broadcasts the Hadoop configuration once): `inner` reads a
  * data file's columns plus the equality key when the projection pruned
  * it plus the row index; `posMasks` and `eqMasks` read the two mask
  * schemas (null when no file has a mask of that kind). Per file it
  * loads the file's masks in the task ([[load]]), drops the rows they
  * hit, and emits the output columns through `colMap` — an inner
  * ordinal, or one of the two synthesized row-id columns. */
private[graftshim] final class GraftMaskedFileRead(
    inner: PartitionReaderFactory,
    posMasks: PartitionReaderFactory,
    eqMasks: PartitionReaderFactory,
    outputSchema: StructType,
    colMap: Array[Int],
    idxOrd: Int,
    keyOrd: Int,
    /** Type of the equality key, in the inner read and the eq mask read
      * alike (null without equality masks). */
    keyType: DataType) extends Serializable {

  def supportsColumnar(f: GraftFileSpec): Boolean =
    inner.supportColumnarReads(f.partition(0))

  private def eachRow(factory: PartitionReaderFactory, m: GraftMaskFile)(
      fn: InternalRow => Unit): Unit = {
    val r = factory.createReader(GraftFileSpec.partitionOf(m.path, m.len, 0))
    try while (r.next()) fn(r.get()) finally r.close()
  }

  /** The masks that hit `f`, streamed from its candidate mask files:
    * the positions naming `f` itself, and the equality keys inside its
    * key zone folded to their max delete seq — the embedded
    * `_graft_del_seq`, else the mask file's seq, exactly as
    * `SnapshotLog.foldMasks` folds. Null keys drop (null never matches). */
  private[graftshim] def load(f: GraftFileSpec): GraftFileMask = {
    val positions = mutable.ArrayBuilder.make[Long]
    // `_graft_file` values repeat per row: normalize each distinct one once
    val names = new java.util.HashMap[UTF8String, java.lang.Boolean]()
    f.posMasks.foreach(m => eachRow(posMasks, m) { r =>
      val v = r.getUTF8String(0)
      var hit = names.get(v)
      if (hit == null) {
        hit = GraftFileSpec.pathOf(v.toString) == f.path
        names.put(v.clone(), hit)
      }
      if (hit) positions += r.getLong(1)
    })
    val sorted = positions.result()
    java.util.Arrays.sort(sorted)
    val longDel = mutable.LongMap.empty[Long]
    val keyDel = new java.util.HashMap[UnsafeRow, java.lang.Long]()
    lazy val keyOf = GraftFileMask.keyProjection(0, keyType)
    f.eqMasks.foreach(m => eachRow(eqMasks, m) { r =>
      if (!r.isNullAt(0)) {
        val ds = if (r.isNullAt(1)) m.seq else r.getLong(1)
        if (GraftFileMask.longDomain(keyType)) {
          val k = GraftFileMask.keyAsLong(r, 0, keyType)
          if (f.keyZone.forall { case (lo, hi) => lo <= k && k <= hi } &&
              longDel.getOrElse(k, Long.MinValue) < ds)
            longDel(k) = ds
        } else {
          val k = keyOf(r)
          val prev = keyDel.get(k)
          if (prev == null || prev < ds) keyDel.put(k.copy(), ds)
        }
      }
    })
    new GraftFileMask(sorted, longDel, keyDel, f.seq, idxOrd, keyOrd, keyType)
  }

  def columnarReader(f: GraftFileSpec, fileValue: String)
      : PartitionReader[ColumnarBatch] = {
    val mask = load(f)
    val in = inner.createColumnarReader(f.partition(0))
    val fileVec: ColumnVector =
      if (fileValue == null) null
      else new GraftConstantStringVector(UTF8String.fromString(fileValue))
    new PartitionReader[ColumnarBatch] {
      private var current: ColumnarBatch = _
      override def next(): Boolean = {
        if (!in.next()) return false
        val b = in.get()
        val sel = mask.select(b)
        def view(v: ColumnVector): ColumnVector =
          if (sel == null) v else new GraftSelectedColumnVector(v, sel)
        current = new ColumnarBatch(colMap.map {
          case GraftMaskedFileRead.FileCode => fileVec
          case GraftMaskedFileRead.PosCode => view(b.column(idxOrd))
          case c => view(b.column(c))
        }, if (sel == null) b.numRows() else sel.length)
        true
      }
      override def get(): ColumnarBatch = current
      override def close(): Unit = in.close()
    }
  }

  /** Row-based twin (schemas the vectorized reader declines): skips
    * masked rows, then projects the output columns. */
  def rowReader(f: GraftFileSpec, fileValue: String)
      : PartitionReader[InternalRow] = {
    val mask = load(f)
    val in = inner.createReader(f.partition(0))
    val proj = UnsafeProjection.create(
      outputSchema.fields.toIndexedSeq.zip(colMap).map {
        case (_, GraftMaskedFileRead.FileCode) =>
          Literal(UTF8String.fromString(fileValue), StringType): Expression
        case (_, GraftMaskedFileRead.PosCode) =>
          BoundReference(idxOrd, LongType, nullable = false)
        case (o, c) => BoundReference(c, o.dataType, nullable = true)
      })
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      override def next(): Boolean = {
        while (in.next()) {
          val r = in.get()
          if (mask.keeps(r)) {
            row = r
            return true
          }
        }
        false
      }
      override def get(): InternalRow = proj(row)
      override def close(): Unit = in.close()
    }
  }
}

private[graftshim] object GraftMaskedFileRead {
  final val FileCode = -1
  final val PosCode = -2

  private val PosMaskSchema = StructType(Seq(
    StructField(SnapshotLog.PosFileCol, StringType),
    StructField(SnapshotLog.PosOrdCol, LongType)))

  /** The masked reader of `masked` files emitting `data` columns through
    * `colMap`. The inner schema is the data columns, then the equality
    * key when the projection pruned it, then the row-index column —
    * nullable: it is never IN the file, and a required missing column
    * refuses at reader init; the generator overwrites the null vector
    * with real ordinals before every batch is handed out. */
  def apply(spark: SparkSession, masked: Seq[GraftFileSpec],
            dataSchema: StructType, data: StructType, colMap: Array[Int],
            outputSchema: StructType, eqKey: Option[StructField],
            pushedFilters: Array[Filter]): GraftMaskedFileRead = {
    val withKey = data.fields ++ eqKey
      .filter(k => !data.fieldNames.exists(_.equalsIgnoreCase(k.name)))
      .map(_.copy(nullable = true))
    val keyOrd = eqKey
      .map(k => withKey.indexWhere(_.name.equalsIgnoreCase(k.name)))
      .getOrElse(-1)
    val inner = StructType(withKey :+ StructField(
      ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType,
      nullable = true))
    def masks(files: Seq[GraftMaskFile], schema: StructType) =
      if (files.isEmpty) null
      else GraftParquetShim.parquetBatch(spark,
        files.distinct.map(m => (m.path, m.len)), schema, schema,
        Array.empty).createReaderFactory()
    new GraftMaskedFileRead(
      GraftParquetShim.parquetBatch(spark, masked.map(f => (f.path, f.len)),
        dataSchema, inner, pushedFilters).createReaderFactory(),
      masks(masked.flatMap(_.posMasks), PosMaskSchema),
      masks(masked.flatMap(_.eqMasks), StructType(eqKey.toSeq.map(
        _.copy(nullable = true)) :+ StructField("_graft_del_seq", LongType))),
      outputSchema, colMap, idxOrd = withKey.length, keyOrd,
      eqKey.map(_.dataType).orNull)
  }
}

/** The masks that hit ONE data file, loaded in its reading task: its
  * sorted deleted ordinals, and its equality keys folded to their max
  * delete seq. [[keeps]] is the one survival rule of every masked read:
  * a row survives when its ordinal is unrecorded AND its key is null,
  * unmasked, or deleted at a seq no later than the file's own —
  * `SnapshotLog`'s `_graft_del_seq <= _graft_seq` rule, so re-inserts
  * survive. Integral and temporal keys compare in their internal long
  * domain (dates epoch days, timestamps epoch micros); every other key
  * type compares as the [[UnsafeRow]] of its normalized value, so
  * -0.0 equals 0.0 and all NaNs are equal, as in the join and groupBy
  * of `SnapshotLog.applyMasks`. */
private[graftshim] final class GraftFileMask(
    positions: Array[Long],
    longDel: mutable.LongMap[Long],
    keyDel: java.util.HashMap[UnsafeRow, java.lang.Long],
    fileSeq: Long, idxOrd: Int, keyOrd: Int, keyType: DataType) {

  private val hasEq = longDel.nonEmpty || !keyDel.isEmpty
  private val inLong = hasEq && GraftFileMask.longDomain(keyType)
  private lazy val keyOf = GraftFileMask.keyProjection(keyOrd, keyType)

  private def delSeq(r: InternalRow): Long =
    if (inLong)
      longDel.getOrElse(GraftFileMask.keyAsLong(r, keyOrd, keyType), Long.MinValue)
    else {
      val d = keyDel.get(keyOf(r))
      if (d == null) Long.MinValue else d.longValue
    }

  def keeps(r: InternalRow): Boolean =
    (positions.isEmpty ||
      java.util.Arrays.binarySearch(positions, r.getLong(idxOrd)) < 0) &&
      (!hasEq || r.isNullAt(keyOrd) || delSeq(r) <= fileSeq)

  /** The surviving rows of `b` as a selection map, or null when every
    * row survives — a batch no mask touches passes through untouched. */
  def select(b: ColumnarBatch): Array[Int] = {
    if (positions.isEmpty && !hasEq) return null
    val n = b.numRows()
    val sel = new Array[Int](n)
    var out = 0
    var i = 0
    while (i < n) {
      if (keeps(b.getRow(i))) {
        sel(out) = i
        out += 1
      }
      i += 1
    }
    if (out == n) null else java.util.Arrays.copyOf(sel, out)
  }
}

private[graftshim] object GraftFileMask {
  /** Key types probed in their internal long domain. */
  def longDomain(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType => true
    case _ => false
  }

  /** The key at `ord` as a one-field [[UnsafeRow]], floats normalized. */
  def keyProjection(ord: Int, dt: DataType): UnsafeProjection =
    UnsafeProjection.create(Seq(NormalizeFloatingNumbers.normalize(
      BoundReference(ord, dt, nullable = true))))

  def keyAsLong(r: InternalRow, ord: Int, dt: DataType): Long = dt match {
    case LongType | TimestampType => r.getLong(ord)
    case IntegerType | DateType => r.getInt(ord).toLong
    case ShortType => r.getShort(ord).toLong
    case ByteType => r.getByte(ord).toLong
    case other => throw new IllegalStateException(s"bad eq key type $other")
  }
}

/** The reader factory of every masked shape: plain packed partitions go
  * to the stock reader, masked files to the masked reader, and a
  * key-grouped partition reads its files back to back, each through the
  * reader its masks call for. */
private[graftshim] final class GraftMaskedReaderFactory(
    plain: Option[PartitionReaderFactory],
    read: Option[GraftMaskedFileRead],
    /** ONE pre-agreed answer for every partition (the engine refuses
      * mixed row/columnar scans); false routes everything row-based. */
    columnar: Boolean)
    extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = p match {
    case m: GraftMaskedPartition => read.get.columnarReader(m.file, m.fileValue)
    case g: GraftBucketedPartition =>
      new GraftConcatReader(g.files.iterator.map(f =>
        if (f.masked) read.get.columnarReader(f, null)
        else plain.get.createColumnarReader(f.partition(0))))
    case other => plain.get.createColumnarReader(other)
  }

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = p match {
    case m: GraftMaskedPartition => read.get.rowReader(m.file, m.fileValue)
    case g: GraftBucketedPartition =>
      new GraftConcatReader(g.files.iterator.map(f =>
        if (f.masked) read.get.rowReader(f, null)
        else plain.get.createReader(f.partition(0))))
    case other => plain.get.createReader(other)
  }
}

/** Per-file readers opened lazily and read back to back. */
private[graftshim] final class GraftConcatReader[T](
    readers: Iterator[PartitionReader[T]]) extends PartitionReader[T] {
  private var current: PartitionReader[T] = _
  override def next(): Boolean = {
    while (true) {
      if (current == null) {
        if (!readers.hasNext) return false
        current = readers.next()
      }
      if (current.next()) return true
      current.close()
      current = null
    }
    false
  }
  override def get(): T = current.get()
  override def close(): Unit = if (current != null) current.close()
}

/** A zero-copy SELECTION view of a column vector: logical row `i` reads
  * the inner vector's physical row `sel(i)`. Children (struct fields)
  * wrap recursively with the same map, so nested access and the default
  * interval/variant getters (which recurse through [[getChild]]) stay
  * correct; array/map getters remap the row BEFORE delegating, and the
  * returned views reference the inner child data directly (element
  * storage is physical and untouched by row selection). Never closes
  * the inner vector — the parquet reader owns it. */
private[graftshim] final class GraftSelectedColumnVector(
    inner: ColumnVector, sel: Array[Int])
    extends ColumnVector(inner.dataType()) {
  override def close(): Unit = ()
  override def hasNull: Boolean = inner.hasNull
  // may overcount after selection — safe direction (consumers use it
  // only to decide whether null checks are needed)
  override def numNulls(): Int = inner.numNulls()
  override def isNullAt(i: Int): Boolean = inner.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = inner.getBoolean(sel(i))
  override def getByte(i: Int): Byte = inner.getByte(sel(i))
  override def getShort(i: Int): Short = inner.getShort(sel(i))
  override def getInt(i: Int): Int = inner.getInt(sel(i))
  override def getLong(i: Int): Long = inner.getLong(sel(i))
  override def getFloat(i: Int): Float = inner.getFloat(sel(i))
  override def getDouble(i: Int): Double = inner.getDouble(sel(i))
  override def getArray(i: Int): ColumnarArray = inner.getArray(sel(i))
  override def getMap(i: Int): ColumnarMap = inner.getMap(sel(i))
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    inner.getDecimal(sel(i), precision, scale)
  override def getUTF8String(i: Int)
      : org.apache.spark.unsafe.types.UTF8String =
    inner.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = inner.getBinary(sel(i))
  override def getChild(ordinal: Int): ColumnVector =
    new GraftSelectedColumnVector(inner.getChild(ordinal), sel)
}

/** A constant non-null string column — the per-partition `_graft_file`
  * value, one shared UTF8String however many rows read it. */
private[graftshim] final class GraftConstantStringVector(
    value: org.apache.spark.unsafe.types.UTF8String)
    extends ColumnVector(org.apache.spark.sql.types.StringType) {
  override def close(): Unit = ()
  override def hasNull: Boolean = false
  override def numNulls(): Int = 0
  override def isNullAt(i: Int): Boolean = false
  override def getBoolean(i: Int): Boolean =
    throw new UnsupportedOperationException
  override def getByte(i: Int): Byte = throw new UnsupportedOperationException
  override def getShort(i: Int): Short = throw new UnsupportedOperationException
  override def getInt(i: Int): Int = throw new UnsupportedOperationException
  override def getLong(i: Int): Long = throw new UnsupportedOperationException
  override def getFloat(i: Int): Float = throw new UnsupportedOperationException
  override def getDouble(i: Int): Double = throw new UnsupportedOperationException
  override def getArray(i: Int): ColumnarArray =
    throw new UnsupportedOperationException
  override def getMap(i: Int): ColumnarMap =
    throw new UnsupportedOperationException
  override def getDecimal(i: Int, precision: Int, scale: Int)
      : org.apache.spark.sql.types.Decimal =
    throw new UnsupportedOperationException
  override def getUTF8String(i: Int)
      : org.apache.spark.unsafe.types.UTF8String = value
  override def getBinary(i: Int): Array[Byte] = value.getBytes
  override def getChild(ordinal: Int): ColumnVector =
    throw new UnsupportedOperationException
}
