package org.apache.spark.sql.graftshim

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Task-side machinery of EVERY graft data-file write: each task writes
  * parquet through the engine's own `OutputWriterFactory`
  * (ParquetFileFormat.prepareWrite — codec, write support, everything
  * stock), fanned out one file per bucket id on bucketed writes,
  * computing every manifest statistic INLINE while the rows stream past
  * — zone min/max, null counts, partition-value sets, the manifest
  * bloom, derived bucket-id sets, and a verified sortedness flag. No
  * write ever re-reads its own output for stats: they cost one
  * comparison per row per column, in the task that already holds the
  * row. [[specsFor]] is the one metadata planner every write face
  * shares ([[graft.table.SnapshotLog]] `writeData`, the real V2 batch,
  * staged and delta writes).
  *
  * Lives in this package for `ParquetFileFormat.prepareWrite`
  * (`private[sql]`) and `SerializableConfiguration` (`private[spark]`);
  * contains no Spark-derived code — it only instantiates. */
object GraftWriteShim {

  // metadata-extraction type tags (keep the task-side row access
  // branch-cheap and serialization trivial)
  final val TInt = 0; final val TLong = 1; final val TByte = 2
  final val TShort = 3; final val TDate = 4; final val TTs = 5
  final val TFloat = 6; final val TDouble = 7; final val TString = 8
  /** Timestamp bloom key: `cast(ts AS long)` = epoch SECONDS (floor). */
  final val TTsSec = 9
  final val TBool = 10
  /** Decimal: `cast(d AS long)` (truncation toward zero) via
    * [[decimalLong]] — a value outside the long range drops the file's
    * zone (or bloom) for the column instead of failing the write. */
  final val TDec = 11
  /** Partition value of any other type: Spark's own
    * `cast(col AS string)` in the session time zone, per row. */
  final val TAny = 12

  /** Tag for a column with a ZONE (the long domains the manifest
    * records: numerics cast, dates epoch days, timestamps epoch micros —
    * all but decimal ARE the InternalRow representations). None = no
    * zone kind exists for the type. */
  def zoneTagOf(dt: DataType): Option[Int] = dt match {
    case IntegerType => Some(TInt)
    case LongType => Some(TLong)
    case ByteType => Some(TByte)
    case ShortType => Some(TShort)
    case DateType => Some(TDate)
    case TimestampType => Some(TTs)
    case FloatType => Some(TFloat)
    case DoubleType => Some(TDouble)
    case _: DecimalType => Some(TDec)
    case _ => None
  }

  /** Tag for a bucket key (`SnapshotLog.bucketable`): the integral
    * residue domain or the xxhash64 string domain. */
  def bucketTagOf(dt: DataType): Option[Int] = dt match {
    case StringType => Some(TString)
    case IntegerType => Some(TInt)
    case LongType => Some(TLong)
    case ByteType => Some(TByte)
    case ShortType => Some(TShort)
    case _ => None
  }

  /** Tag for a partition-value column: the `cast(col AS string)`
    * domain, computed directly for strings and integrals. */
  private def partTagOf(dt: DataType): Int = bucketTagOf(dt).getOrElse(TAny)

  /** Tag for a bloom key column — the domain
    * `SnapshotLog.keyAsLong` probes: strings xxhash64, everything else
    * `cast(col AS long)`. None = the type has no such cast (date,
    * binary, complex types). */
  private def bloomTagOf(dt: DataType): Option[Int] = dt match {
    case TimestampType => Some(TTsSec)
    case BooleanType => Some(TBool)
    case DateType => None
    case other => zoneTagOf(other).orElse(bucketTagOf(other))
  }

  /** The writer specs of one write, from (frame schema, stats columns,
    * bloom column, partition columns). Zones for every type with a long
    * zone domain; a stats column without one is reported loudly and
    * recorded nowhere unless it is the bloom key (string keys are
    * indexed there) — never dropped in silence, since the caller
    * believes pruning exists. Partition values of any type; derived
    * `bucket(n,col)` keys record each file's bucket-id set. A named
    * column absent from the frame, a bloom key without a long domain
    * and a non-bucketable bucket key throw IllegalArgumentException
    * here — before any file is written. `physical` maps each requested
    * name to the name the manifest records. */
  def specsFor(schema: StructType, statsCols: Seq[String],
               bloomCol: Option[String], partitionCols: Seq[String],
               timeZone: String, table: String,
               physical: String => String = identity): GraftWriteSpecs = {
    def field(c: String): (Int, DataType) = {
      val i = schema.fields.indexWhere(_.name == c) match {
        case -1 => schema.fields.indexWhere(_.name.equalsIgnoreCase(c))
        case i => i
      }
      if (i < 0) throw new IllegalArgumentException(
        s"graft table $table: metadata column '$c' is not in the written " +
          s"frame (${schema.fieldNames.mkString(", ")})")
      (i, schema.fields(i).dataType)
    }
    def refuse(what: String, c: String, dt: DataType) =
      throw new IllegalArgumentException(
        s"graft table $table: $what column '$c' is ${dt.simpleString}, " +
          "which has no long key domain")
    val bloom = bloomCol.map { c =>
      val (i, dt) = field(c)
      GraftColSpec(physical(c), i, bloomTagOf(dt).getOrElse(
        refuse("bloom", c, dt)), dt)
    }
    val stats = statsCols.distinct.flatMap { c =>
      val (i, dt) = field(c)
      val tag = zoneTagOf(dt)
      if (tag.isEmpty && !bloomCol.contains(c)) System.err.println(
        s"[graft] WARNING: stats column '$c' of $table is " +
          s"${dt.simpleString} — no long zone kind exists for it and no " +
          "bloom was requested; zone pruning will NOT engage on this column")
      tag.map(GraftColSpec(physical(c), i, _, dt))
    }
    val (buckets, parts) = partitionCols.partitionMap {
      case graft.table.SnapshotLog.BucketKeyPattern(n, inner) =>
        val (i, dt) = field(inner)
        Left(GraftBucketPartSpec(
          graft.table.SnapshotLog.bucketPartKey(n.toInt, physical(inner)),
          i, bucketTagOf(dt).getOrElse(refuse("bucket", inner, dt)), n.toInt))
      case c =>
        val (i, dt) = field(c)
        Right(GraftColSpec(physical(c), i, partTagOf(dt), dt))
    }
    GraftWriteSpecs(stats, parts, buckets, bloom, timeZone)
  }

  /** Zone- or bloom-domain long of row(ord) under `tag` (row must be
    * non-null there; decimals go through [[decimalLong]]). Float/double
    * truncate toward zero — Catalyst cast-to-long semantics. */
  private[graftshim] def longOf(row: InternalRow, ord: Int, tag: Int): Long =
    tag match {
      case TInt | TDate => row.getInt(ord).toLong
      case TLong | TTs => row.getLong(ord)
      case TByte => row.getByte(ord).toLong
      case TShort => row.getShort(ord).toLong
      case TFloat => row.getFloat(ord).toLong
      case TDouble => row.getDouble(ord).toLong
      case TString => xxh64(row.getUTF8String(ord))
      case TTsSec => Math.floorDiv(row.getLong(ord), 1000000L)
      case TBool => if (row.getBoolean(ord)) 1L else 0L
      case _ => throw new IllegalStateException(s"bad tag $tag")
    }

  /** `cast(d AS long)` of the non-null decimal at `c` — truncation
    * toward zero — or None when the value lies outside the long range
    * (where the cast overflows). */
  private[graftshim] def decimalLong(row: InternalRow, c: GraftColSpec)
      : Option[Long] = {
    val dt = c.dataType.asInstanceOf[DecimalType]
    val d = row.getDecimal(c.ordinal, dt.precision, dt.scale)
    if (dt.precision - dt.scale <= 18) Some(d.toLong)
    else {
      val i = d.toJavaBigDecimal.toBigInteger
      if (i.bitLength < 64) Some(i.longValue) else None
    }
  }

  private[graftshim] def stringOf(row: InternalRow, ord: Int, tag: Int): String =
    tag match {
      case TString => row.getUTF8String(ord).toString
      case TInt => row.getInt(ord).toString
      case TLong => row.getLong(ord).toString
      case TByte => row.getByte(ord).toString
      case TShort => row.getShort(ord).toString
      case _ => throw new IllegalStateException(s"bad tag $tag")
    }

  private[graftshim] def xxh64(u: UTF8String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)

  /** The shared bucket-id formula at (row, ordinal): murmur3(seed 42)
    * of the key residue, floorMod n — byte-identical to the SQL
    * recording expression ([[graft.table.SnapshotLog]]'s
    * `bucketIdExpr`, incl. both null branches: `hash(NULL)` is its
    * seed 42 for integral keys, `xxhash64(NULL)` is 42 pre-residue for
    * string keys) and the catalog function. */
  private[graftshim] def bucketIdAt(row: InternalRow, ord: Int, tag: Int,
                                    n: Int): Int = {
    if (tag == TString) {
      val h = if (row.isNullAt(ord)) 42L else xxh64(row.getUTF8String(ord))
      Math.floorMod(org.apache.spark.unsafe.hash.Murmur3_x86_32
        .hashLong(Math.floorMod(h, n.toLong), 42), n)
    } else {
      if (row.isNullAt(ord)) Math.floorMod(42, n)
      else Math.floorMod(org.apache.spark.unsafe.hash.Murmur3_x86_32
        .hashLong(Math.floorMod(longOf(row, ord, tag), n.toLong), 42), n)
    }
  }

  /** Write `df` under `dstDir` through the task-side inline-stats
    * writers the real V2 write uses, via one plain `runJob` — the
    * engine of [[graft.table.SnapshotLog]] `writeData`. One file per
    * non-empty partition, rolled at `maxRowsPerFile`. File names are
    * attempt-unique (`taskAttemptId`), so a retried/speculated task can
    * never collide; loser files are invisible (manifests pin explicit
    * paths) and the orphan sweep reclaims them. */
  def writeInline(spark: SparkSession,
                  df: org.apache.spark.sql.DataFrame,
                  dstDir: String,
                  specs: GraftWriteSpecs,
                  maxRowsPerFile: Long = Long.MaxValue): Seq[GraftFileResult] = {
    val schema = StructType(df.schema.fields.map(_.copy(nullable = true)))
    val (owf, conf) = prepareFactory(spark, schema)
    val factory = new GraftBucketWriterFactory(dstDir, schema, -1, -1, 0,
      specs, owf, conf, maxRowsPerFile)
    val qe = df.queryExecution
    val rdd = qe.toRdd
    if (rdd.getNumPartitions == 0) return Seq.empty
    // a NAMED SQL execution, not a bare runJob: `observe()` metrics in
    // the frame (CollectMetricsExec accumulators) deliver to their
    // Observation through the QueryExecutionListener bus ONLY when the
    // job runs under a named execution id — a raw runJob would leave
    // every `Observation.get` downstream blocked forever (the CDC
    // sync's max-offset watermark reads one). This also gives the
    // write a proper SQL-UI execution node.
    val results = org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(qe, Some("graftWriteInline")) {
        spark.sparkContext.runJob(rdd,
          (ctx: org.apache.spark.TaskContext, iter: Iterator[InternalRow]) => {
            val w = factory.createWriter(ctx.partitionId(), ctx.taskAttemptId())
            try {
              iter.foreach(w.write)
              w.commit().asInstanceOf[GraftWriteTaskResult].files
            } catch {
              case t: Throwable =>
                try w.abort() catch {
                  case scala.util.control.NonFatal(_) => ()
                }
                throw t
            }
          })
      }
    results.toSeq.flatten
  }

  /** The engine's parquet [[OutputWriterFactory]] (serializable) plus
    * the prepared hadoop conf — built once on the driver, shipped to
    * every task. */
  def prepareFactory(spark: SparkSession, schema: StructType)
      : (OutputWriterFactory, SerializableConfiguration) = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    (factory, new SerializableConfiguration(job.getConfiguration))
  }
}

/** One metadata column the task writer tracks: recorded name, row
  * ordinal, extraction tag, and the column's type (read by the decimal
  * and cast-to-string tags). */
final case class GraftColSpec(name: String, ordinal: Int, tag: Int,
                              dataType: DataType)

/** One DERIVED bucket partition-value column: the writer records the
  * SET of `bucket(n, col)` ids each file holds under `key` — the
  * unarranged-frame generalization of the bucketed writer's singleton
  * (a plain writeData frame may mix residues within one file; the
  * manifest then carries the multi-value set). */
final case class GraftBucketPartSpec(
    key: String, ordinal: Int, tag: Int, n: Int)

/** Everything one write records per file ([[GraftWriteShim.specsFor]]):
  * zone columns, partition-value columns, derived bucket-id columns,
  * the bloom key, and the time zone cast-to-string partition values
  * format timestamps in. */
final case class GraftWriteSpecs(
    stats: Seq[GraftColSpec], parts: Seq[GraftColSpec],
    buckets: Seq[GraftBucketPartSpec], bloom: Option[GraftColSpec],
    timeZone: String)

/** Per-file write result shipped task → driver (bounded metadata: one
  * entry per written FILE). */
final case class GraftFileResult(
    path: String, rows: Long, bytes: Long, bucketId: Int,
    mins: Map[String, Long], maxs: Map[String, Long],
    nulls: Map[String, Long],
    parts: Map[String, Seq[String]],
    bloom: Option[Array[Byte]],
    sorted: Boolean) extends Serializable

final case class GraftWriteTaskResult(files: Seq[GraftFileResult])
    extends WriterCommitMessage

/** The serializable task factory: fans each task's rows out one parquet
  * file per bucket id (the singleton-per-file proof holds structurally,
  * whatever the incoming distribution), tracking all manifest metadata
  * inline. `bucketOrdinal = -1` = UNBUCKETED mode (one file per task,
  * no bucket recording, no sortedness claim) — the delta write's insert
  * side on plain tables. */
final class GraftBucketWriterFactory(
    dataDir: String,
    physicalSchema: StructType,
    bucketOrdinal: Int,
    bucketTag: Int,
    bucketCount: Int,
    metadata: GraftWriteSpecs,
    writerFactory: OutputWriterFactory,
    val conf: SerializableConfiguration,
    /** Per-file row cap (the V1 `maxRecordsPerFile` twin): a file
      * reaching it closes and rolls — how a clustered rewrite emits
      * target-SIZED files from fixed partitions. */
    maxRowsPerFile: Long = Long.MaxValue) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new GraftBucketDataWriter(this, partitionId, taskId)

  private[graftshim] def newOutputWriter(path: String, partitionId: Int,
                                         taskId: Long)
      : org.apache.spark.sql.execution.datasources.OutputWriter = {
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft-v2-write", 0), TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    writerFactory.newInstance(path, physicalSchema,
      new TaskAttemptContextImpl(conf.value, attempt))
  }

  private[graftshim] def specs = (bucketOrdinal, bucketTag, bucketCount,
    metadata, dataDir, maxRowsPerFile)
}

private[graftshim] final class GraftBucketDataWriter(
    factory: GraftBucketWriterFactory, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {

  private val (bucketOrd, bucketTag, n, metadata, dataDir, maxRowsPerFile) =
    factory.specs
  private val bloomBits = graft.table.SnapshotLog.BloomBits
  private val bloomHashes = graft.table.SnapshotLog.BloomHashes
  // decimal and cast-to-string columns take their own loops, so the
  // per-row loops over the directly-read tags stay branch-free
  private val (decStats, statsCols) =
    metadata.stats.partition(_.tag == GraftWriteShim.TDec)
  private val (anyParts, partCols) =
    metadata.parts.partition(_.tag == GraftWriteShim.TAny)
  private val castParts = anyParts.map(c => c.name ->
    org.apache.spark.sql.catalyst.expressions.Cast(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        c.ordinal, c.dataType, nullable = true),
      StringType, Some(metadata.timeZone)))
  private val bucketParts = metadata.buckets
  private val (decBloom, bloomCol) =
    metadata.bloom.partition(_.tag == GraftWriteShim.TDec)

  /** The shared bucket-id formula ([[GraftWriteShim.bucketIdAt]]):
    * murmur3(seed 42) of the key residue, floorMod n — byte-identical
    * to the SQL recording expression and the catalog function. */
  private def bucketIdOf(row: InternalRow): Int = {
    if (bucketOrd < 0) return 0 // unbucketed: one file per task
    GraftWriteShim.bucketIdAt(row, bucketOrd, bucketTag, n)
  }

  private final class FileState(val bucket: Int, roll: Int) {
    /** LRU stamp for the open-writer cap (monotonic write counter). */
    var lastUse = 0L
    val path =
      if (roll == 0) s"$dataDir/part-$partitionId-$taskId-b$bucket.parquet"
      else s"$dataDir/part-$partitionId-$taskId-b$bucket-r$roll.parquet"
    val writer = factory.newOutputWriter(path, partitionId, taskId)
    var rows = 0L
    val mins = mutable.Map.empty[String, Long]
    val maxs = mutable.Map.empty[String, Long]
    val nulls = mutable.Map.empty[String, Long]
    // partition-value sets; null marks an over-cap column (stop
    // collecting, record nothing — conservative: the file stays unprunable)
    val parts = mutable.Map.empty[String, mutable.Set[String]]
    metadata.parts.foreach(c => parts(c.name) = mutable.Set.empty)
    bucketParts.foreach(bp => parts(bp.key) = mutable.Set.empty)
    val bloom: Option[Array[Long]] =
      metadata.bloom.map(_ => new Array[Long](bloomBits / 64))
    // decimal zones whose value left the long range, and a decimal
    // bloom key that did: the file records no zone (no bloom) for them,
    // which keeps it under every prune
    val lostZones = mutable.Set.empty[String]
    var bloomLost = false
    // sortedness verified, never assumed: ascending nulls-first by the
    // bucket key — a violated file simply loses the stamp; unbucketed
    // writes claim nothing
    var sorted = bucketOrd >= 0
    var sawNonNullKey = false
    var lastLong = Long.MinValue
    var lastStr: UTF8String = _

    def update(row: InternalRow): Unit = {
      rows += 1
      statsCols.foreach { c =>
        if (row.isNullAt(c.ordinal))
          nulls(c.name) = nulls.getOrElse(c.name, 0L) + 1L
        else {
          val v = GraftWriteShim.longOf(row, c.ordinal, c.tag)
          if (!mins.contains(c.name) || v < mins(c.name)) mins(c.name) = v
          if (!maxs.contains(c.name) || v > maxs(c.name)) maxs(c.name) = v
          if (!nulls.contains(c.name)) nulls(c.name) = 0L
        }
      }
      partCols.foreach { c =>
        val set = parts(c.name)
        if (set != null && !row.isNullAt(c.ordinal)) {
          set += GraftWriteShim.stringOf(row, c.ordinal, c.tag)
          if (set.size > graft.table.SnapshotLog.MaxPartValuesPerFile)
            parts(c.name) = null // over-cap: record nothing for c
        }
      }
      bucketParts.foreach { bp =>
        val set = parts(bp.key)
        if (set != null) {
          // every row has a bucket id (both null branches land one)
          set += GraftWriteShim.bucketIdAt(row, bp.ordinal, bp.tag, bp.n).toString
          if (set.size > graft.table.SnapshotLog.MaxPartValuesPerFile)
            parts(bp.key) = null // over-cap: record nothing
        }
      }
      bloomCol.foreach { c =>
        if (!row.isNullAt(c.ordinal))
          bloom.foreach(bits => graft.functions.BloomFilterOps.set(
            bits, GraftWriteShim.longOf(row, c.ordinal, c.tag), bloomHashes))
      }
      if (sorted) checkOrder(row)
      decStats.foreach { c =>
        if (row.isNullAt(c.ordinal))
          nulls(c.name) = nulls.getOrElse(c.name, 0L) + 1L
        else GraftWriteShim.decimalLong(row, c) match {
          case Some(v) =>
            if (!mins.contains(c.name) || v < mins(c.name)) mins(c.name) = v
            if (!maxs.contains(c.name) || v > maxs(c.name)) maxs(c.name) = v
            if (!nulls.contains(c.name)) nulls(c.name) = 0L
          case None => lostZones += c.name
        }
      }
      castParts.foreach { case (name, cast) =>
        val set = parts(name)
        val v = if (set == null) null else cast.eval(row)
        if (v != null) {
          set += v.toString
          if (set.size > graft.table.SnapshotLog.MaxPartValuesPerFile)
            parts(name) = null // over-cap: record nothing for c
        }
      }
      decBloom.foreach { c =>
        if (!bloomLost && !row.isNullAt(c.ordinal))
          GraftWriteShim.decimalLong(row, c) match {
            case Some(v) => bloom.foreach(bits =>
              graft.functions.BloomFilterOps.set(bits, v, bloomHashes))
            case None => bloomLost = true
          }
      }
    }

    private def checkOrder(row: InternalRow): Unit = {
      if (row.isNullAt(bucketOrd)) {
        // asc nulls FIRST: a null after any non-null key breaks order
        if (sawNonNullKey) sorted = false
      } else if (bucketTag == GraftWriteShim.TString) {
        val v = row.getUTF8String(bucketOrd)
        if (sawNonNullKey && lastStr.compareTo(v) > 0) sorted = false
        else lastStr = v.clone() // row buffers are reused — copy out
        sawNonNullKey = true
      } else {
        val v = GraftWriteShim.longOf(row, bucketOrd, bucketTag)
        if (sawNonNullKey && lastLong > v) sorted = false
        else lastLong = v
        sawNonNullKey = true
      }
    }

    def finish(): GraftFileResult = {
      writer.close()
      val p = new Path(path)
      val bytes = p.getFileSystem(factory.conf.value).getFileStatus(p).getLen
      GraftFileResult(p.toUri.getPath, rows, bytes, bucket,
        (mins --= lostZones).toMap, (maxs --= lostZones).toMap, nulls.toMap,
        parts.toSeq.collect {
          case (c, s) if s != null && s.nonEmpty => c -> s.toSeq.sorted }.toMap,
        bloom.filterNot(_ => bloomLost).map { bits =>
          val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          bb.asLongBuffer().put(bits)
          bb.array()
        },
        sorted)
    }

    def abort(): Unit = {
      try writer.close() catch { case scala.util.control.NonFatal(_) => () }
      try {
        val p = new Path(path)
        p.getFileSystem(factory.conf.value).delete(p, false)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  private val open = mutable.Map.empty[Int, FileState]
  /** Files already closed by the open-writer cap (rolled), plus each
    * bucket's next roll index — a re-touched bucket opens a NEW file
    * (both individually sorted/stated; only the 1-file-per-bucket SMJ
    * sort elision is lost, never correctness). */
  private val rolled = mutable.ArrayBuffer.empty[GraftFileResult]
  private val rollIdx = mutable.Map.empty[Int, Int]
  private var writeSeq = 0L
  /** Cap on concurrently-open parquet writers per task (each holds
    * ~MBs of column buffers + a file handle): the engine-planned
    * clustered+sorted distribution keeps this at 1 in practice, but the
    * delta insert side and an engine that ignored the non-strict
    * distribution could otherwise fan out bucketCount writers at once
    * (the Iceberg fanout-writer hazard). Exceeding it closes the
    * least-recently-written file and rolls. */
  private val MaxOpenWriters = 16

  override def write(row: InternalRow): Unit = {
    val b = bucketIdOf(row)
    val st = open.getOrElseUpdate(b, {
      if (open.size >= MaxOpenWriters) {
        val lru = open.values.minBy(_.lastUse)
        rolled += lru.finish()
        open.remove(lru.bucket)
      }
      val r = rollIdx.getOrElse(b, 0)
      rollIdx(b) = r + 1
      new FileState(b, r)
    })
    writeSeq += 1
    st.lastUse = writeSeq
    st.update(row)
    st.writer.write(row)
    // per-file row cap (maxRecordsPerFile twin): close and roll
    if (st.rows >= maxRowsPerFile) {
      rolled += st.finish()
      open.remove(b)
    }
  }

  override def commit(): WriterCommitMessage =
    GraftWriteTaskResult(finishFiles())

  private[graftshim] def finishFiles(): Seq[GraftFileResult] = {
    val out = (rolled.toSeq ++ open.values.toSeq.map(_.finish()))
      .sortBy(_.bucketId)
    open.clear(); rolled.clear()
    out
  }

  override def abort(): Unit = {
    open.values.foreach(_.abort())
    // rolled files are already closed — delete their bytes too
    rolled.foreach { r =>
      try {
        val p = new Path(r.path)
        p.getFileSystem(factory.conf.value).delete(p, false)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  override def close(): Unit = ()
}

/** One posdelete file written by a delta task (path, recorded
  * positions, bytes, and the `_graft_file` values it names — None past
  * the partition-value cap). */
final case class GraftPosFileResult(path: String, rows: Long, bytes: Long,
                                    files: Option[Seq[String]])
    extends Serializable

/** A delta task's combined result: new data files + the task's
  * positional-delete file, if any rows were deleted. */
final case class GraftDeltaTaskResult(
    data: Seq[GraftFileResult],
    pos: Option[GraftPosFileResult]) extends WriterCommitMessage

/** Task factory of the DELTA-based row-level write (r14
  * SupportsRowLevelOperations): INSERT rows fan through the same
  * inline-stats data writer the batch write uses; DELETE rows record
  * their (file, ordinal) row ids into one positional-delete parquet
  * file per task — the deletion-vector form every masked read already
  * consumes. UPDATEs never reach the writer (the operation declares
  * representUpdateAsDeleteAndInsert). */
final class GraftDeltaWriterFactory(
    dataFactory: GraftBucketWriterFactory,
    posDir: String,
    posSchema: StructType,
    posFactory: OutputWriterFactory,
    conf: SerializableConfiguration) extends org.apache.spark.sql.connector.write.DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
      private val inner = new GraftBucketDataWriter(dataFactory, partitionId, taskId)
      private var posWriter: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private val posPath = s"$posDir/delete-$partitionId-$taskId.parquet"
      private var posRows = 0L
      // the files this task's deletes name; null once over the cap
      private var posFiles = mutable.Set.empty[String]

      override def insert(row: InternalRow): Unit = inner.write(row)

      /** `id` is the rowId projection in DECLARED order: (file, pos) —
        * exactly the posdelete file schema; written verbatim. */
      override def delete(metadata: InternalRow, id: InternalRow): Unit = {
        if (posWriter == null) {
          val attempt = new TaskAttemptID(
            new TaskID(new JobID("graft-v2-delta", 0), TaskType.MAP, partitionId),
            (taskId % Int.MaxValue).toInt)
          posWriter = posFactory.newInstance(posPath, posSchema,
            new TaskAttemptContextImpl(conf.value, attempt))
        }
        posWriter.write(id)
        posRows += 1
        if (posFiles != null) {
          posFiles += id.getUTF8String(0).toString
          if (posFiles.size > graft.table.SnapshotLog.MaxPartValuesPerFile)
            posFiles = null
        }
      }

      override def update(metadata: InternalRow, id: InternalRow,
                          row: InternalRow): Unit =
        throw new IllegalStateException(
          "graft delta write: updates arrive as delete+insert " +
            "(representUpdateAsDeleteAndInsert)")

      override def commit(): WriterCommitMessage = {
        val pos =
          if (posWriter == null) None
          else {
            posWriter.close()
            val p = new Path(posPath)
            Some(GraftPosFileResult(p.toUri.getPath, posRows,
              p.getFileSystem(conf.value).getFileStatus(p).getLen,
              Option(posFiles).map(_.toSeq.sorted)))
          }
        GraftDeltaTaskResult(inner.finishFiles(), pos)
      }

      override def abort(): Unit = {
        inner.abort()
        if (posWriter != null) {
          try posWriter.close() catch { case scala.util.control.NonFatal(_) => () }
          try {
            val p = new Path(posPath)
            p.getFileSystem(conf.value).delete(p, false)
          } catch { case scala.util.control.NonFatal(_) => () }
        }
      }

      override def close(): Unit = ()
    }
}
