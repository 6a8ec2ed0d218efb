package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftParquetSchema
import graft.schema.Schemas

/** One incremental CDC sync of a single table — the full pipeline of the
  * reference's enhanced job (/root/reference/glue-jobs/
  * kafka_to_s3_enhanced.py:71-223), Spark-first:
  *
  *   resume (offset state → startingOffsets) → scan → decode/project
  *   ([[Envelope.decode]]) → max-offset HWM → parquet write → offset
  *   commit (write BEFORE commit = at-least-once).
  *
  * Deliberate divergences from the reference, each flagged:
  *  - the reference scans the delta 2-3× (count at
  *    kafka_to_s3_batch.py:74,77, again for the write at :110); here the
  *    record count and max-offset HWM ride the WRITE pass itself as
  *    `observe()` metrics, so a snapshot sync scans the delta exactly
  *    once — no persist footprint, no existence probe, no separate
  *    count/agg jobs. An empty delta stages no file, and the zero count
  *    the write observed discards the stage. The flat layout keeps a
  *    limit-1 existence probe before its write, because Spark writes a
  *    schema-only part file for an empty frame.
  *  - `coalesce(1)` — the reference's one-file-per-sync invariant
  *    (kafka_to_s3_enhanced.py:203) — is a parity flag, default OFF: at
  *    scale it serializes the write into a single task. The engine's own
  *    mode lets the write inherit the scan's parallelism.
  *  - `snapshotted` (default OFF = reference parity): route every sync
  *    through the [[graft.table.SnapshotLog]] commit protocol instead of
  *    a bare directory append. A sync stages its data files invisibly
  *    ([[stageSync]]) and publishes them as one atomic `append` snapshot
  *    carrying per-file offset stats; readers get snapshot isolation /
  *    time travel / snapshot-diff. With `partitionBySyncDate` ALSO on,
  *    the snapshot keeps the partitioned layout the plain mode gets from
  *    `partitionBy` directories — but manifest-native: the write
  *    clusters by `sync_date`, each file's partition-value set is
  *    recorded in the manifest ([[graft.table.SnapshotLog.readPruned]]
  *    prunes on it), and the column stays in the data. A date-bounded
  *    read then skips other partitions' files from metadata alone, same
  *    as directory pruning but with snapshot isolation on top. This is
  *    the capability the reference ships Iceberg jars for but never uses
  *    (docker/glue/Dockerfile:40-41,53; run_pipeline.sh:145).
  *  - `wap` (snapshot mode): WRITE-AUDIT-PUBLISH. The reference verifies
  *    its sink AFTER the write is already visible
  *    (cdc_auto_sync_every_5min.py:117-171); here the staged files'
  *    parquet footers must hold exactly the observed delta's row count
  *    BEFORE the publish. A torn or partial write is discarded, offsets
  *    stay put, the next cron re-syncs.
  */
final case class SyncResult(table: String, records: Long, maxOffset: Long, wrote: Boolean)

final class SyncJob(source: CdcSource, offsets: OffsetStore, warehouseDir: String,
                    singleFile: Boolean = false,
                    partitionBySyncDate: Boolean = false,
                    snapshotted: Boolean = false,
                    wap: Boolean = false) {
  import graft.table.SnapshotLog

  private def tableDir(table: String) = s"$warehouseDir/${table}_parquet"

  /** The per-partition HWM map out of the observe() metrics row: the
    * keyed_max metric arrives as a map<bigint,bigint> value. */
  private def partitionHwm(m: Map[String, Any]): Map[Int, Long] =
    m("phwm").asInstanceOf[scala.collection.Map[Any, Any]].map {
      case (k, v) => k.asInstanceOf[Number].intValue -> v.asInstanceOf[Number].longValue
    }.toMap

  /** The table's decoded delta since its committed offsets.
    * `kafka_partition` rides through decode ONLY to feed the
    * per-partition HWM metric of [[observed]]. With `partitionBySyncDate`
    * (off in parity mode) a `sync_date` column derived from the Kafka
    * record timestamp lets readers filtering on it prune whole partitions
    * instead of scanning the full history. */
  private def delta(spark: SparkSession, table: String): DataFrame = {
    val topic = Schemas.topicFor(table)
    val wire = source.read(spark, topic, offsets.startingOffsetsFor(table, topic))
    val decoded = Envelope.decode(wire, table, keepPartition = true)
    if (partitionBySyncDate) decoded.withColumn("sync_date", to_date(col("kafka_timestamp")))
    else decoded
  }

  /** `decoded` as the sink writes it. Count and HWM are observe() metrics
    * collected BY the write job: accumulator-backed, exact for a
    * foreach-style sink action, zero extra passes over the delta at any
    * scale. The per-PARTITION HWM rides the same pass as a keyed_max map
    * (one entry per Kafka partition — O(partitions) metric bytes, never a
    * second scan), so a multi-partition topic resumes each partition from
    * its own mark. A partitioned snapshot clusters the write by
    * `sync_date` so each file holds (usually) one date. */
  private def observed(decoded: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val out = decoded.observe(obs,
        count(lit(1)).as("n"), max(col("kafka_offset")).as("hwm"),
        graft.functions.GraftFunctions
          .keyed_max(col("kafka_partition"), col("kafka_offset")).as("phwm"))
      .drop("kafka_partition")
    val shaped =
      if (singleFile) out.coalesce(1)
      else if (snapshotted && partitionBySyncDate) out.repartition(col("sync_date"))
      else out
    (shaped, obs)
  }

  /** One table's sync: in snapshot mode [[stageSync]] then a one-table
    * [[publish]]; in the flat layout a directory append. */
  def sync(spark: SparkSession, table: String): SyncResult =
    if (snapshotted) publish(spark, Seq(stageSync(spark, table))).head
    else syncFlat(spark, table)

  /** The reference-parity flat layout: append parquet to the table
    * directory, then commit the offsets. */
  private def syncFlat(spark: SparkSession, table: String): SyncResult = {
    Compaction.recoverSwap(spark, warehouseDir, table)
    val decoded = delta(spark, table)
    // empty delta: no write, no offset commit (kafka_to_s3_enhanced.py:155,220-223)
    if (decoded.isEmpty) return SyncResult(table, 0L, offsets.lastOffset(table), wrote = false)
    val (out, obs) = observed(decoded)
    val writer = out.write.mode("append")
    (if (partitionBySyncDate) writer.partitionBy("sync_date") else writer)
      .parquet(tableDir(table))
    val m = obs.get
    val (n, maxOffset) = (m("n").asInstanceOf[Long], m("hwm").asInstanceOf[Long])
    offsets.commitPartitioned(table, partitionHwm(m), n) // strictly after the write
    SyncResult(table, n, maxOffset, wrote = true)
  }

  /** One table's delta STAGED invisibly (no publish). `token` is None for
    * an empty delta or a failed audit (already discarded);
    * `partitionHwm` carries the per-partition offset marks the later
    * offset commit needs. */
  final case class StagedSync(table: String, token: Option[String],
                              records: Long, maxOffset: Long,
                              partitionHwm: Map[Int, Long])

  /** Stage one table's sync without making it visible: decode → observe
    * → stage, plus the footer audit under `wap`. The publish is
    * [[publish]]'s or [[publishEpoch]]'s. Offsets are NOT committed
    * here. */
  def stageSync(spark: SparkSession, table: String): StagedSync = {
    require(snapshotted, "staging routes through the snapshot log: " +
      "construct the SyncJob with snapshotted = true")
    val dir = tableDir(table)
    val (out, obs) = observed(delta(spark, table))
    val token = SnapshotLog.stageAppend(out, dir,
      statsCol = Some("kafka_offset"),
      partitionCols = if (partitionBySyncDate) Seq("sync_date") else Nil,
      summary = Map("table" -> table))
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    val stagedN = if (wap && n > 0L) SnapshotLog.stagedRowCount(spark, dir, token) else n
    if (stagedN != n) System.err.println(s"[sync] WAP audit failed for $table: " +
      s"staged $stagedN rows != observed $n — discarded; offsets unchanged")
    // an empty delta staged no file (and its HWM is null): drop the stage
    if (n > 0L && stagedN == n)
      StagedSync(table, Some(token), n, m("hwm").asInstanceOf[Long], partitionHwm(m))
    else {
      SnapshotLog.discardStaged(spark, dir, token)
      StagedSync(table, None, 0L, offsets.lastOffset(table), Map.empty)
    }
  }

  private def publishStaged(spark: SparkSession, s: StagedSync): Option[Long] =
    s.token.map(SnapshotLog.publishStaged(spark, tableDir(s.table), _))

  private def commitOffsets(s: StagedSync): Unit =
    if (s.token.isDefined) offsets.commitPartitioned(s.table, s.partitionHwm, s.records)

  private def result(s: StagedSync): SyncResult =
    SyncResult(s.table, s.records, s.maxOffset, wrote = s.token.isDefined)

  /** Publish each staged append as its own atomic commit, then commit its
    * offsets (strictly after durability — the at-least-once contract). */
  def publish(spark: SparkSession, staged: Seq[StagedSync]): Seq[SyncResult] =
    staged.map { s => publishStaged(spark, s); commitOffsets(s); result(s) }

  /** [[publish]] for an EPOCH fan-out: every staged append first, then
    * ONE epoch marker pinning each table's resulting snapshot
    * ([[graft.table.SyncEpoch]] — the instant the whole fan-out becomes
    * visible as a consistent unit to epoch readers), then the offset
    * commits. Tables with an empty delta or failed audit pin their
    * UNCHANGED current snapshot, so the epoch still names a consistent
    * all-table state. Returns the per-table results and the published
    * epoch id (None when no table has any snapshot yet). */
  def publishEpoch(spark: SparkSession,
                   staged: Seq[StagedSync]): (Seq[SyncResult], Option[Long]) = {
    val pinned = staged.map { s =>
      s.table -> publishStaged(spark, s)
        .orElse(SnapshotLog.currentSnapshotId(spark, tableDir(s.table))).getOrElse(0L)
    }.filter(_._2 > 0L).toMap
    val epoch =
      if (pinned.isEmpty) None
      else Some(graft.table.SyncEpoch.publish(spark, warehouseDir, pinned))
    staged.foreach(commitOffsets)
    (staged.map(result), epoch)
  }

  /** The reference fans out 4 tables as parallel Airflow tasks
    * (cdc_auto_sync_every_5min.py:263-264); here tables run as concurrent
    * Spark jobs inside one session (fair-scheduled threads). */
  private def fanOut[T](tables: Seq[String])(f: String => T): Seq[T] = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(tables)(t => Future(f(t))), Duration.Inf)
  }

  /** [[stageSync]] over several tables concurrently. */
  def stageAll(spark: SparkSession, tables: Seq[String]): Seq[StagedSync] =
    fanOut(tables)(stageSync(spark, _))

  /** Flat-layout syncs over several tables concurrently; a snapshot run
    * stages with [[stageAll]] and publishes once. */
  def syncAll(spark: SparkSession, tables: Seq[String]): Seq[SyncResult] = {
    require(!snapshotted, "a snapshot fan-out is stageAll + publish")
    fanOut(tables)(syncFlat(spark, _))
  }

  /** Sink verification à la the DAG's parquet read-back
    * (cdc_auto_sync_every_5min.py:141-156): rows currently visible per
    * table, summed from the parquet footers of the files a read would
    * scan — the row-group counts a column-less `count()` reads, without a
    * Spark job. A snapshot carrying mask files counts through its masked
    * read instead. */
  def verifyCounts(spark: SparkSession, tables: Seq[String]): Map[String, Long] =
    tables.map { t =>
      val p = tableDir(t)
      val n =
        if (snapshotted) {
          val files = SnapshotLog.filesAt(spark, p)
          if (files.exists(SnapshotLog.isMask))
            SnapshotLog.read(spark, p).map(_.count()).getOrElse(0L)
          else GraftParquetSchema.rowCount(spark, files.map(_.path))
        } else GraftParquetSchema.rowCount(spark,
          Compaction.dataFiles(spark, new Path(p)).map(_._1.toString))
      t -> n
    }.toMap
}
