package graft.cdc

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.schema.Schemas

/** One incremental CDC sync of a single table — the full pipeline of the
  * reference's enhanced job (/root/reference/glue-jobs/
  * kafka_to_s3_enhanced.py:71-223), Spark-first:
  *
  *   resume (offset state → startingOffsets) → scan → empty-delta gate →
  *   decode/project ([[Envelope.decode]]) → max-offset HWM → parquet
  *   append → offset commit (write BEFORE commit = at-least-once).
  *
  * Deliberate divergences from the reference, each flagged:
  *  - the reference scans the delta 2-3× (count at
  *    kafka_to_s3_batch.py:74,77, again for the write at :110); here the
  *    record count and max-offset HWM ride the WRITE pass itself as
  *    `observe()` metrics, so a non-empty sync scans the delta exactly
  *    once — no persist footprint, no separate count/agg jobs. The
  *    empty-delta gate is a limit-1 existence probe, the only extra read.
  *  - `coalesce(1)` — the reference's one-file-per-sync invariant
  *    (kafka_to_s3_enhanced.py:203) — is a parity flag, default OFF: at
  *    scale it serializes the write into a single task. The engine's own
  *    mode lets the write inherit the scan's parallelism.
  *  - `snapshotted` (default OFF = reference parity): route every sync
  *    through the [[graft.table.SnapshotLog]] commit protocol instead of
  *    a bare directory append — each sync becomes one atomic `append`
  *    snapshot carrying per-file offset stats, readers get snapshot
  *    isolation / time travel / snapshot-diff, and the debug sample reads
  *    back through manifest-level offset pruning. With
  *    `partitionBySyncDate` ALSO on, the snapshot keeps the partitioned
  *    layout the plain mode gets from `partitionBy` directories — but
  *    manifest-native: the write clusters by `sync_date`, each file's
  *    partition-value set is recorded in the manifest
  *    ([[graft.table.SnapshotLog.readPruned]] prunes on it), and the
  *    column stays in the data. A date-bounded read then skips other
  *    partitions' files from metadata alone, same as directory pruning
  *    but with snapshot isolation on top. This is the capability
  *    the reference ships Iceberg jars for but never uses
  *    (docker/glue/Dockerfile:40-41,53; run_pipeline.sh:145).
  */
final case class SyncResult(table: String, records: Long, maxOffset: Long, wrote: Boolean)

final class SyncJob(source: CdcSource, offsets: OffsetStore, warehouseDir: String,
                    singleFile: Boolean = false, debugSink: Boolean = false,
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

  def sync(spark: SparkSession, table: String): SyncResult = {
    val topic = Schemas.topicFor(table)
    val starting = offsets.startingOffsetsFor(table, topic)
    val wire = source.read(spark, topic, starting)

    // kafka_partition rides through decode ONLY to feed the per-partition
    // HWM metric below; it is dropped before the sink
    val decoded0 = Envelope.decode(wire, table, keepPartition = true)
    // Scale extension (off in parity mode): lay the warehouse out as
    // sync_date=YYYY-MM-DD partition directories derived from the Kafka
    // record timestamp. Readers filtering on sync_date then prune whole
    // partitions at plan time instead of scanning the full history — the
    // difference between a bounded daily read and a 100 TB table scan.
    val decoded =
      if (partitionBySyncDate)
        decoded0.withColumn("sync_date", to_date(col("kafka_timestamp")))
      else decoded0
    if (decoded.isEmpty) {
      // empty delta: no write, no offset commit (kafka_to_s3_enhanced.py:155,220-223)
      SyncResult(table, 0L, offsets.lastOffset(table), wrote = false)
    } else {
      // count + HWM are observe() metrics collected BY the write job:
      // accumulator-backed, exact for a foreach-style sink action, zero
      // extra passes over the delta at any scale. The per-PARTITION HWM
      // rides the same pass as a keyed_max map (one entry per Kafka
      // partition — O(partitions) metric bytes, never a second scan), so
      // a multi-partition topic resumes each partition from its own mark.
      val obs = org.apache.spark.sql.Observation()
      val observed = decoded.observe(obs,
          count(lit(1)).as("n"), max(col("kafka_offset")).as("hwm"),
          min(col("kafka_offset")).as("lo"),
          graft.functions.GraftFunctions
            .keyed_max(col("kafka_partition"), col("kafka_offset")).as("phwm"))
        .drop("kafka_partition")
      val out = if (singleFile) observed.coalesce(1) else observed
      if (snapshotted) {
        // stage immutable data files, then publish them as ONE atomic
        // append snapshot; a crash between the two leaves only invisible
        // orphans (swept by expireSnapshots), never a torn table. A
        // partitioned snapshot clusters the write by sync_date so each
        // file holds (usually) one date — the manifest records the
        // per-file value set for partition pruning.
        val staged =
          if (partitionBySyncDate && !singleFile) out.repartition(col("sync_date"))
          else out
        val partCols = if (partitionBySyncDate) Seq("sync_date") else Nil
        val mOpt: Map[String, Any] = if (wap) {
          // WRITE-AUDIT-PUBLISH: the reference verifies its sink AFTER
          // the write is already visible (cdc_auto_sync_every_5min.py:
          // 117-171) — here the verification runs BEFORE visibility:
          // stage invisibly, read the staged files back and require the
          // count to equal the observed delta (a torn or partial write
          // is discarded, offsets stay put, the next cron re-syncs),
          // only then publish atomically.
          val token = SnapshotLog.stageAppend(staged, tableDir(table),
            statsCol = Some("kafka_offset"), partitionCols = partCols,
            summary = Map("table" -> table))
          val m = obs.get
          val n = m("n").asInstanceOf[Long]
          val stagedN = SnapshotLog.readStagedOnly(spark, tableDir(table), token).count()
          if (stagedN == n) {
            SnapshotLog.publishStaged(spark, tableDir(table), token)
            m
          } else {
            SnapshotLog.discardStaged(spark, tableDir(table), token)
            System.err.println(s"[sync] WAP audit failed for $table: staged " +
              s"$stagedN rows != observed $n — discarded; offsets unchanged")
            return SyncResult(table, 0L, offsets.lastOffset(table), wrote = false)
          }
        } else {
          val files = SnapshotLog.writeData(staged, tableDir(table),
            statsCol = Some("kafka_offset"), partitionCols = partCols)
          val m = obs.get
          val (n, maxOffset) = (m("n").asInstanceOf[Long], m("hwm").asInstanceOf[Long])
          SnapshotLog.commit(spark, tableDir(table), "append", files,
            summary = Map("table" -> table, "records" -> n.toString,
              "hwm" -> maxOffset.toString))
          m
        }
        val m = mOpt
        val (n, maxOffset) = (m("n").asInstanceOf[Long], m("hwm").asInstanceOf[Long])
        offsets.commitPartitioned(table, partitionHwm(m), n) // strictly after the snapshot
        if (debugSink) {
          // manifest-pruned read-back: only files whose offset range
          // intersects this sync's delta are even opened
          SnapshotLog.readRange(spark, tableDir(table),
              m("lo").asInstanceOf[Long], maxOffset)
            .foreach(_.filter(col("kafka_offset")
              .between(m("lo").asInstanceOf[Long], maxOffset))
              .show(3, truncate = false))
          decoded.printSchema()
        }
        SyncResult(table, n, maxOffset, wrote = true)
      } else {
      val writer = out.write.mode("append")
      (if (partitionBySyncDate) writer.partitionBy("sync_date") else writer)
        .parquet(s"$warehouseDir/${table}_parquet")
      val m = obs.get
      val (n, maxOffset) = (m("n").asInstanceOf[Long], m("hwm").asInstanceOf[Long])
      offsets.commitPartitioned(table, partitionHwm(m), n) // strictly after the write
      if (debugSink) { // reference's sample display (kafka_to_s3_enhanced.py:219)
        // Sample from the parquet just WRITTEN (offset-pruned columnar
        // scan) rather than re-running decode — "a non-empty sync scans
        // the delta exactly once" stays true with the flag on.
        // printSchema is plan-only, no job.
        spark.read.parquet(s"$warehouseDir/${table}_parquet")
          .filter(col("kafka_offset").between(m("lo").asInstanceOf[Long], maxOffset))
          .show(3, truncate = false)
        decoded.printSchema()
      }
      SyncResult(table, n, maxOffset, wrote = true)
      }
    }
  }

  /** One table's delta STAGED invisibly (write-audit, no publish) — the
    * first phase of an EPOCH fan-out. `token` is None for an empty delta
    * or a failed audit (already discarded); `partitionHwm` carries the
    * per-partition offset marks the later offset commit needs. */
  final case class StagedSync(table: String, token: Option[String],
                              records: Long, maxOffset: Long,
                              partitionHwm: Map[Int, Long])

  /** Stage one table's sync without making it visible — the same decode →
    * observe → stage → audit pipeline as [[sync]]'s WAP path, but the
    * PUBLISH is deferred to [[publishEpoch]] so all tables of a fan-out
    * become visible as one unit. Offsets are NOT committed here. */
  def stageSync(spark: SparkSession, table: String): StagedSync = {
    require(snapshotted, "epoch staging routes through the snapshot log: " +
      "construct the SyncJob with snapshotted = true")
    val topic = Schemas.topicFor(table)
    val starting = offsets.startingOffsetsFor(table, topic)
    val wire = source.read(spark, topic, starting)
    val decoded0 = Envelope.decode(wire, table, keepPartition = true)
    val decoded =
      if (partitionBySyncDate)
        decoded0.withColumn("sync_date", to_date(col("kafka_timestamp")))
      else decoded0
    if (decoded.isEmpty)
      return StagedSync(table, None, 0L, offsets.lastOffset(table), Map.empty)
    val obs = org.apache.spark.sql.Observation()
    val observed = decoded.observe(obs,
        count(lit(1)).as("n"), max(col("kafka_offset")).as("hwm"),
        graft.functions.GraftFunctions
          .keyed_max(col("kafka_partition"), col("kafka_offset")).as("phwm"))
      .drop("kafka_partition")
    val out = if (singleFile) observed.coalesce(1) else observed
    val staged =
      if (partitionBySyncDate && !singleFile) out.repartition(col("sync_date"))
      else out
    val partCols = if (partitionBySyncDate) Seq("sync_date") else Nil
    val token = SnapshotLog.stageAppend(staged, tableDir(table),
      statsCol = Some("kafka_offset"), partitionCols = partCols,
      summary = Map("table" -> table))
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    // the isEmpty probe and the staging write are SEPARATE jobs over an
    // external source: if the second read observed zero rows, m("hwm")
    // is null (unboxing would NPE after the append was already staged,
    // leaking the token) — treat it like the audit-failure path
    if (n == 0L) {
      SnapshotLog.discardStaged(spark, tableDir(table), token)
      return StagedSync(table, None, 0L, offsets.lastOffset(table), Map.empty)
    }
    val stagedN = SnapshotLog.readStagedOnly(spark, tableDir(table), token).count()
    if (stagedN != n) {
      SnapshotLog.discardStaged(spark, tableDir(table), token)
      System.err.println(s"[sync] epoch-stage audit failed for $table: " +
        s"staged $stagedN rows != observed $n — discarded; offsets unchanged")
      return StagedSync(table, None, 0L, offsets.lastOffset(table), Map.empty)
    }
    StagedSync(table, Some(token), n, m("hwm").asInstanceOf[Long], partitionHwm(m))
  }

  /** Phase two of the epoch fan-out: publish every staged append (per-
    * table atomic commits), then ONE epoch marker pinning each table's
    * resulting snapshot ([[graft.table.SyncEpoch]] — the instant the
    * whole fan-out becomes visible as a consistent unit to epoch
    * readers), then the offset commits (strictly after durability — the
    * at-least-once contract [[sync]] keeps). Tables with an empty delta
    * or failed audit pin their UNCHANGED current snapshot, so the epoch
    * still names a consistent all-table state. Returns the per-table
    * results and the published epoch id (None when no table has any
    * snapshot yet). */
  def publishEpoch(spark: SparkSession,
                   staged: Seq[StagedSync]): (Seq[SyncResult], Option[Long]) = {
    val pinned = staged.map { s =>
      val id = s.token match {
        case Some(tok) => SnapshotLog.publishStaged(spark, tableDir(s.table), tok)
        case None => SnapshotLog.currentSnapshotId(spark, tableDir(s.table))
          .getOrElse(0L)
      }
      s.table -> id
    }.filter(_._2 > 0L).toMap
    val epoch =
      if (pinned.isEmpty) None
      else Some(graft.table.SyncEpoch.publish(spark, warehouseDir, pinned))
    staged.foreach(s => s.token.foreach(_ =>
      offsets.commitPartitioned(s.table, s.partitionHwm, s.records)))
    (staged.map(s =>
      SyncResult(s.table, s.records, s.maxOffset, wrote = s.token.isDefined)),
      epoch)
  }

  /** The reference fans out 4 tables as parallel Airflow tasks
    * (cdc_auto_sync_every_5min.py:263-264); here tables run as concurrent
    * Spark jobs inside one session (fair-scheduled threads).
    */
  def syncAll(spark: SparkSession, tables: Seq[String]): Seq[SyncResult] = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(tables)(t => Future(sync(spark, t))), Duration.Inf)
  }

  /** Sink verification à la the DAG's parquet read-back
    * (cdc_auto_sync_every_5min.py:141-156): rows currently visible per table. */
  def verifyCounts(spark: SparkSession, tables: Seq[String]): Map[String, Long] =
    tables.map { t =>
      val p = s"$warehouseDir/${t}_parquet"
      val n =
        if (snapshotted) SnapshotLog.read(spark, p).map(_.count()).getOrElse(0L)
        else try spark.read.parquet(p).count() catch { case _: Exception => 0L }
      t -> n
    }.toMap
}
