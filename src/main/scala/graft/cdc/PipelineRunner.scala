package graft.cdc

import org.apache.spark.sql.SparkSession
import graft.schema.Schemas

/** End-to-end pipeline driver — the engine-side composition of the
  * reference's orchestration DAG (/root/reference/airflow/dags/
  * cdc_auto_sync_every_5min.py:262-264: configure → health → [4-table
  * sync fan-out] → verify → reconcile) and its bootstrap runner
  * (/root/reference/run_pipeline.py:1-143).
  *
  * Stage mapping:
  *  - configure  = ensure the warehouse root exists (the `aws s3 mb`
  *                 bucket ensure-exists, cdc_auto_sync_every_5min.py:38-69)
  *  - health     = per-topic source availability probe (the Debezium
  *                 connector-status GET, :72-87 — failures are reported
  *                 but tolerated, matching the DAG's lenient `:84-86`)
  *  - sync       = [[SyncJob.syncAll]] over the 4 tables, concurrent
  *                 (the DAG's parallel `process_<table>` tasks, :89-114)
  *  - verify     = parquet read-back counts ([[SyncJob.verifyCounts]],
  *                 the `aws s3 ls` file-count check, :117-171)
  *  - reconcile  = source-vs-sink row counts (the Postgres COUNT(*)
  *                 reconciliation, :174-184 / run_pipeline.sh:174-182)
  *
  * CLI accepts the reference's argument style (`--key=value` and
  * `--key value`, kafka_to_s3_enhanced.py:14-34).
  */
object PipelineRunner {

  final case class TableReport(table: String, synced: Long, maxOffset: Long,
                               sourceRows: Long, sinkRows: Long,
                               maintenance: Seq[String] = Nil) {
    def consistent: Boolean = sourceRows == sinkRows
  }
  final case class PipelineReport(healthy: Map[String, Boolean],
                                  tables: Seq[TableReport]) {
    def allConsistent: Boolean = tables.forall(_.consistent)
  }

  val DefaultTables: Seq[String] = Seq("orders", "customers", "products", "order_items")

  /** `--key=value` and `--key value` into a map (reference arg surface). */
  def parseArgs(args: Array[String]): Map[String, String] = {
    val out = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val eq = a.indexOf('=')
        if (eq >= 0) { out(a.substring(2, eq)) = a.substring(eq + 1); i += 1 }
        else if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
          out(a.substring(2)) = args(i + 1); i += 2
        } else { out(a.substring(2)) = "true"; i += 1 }
      } else i += 1
    }
    out.toMap
  }

  /** Pay the debts the [[graft.table.Advisor]] names on one snapshot
    * table — the maintenance loop a platform cron runs per table, here
    * wired directly after each sync so repeated runs keep file counts,
    * mask debt and history depth bounded WITHOUT manual maintenance
    * calls. Each pass rewrites the table at most once:
    *  - materialization (mask debt) rewrites every data file into fresh
    *    key-range-clustered output, so it also pays any small-file debt
    *    found before it — bin-packing that output again would re-read
    *    the table and undo its clustering;
    *  - otherwise a named compaction runs, and on a masked table its
    *    rewrite folds the masks in, so mask-file consolidation (the
    *    cheap fallback when only the mask-file count fired) runs only
    *    when no compaction does;
    *  - retention runs last.
    * Each step goes through the same soak-tested commit protocol, so the
    * loop is safe to run while other writers append. Returns the actions
    * actually paid. */
  def maintainTable(spark: SparkSession, warehouseDir: String, table: String,
                    retainLast: Int = 5,
                    targetBytes: Long = 128L * 1024 * 1024): Seq[String] = {
    import graft.table.{Advisor, Merge, SnapshotLog}
    val dir = s"$warehouseDir/${table}_parquet"
    if (SnapshotLog.currentSnapshotId(spark, dir).isEmpty) return Nil
    val findings = Advisor.advise(spark, dir, targetBytes = targetBytes,
      retainLast = retainLast).collect().map(_.getString(0)).toSet
    val paid = scala.collection.mutable.ArrayBuffer.empty[String]
    if (findings.contains("materialize_deletes")) {
      Merge.materializeDeletes(spark, dir).foreach(_ => paid += "materialize_deletes")
    } else if (findings.contains("compact")) {
      val r = Compaction.compactSnapshotted(spark, warehouseDir, table, targetBytes)
      if (r.filesAfter < r.filesBefore) paid += "compact"
    } else if (findings.contains("consolidate_masks")) {
      Merge.consolidateMasks(spark, dir).foreach(_ => paid += "consolidate_masks")
    }
    if (findings.contains("expire_snapshots")) {
      val (dropped, _) = SnapshotLog.expireSnapshots(spark, dir, retainLast = retainLast)
      if (dropped > 0) paid += "expire_snapshots"
    }
    paid.toSeq
  }

  /** One full pipeline pass; idempotent given a persistent offset dir
    * (a re-run with no new source records syncs 0 and stays consistent).
    * With `compactTargetBytes` set, a [[Compaction]] pass runs after the
    * sync fan-out and BEFORE verify/reconcile — so the counts double as
    * the compaction's external consistency check. With `autoMaintain`
    * (snapshot mode only), the advisor-driven [[maintainTable]] loop
    * runs instead: debts are diagnosed from manifests and paid only when
    * named. */
  def run(spark: SparkSession, fixtureDir: String, warehouseDir: String,
          offsetDir: String, tables: Seq[String] = DefaultTables,
          singleFile: Boolean = false,
          compactTargetBytes: Option[Long] = None,
          snapshotted: Boolean = false,
          autoMaintain: Boolean = false,
          retainLast: Int = 5,
          wap: Boolean = false,
          epoch: Boolean = false): PipelineReport = {
    // configure: warehouse root must exist before the first append
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(warehouseDir))

    // health: is each topic's source present? (tolerated like the DAG)
    val healthy = tables.map { t =>
      val topicFile = s"$fixtureDir/${Schemas.topicFor(t)}.jsonl"
      t -> java.nio.file.Files.exists(java.nio.file.Paths.get(topicFile))
    }.toMap
    healthy.collect { case (t, false) => t }
      .foreach(t => System.err.println(s"[pipeline] WARNING: no source for $t (continuing)"))

    // sync fan-out (concurrent per-table jobs in one session)
    val source = new FileCdcSource(fixtureDir)
    val offsets = new OffsetStore(offsetDir)
    val job = new SyncJob(source, offsets, warehouseDir, singleFile = singleFile,
      snapshotted = snapshotted, wap = (wap || epoch) && snapshotted)
    // --epoch (snapshot mode): the fan-out stages EVERY table invisibly,
    // then publishes all commits plus ONE epoch marker — readers joining
    // via SyncEpoch.readAt always see a consistent multi-table state,
    // never table A's new sync with table B's old one
    val synced =
      if (epoch && snapshotted) {
        import scala.concurrent.{Await, Future, ExecutionContext}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ExecutionContext.global
        val staged = Await.result(
          Future.traverse(tables.filter(healthy))(t =>
            Future(job.stageSync(spark, t))), Duration.Inf)
        val (results, epochId) = job.publishEpoch(spark, staged)
        epochId.foreach(id =>
          System.err.println(s"[pipeline] published sync epoch $id"))
        results
      } else {
        if (epoch)
          System.err.println("[pipeline] WARNING: --epoch needs --snapshots; skipped")
        job.syncAll(spark, tables.filter(healthy))
      }

    // maintenance (optional): compact the small-file ingest layout before
    // verification reads it back — failures abort before the swap, so the
    // verify stage still sees a complete warehouse either way
    compactTargetBytes.foreach { target =>
      tables.filter(healthy).foreach { t =>
        val r = Compaction.compact(spark, warehouseDir, t, target)
        if (r.filesAfter < r.filesBefore)
          System.err.println(s"[pipeline] compacted $t: ${r.filesBefore} -> ${r.filesAfter} files")
      }
    }

    // advisor-driven maintenance (snapshot mode): diagnose each table's
    // debt from manifests alone and pay exactly what was named
    val maintained: Map[String, Seq[String]] =
      if (autoMaintain && snapshotted)
        tables.filter(healthy).map { t =>
          val paid = maintainTable(spark, warehouseDir, t, retainLast = retainLast)
          if (paid.nonEmpty)
            System.err.println(s"[pipeline] maintained $t: ${paid.mkString(", ")}")
          t -> paid
        }.toMap
      else {
        if (autoMaintain)
          System.err.println("[pipeline] WARNING: --auto-maintain needs --snapshots; skipped")
        Map.empty
      }

    // verify: sink read-back
    val sinkCounts = job.verifyCounts(spark, tables)

    // reconcile: source truth = current wire record count per topic
    val reports = tables.map { t =>
      val src =
        if (healthy(t))
          source.read(spark, Schemas.topicFor(t), StartingOffsets.Earliest).count()
        else 0L
      val s = synced.find(_.table == t)
      TableReport(t, s.map(_.records).getOrElse(0L), s.map(_.maxOffset).getOrElse(-1L),
        src, sinkCounts.getOrElse(t, 0L), maintained.getOrElse(t, Nil))
    }
    PipelineReport(healthy, reports)
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val fixtureDir = a.getOrElse("fixture_dir", CdcQueries.FixtureDir)
    val warehouseDir = a.getOrElse("warehouse", "/tmp/graft_warehouse")
    val offsetDir = a.getOrElse("offset_dir", "/tmp/graft_offsets")
    val tables = a.get("tables").map(_.split(",").toSeq).getOrElse(DefaultTables)
    val singleFile = a.get("single_file").contains("true")
    val compactTarget = a.get("compact_target_bytes").map(_.toLong)
    // --snapshots: route every table through the SnapshotLog commit
    // protocol (atomic snapshots, time travel, snapshot-diff) — the mode
    // the reference's vestigial --iceberg_warehouse arg gestures at
    val snapshotted = a.get("snapshots").contains("true")
    // --auto-maintain: pay advisor-named debts after each snapshotted sync
    val autoMaintain = a.get("auto_maintain").contains("true") ||
      a.get("auto-maintain").contains("true")
    // --wap: stage each sync invisibly, audit the staged read-back
    // against the observed delta, publish only on success
    val wap = a.get("wap").contains("true")
    // --epoch: additionally publish ONE cross-table epoch marker per run
    val epoch = a.get("epoch").contains("true")
    val spark = graft.Sessions.local(appName = a.getOrElse("JOB_NAME", "graft-pipeline"))
    try {
      val report = run(spark, fixtureDir, warehouseDir, offsetDir, tables,
        singleFile, compactTarget, snapshotted, autoMaintain, wap = wap,
        epoch = epoch)
      // the reference's eyeball source-vs-sink report, machine-checkable
      println(f"${"table"}%-12s ${"synced"}%8s ${"hwm"}%6s ${"source"}%8s ${"sink"}%8s  status")
      report.tables.foreach { r =>
        val status = if (r.consistent) "OK" else "MISMATCH"
        println(f"${r.table}%-12s ${r.synced}%8d ${r.maxOffset}%6d ${r.sourceRows}%8d ${r.sinkRows}%8d  $status")
      }
      if (!report.allConsistent) sys.exit(2)
    } finally spark.stop()
  }
}
