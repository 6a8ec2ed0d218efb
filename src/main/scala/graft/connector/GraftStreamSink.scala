package graft.connector

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.streaming.OutputMode

import graft.table.{Merge, SnapshotLog}

/** `df.writeStream.format("graft")` — the table format as a structured-
  * streaming SINK, closing the loop the reader face opened: a graft
  * table can now sit on BOTH ends of a stream
  * (`readStream.format("graft")` → transform → `writeStream
  * .format("graft")`), each micro-batch one atomic snapshot commit.
  *
  * EXACTLY-ONCE rides the published Delta transactional-sink design:
  * every commit this sink makes records `(txnAppId, txnBatchId)` in the
  * manifest summary; `addBatch` first resolves the stream's last
  * committed batch id from the log (newest-first manifest walk, stops at
  * the first hit — O(commits since this stream last wrote), never
  * O(history)) and SKIPS any batch at or below it. Checkpoint replay
  * after a crash therefore re-offers the last batch and the sink drops
  * it — at-least-once delivery from the engine, exactly-once in the
  * table. `txnAppId` defaults to the query's checkpoint location (the
  * stable identity of a restartable stream); set it explicitly when two
  * checkpoints must share one dedup lineage. Empty micro-batches still
  * commit (zero added files) so the replay guard's high-water mark
  * advances monotonically.
  *
  * Output modes map to the table's own commit vocabulary:
  *
  *  - **Append** — each batch is an `append` snapshot (the steady-state
  *    CDC/ETL shape; downstream incremental readers see exactly these
  *    files via `diff`/the streaming source).
  *  - **Complete** — each batch atomically REPLACES the live set (an
  *    `upsert` commit removing every previously-live file): the table is
  *    always the full recomputed result, yet every prior batch stays
  *    time-travelable.
  *  - **Update** — changed keys only; requires option `mergeKey` (and
  *    optionally `deleteCol` for CDC deletes) and routes through the
  *    merge-on-read upsert ([[Merge.mergeOnRead]]) — O(delta) mask
  *    commits, zone/bloom-pruned, the same path the programmatic
  *    streaming upsert sink uses. The first batch into an empty table
  *    is a plain append (nothing to merge against).
  *
  * Manifest pruning metadata rides the writer options exactly like the
  * batch face: `statsCols`, `bloomCol`, `partitionCols` — plus
  * `writeStream.partitionBy(...)` columns, which record per-file
  * partition-value sets for [[GraftFileIndex]]/`readPruned` pruning.
  *
  * Reference anchor: the reference's streaming job writes raw parquet
  * appends with no transactional boundary
  * (/root/reference/glue-jobs/kafka_to_s3_enhanced.py:214-233); this
  * sink gives the same one-liner atomic, replay-safe commits.
  */
final class GraftStreamSink(
    sqlContext: SQLContext,
    tableDir: String,
    partitionColumns: Seq[String],
    outputMode: OutputMode,
    options: Map[String, String]) extends Sink {

  private val txnAppId: String =
    options.get("txnAppId").orElse(options.get("checkpointLocation"))
      .getOrElse(throw new IllegalArgumentException(
        "writeStream.format(\"graft\") needs a stable stream identity for " +
          "replay-safe commits: set option(\"checkpointLocation\", …) " +
          "(the usual restartable-stream form) or option(\"txnAppId\", …)"))

  private def csv(k: String): Seq[String] = GraftDataSource.csv(options, k)

  /** This stream's last committed batch id, from the newest manifest
    * carrying our txnAppId; the reverse walk stops at the first hit. */
  private def lastBatchId(spark: SparkSession): Option[Long] =
    if (SnapshotLog.currentSnapshotId(spark, tableDir).isEmpty) None
    else SnapshotLog.commitsReverse(spark, tableDir)
      .map(_.summary)
      .collectFirst { case s if s.get("txnAppId").contains(txnAppId) =>
        s("txnBatchId").toLong }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = sqlContext.sparkSession
    if (lastBatchId(spark).exists(_ >= batchId)) return // checkpoint replay
    // the engine hands a streaming-tagged plan; rebuild it as a batch
    // frame over the same physical RDD (the FileStreamSink bridge)
    val batch = org.apache.spark.sql.graftshim.GraftSqlShim
      .batchDataFrame(sqlContext, data)
    val summary = Map("txnAppId" -> txnAppId,
      "txnBatchId" -> batchId.toString, "sink" -> "graft-stream")
    val exists = SnapshotLog.currentSnapshotId(spark, tableDir).isDefined
    def write(frame: DataFrame): Seq[SnapshotLog.DataFile] =
      SnapshotLog.writeData(frame, tableDir, statsCols = csv("statsCols"),
        bloomCol = options.get("bloomCol"),
        partitionCols = (partitionColumns ++ csv("partitionCols")).distinct)
    outputMode match {
      case m if m == OutputMode.Append() =>
        SnapshotLog.commitRetrying(spark, tableDir, write(batch), summary)
      case m if m == OutputMode.Complete() && !exists =>
        SnapshotLog.commitRetrying(spark, tableDir, write(batch), summary)
      case m if m == OutputMode.Complete() =>
        // atomic whole-result replacement; a lost race throws (removal
        // commits are never blind-retried) and the engine re-offers the
        // batch — the replay guard makes the retry safe
        GraftDataSource.replaceAll(spark, tableDir, write(batch), summary)
      case _ => // Update
        val key = options.getOrElse("mergeKey", throw new IllegalArgumentException(
          "outputMode(\"update\") into a graft table needs option(\"mergeKey\", " +
            "<column>) — each batch merges on that key via merge-on-read"))
        val deleteCol = options.get("deleteCol")
        if (!exists) {
          // nothing to merge against, but the CDC contract still applies:
          // tombstones must not land as live rows, and the delete-flag
          // column must not leak into the table schema
          import org.apache.spark.sql.functions.{coalesce, col, lit}
          val cleaned = deleteCol.fold(batch)(dc =>
            batch.filter(!coalesce(col(dc), lit(false))).drop(dc))
          SnapshotLog.commitRetrying(spark, tableDir, write(cleaned), summary)
        } else
          Merge.mergeOnRead(spark, tableDir, batch, key,
            deleteCol = deleteCol, summary = summary)
    }
  }

  override def toString: String = s"GraftStreamSink[$tableDir]"
}
