package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}
import org.apache.spark.sql.types.{DecimalType, StructType}
import graft.cdc.Envelope
import graft.schema.Schemas
import graft.table.{Merge, SnapshotLog}

/** Typed event row for the custom-state operators. */
final case class Ev(event_id: Long, user_id: Long, event_type: String,
                    value: Double, ts: java.sql.Timestamp)

/** Per-user running aggregate held in the state store. */
final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

/** Structured Streaming replacement for the reference's cron-plus-offset-
  * file model (SURVEY.md §2.5): the checkpoint's offset log subsumes
  * OffsetStore, `Trigger.AvailableNow` subsumes the 5-minute Airflow cron,
  * and the sink's commit log upgrades the reference's at-least-once
  * write-then-commit to exactly-once file output.
  *
  * Every foreachBatch writer — the two table sinks and the view
  * maintainers — writes graft tables through [[graft.table.SnapshotLog]]
  * commits tagged with the batch id and the stream's lineage, so the
  * table's own log records what it applied (the replayable-source plus
  * idempotent-sink design of Structured Streaming, SIGMOD 2018); one
  * guard ([[committedAt]]) makes each replayed batch a no-op.
  */
object StreamSync {

  /** Streaming CDC sync of one table: file-stream of wire-contract
    * JSON-lines → decode → parquet append, checkpointed. Each invocation
    * with AvailableNow drains what's new and stops — the exact semantics
    * the reference approximates with its 5-minute cron + offset file.
    * `topicDir` is a directory of JSON-lines files for ONE topic (Spark's
    * file streaming source tracks files, the moral equivalent of offsets).
    */
  def syncOnce(spark: SparkSession, topicDir: String, table: String,
               warehouseDir: String, checkpointDir: String): Unit = {
    val q = Envelope.decode(wireStream(spark, topicDir), table)
      .writeStream
      .format("parquet")
      .option("path", s"$warehouseDir/${table}_parquet")
      .option("checkpointLocation", s"$checkpointDir/$table")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Drain `stream` once (AvailableNow), handing each micro-batch and its
    * id to `write` — the shape every foreachBatch writer here shares. */
  private def drainBatches(stream: DataFrame, checkpointDir: String)
                          (write: (DataFrame, Long) => Unit): Unit =
    stream.writeStream
      .foreachBatch(write)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** The summary every foreachBatch commit carries: the batch id and the
    * stream's lineage (its checkpoint location). */
  private def batchTag(batchId: Long, streamId: String): Map[String, String] =
    Map("batch_id" -> batchId.toString, "stream_id" -> streamId)

  /** The ONE batch-id guard of every foreachBatch writer: the snapshot at
    * which THIS stream committed `batchId` to the table, if it did.
    * Batch ids are monotone only within one checkpoint lineage, so the
    * guard is scoped by `streamId` (the checkpoint location — the same
    * stable identity GraftStreamSink's txnAppId uses): two streams with
    * separate checkpoints appending to one table interleave their ids,
    * and an unscoped early-stop at the first `b < batchId` would miss
    * this stream's own older commit and re-commit duplicate rows. The
    * REVERSE manifest scan stops at the first SAME-LINEAGE data commit
    * whose batch id falls below the probe — O(1) typical, never
    * O(table history); foreign-lineage commits are walked past without
    * stopping. Legacy commits written before the stream_id field are
    * attributed to every lineage (conservative: a pre-upgrade
    * single-stream table keeps its early stop and its dedup). */
  private def committedAt(spark: SparkSession, tableDir: String, batchId: Long,
                          streamId: String): Option[Long] = {
    val it = SnapshotLog.commitsReverse(spark, tableDir)
    while (it.hasNext) {
      val c = it.next()
      val sameLineage = c.summary.get("stream_id").forall(_ == streamId)
      c.summary.get("batch_id").map(_.toLong) match {
        case Some(b) if sameLineage && b == batchId => return Some(c.snapshotId)
        case Some(b) if sameLineage && b < batchId => return None
        case _ => () // maintenance or foreign-stream commit: keep walking
      }
    }
    None
  }

  /** `read`, or an empty frame of `schema` when it found no rows. */
  private def orEmpty(spark: SparkSession, read: Option[DataFrame],
                      schema: StructType): DataFrame =
    read.getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))

  /** The table's latest snapshot — what every view reader returns. */
  private def latest(spark: SparkSession, tableDir: String,
                     schema: StructType): DataFrame =
    orEmpty(spark, SnapshotLog.read(spark, tableDir), schema)

  /** The table as a batch's previous state: as of the snapshot just
    * before the batch's own commit when the table already holds it (a
    * replay after a crash before the stream checkpoint committed), else
    * as of the head. Never the batch's own commit, so a replay
    * recomputes from the same pre-batch state and the same inputs. Past
    * the first batch a missing base fails LOUDLY: the state was expired
    * past the replay horizon, and silently rebuilding from empty would
    * drop it. */
  private def preBatch(spark: SparkSession, tableDir: String, batchId: Long,
                       committed: Option[Long], schema: StructType): DataFrame = {
    val ids = SnapshotLog.snapshots(spark, tableDir)
    val base = committed.fold(ids.lastOption)(s => ids.find(_ == s - 1))
    if (batchId > 0 && base.isEmpty)
      throw new IllegalStateException(
        s"$tableDir has no retained snapshot before batch $batchId " +
          s"(retained: ${ids.mkString(",")}); state was evicted past the " +
          "replay horizon — rebuild it")
    orEmpty(spark, base.flatMap(id => SnapshotLog.read(spark, tableDir, Some(id))), schema)
  }

  /** Append `rows` as ONE snapshot commit carrying `tag`. */
  private def append(rows: DataFrame, tableDir: String, tag: Map[String, String],
                     statsCol: Option[String] = None): Unit = {
    SnapshotLog.commit(rows.sparkSession, tableDir, "append",
      SnapshotLog.writeData(rows, tableDir, statsCol), summary = tag)
    ()
  }

  /** [[append]] the batch's `rows` unless this stream already committed
    * the batch to the table. */
  private def appendOnce(tableDir: String, batchId: Long, streamId: String,
                         statsCol: Option[String] = None)(rows: DataFrame): Unit =
    if (committedAt(rows.sparkSession, tableDir, batchId, streamId).isEmpty)
      append(rows, tableDir, batchTag(batchId, streamId), statsCol)

  /** Streaming sink INTO the snapshot table format — [[syncOnce]]'s
    * production upgrade and the composition that closes the loop between
    * the streaming layer and [[graft.table.SnapshotLog]]: every
    * micro-batch stages immutable files and publishes them as ONE atomic
    * `append` snapshot tagged with its batch id. What that buys over the
    * plain parquet sink:
    *  - readers see whole batches or nothing (snapshot isolation instead
    *    of files trickling into a listing);
    *  - downstream consumers tail the table incrementally through
    *    [[graft.table.DiffConsumer]] — each drain's new snapshots ARE
    *    the change feed;
    *  - replay within the checkpoint lineage is exactly-once: a replayed
    *    batch finds its batch id already committed ([[committedAt]], a
    *    metadata scan of the manifests) and skips, and a crash between
    *    stage and commit leaves only invisible orphans for the expiry
    *    sweep. (After a checkpoint LOSS batch ids restart with different
    *    contents — the id guard must not be trusted across lineages, same
    *    as any foreachBatch idempotence keyed on batchId.)
    * Compaction and retention then run through the same protocol
    * ([[graft.cdc.Compaction.compactSnapshotted]] /
    * [[graft.table.SnapshotLog.expireSnapshots]]), invisible to the
    * stream and its consumers. */
  def snapshotSink(stream: DataFrame, tableDir: String, checkpointDir: String,
                   statsCol: Option[String] = None): Unit =
    drainBatches(stream, checkpointDir) { (b, batchId) =>
      appendOnce(tableDir, batchId, checkpointDir, statsCol)(b)
    }

  /** Streaming UPSERT sink — [[snapshotSink]]'s keyed upgrade, writing
    * each micro-batch through [[graft.table.Merge.mergeOnRead]] instead
    * of a bare append: the batch is resolved to latest-per-key (ordered
    * by `orderCol`; `deleteCol`-true rows are tombstones), then committed
    * as one `rowdelta` snapshot — new data files plus one equality-delete
    * key file, ZERO rewrites of the standing table. This is the streaming
    * CDC apply path at 100 TB: per batch the write cost is O(batch)
    * however large the table, readers apply the pending masks until
    * [[graft.table.Merge.materializeDeletes]] folds them in (maintenance
    * the Advisor names, invisible to readers and the change feed), and
    * downstream consumers tail ROW-LEVEL changes through
    * [[graft.table.DiffConsumer.consumeChanges]] — the face a COW sink
    * cannot offer.
    *
    * Exactly-once within a checkpoint lineage via the same manifest
    * batch-id guard as [[snapshotSink]]; the first batch bootstraps the
    * table as a key-clustered `append`. */
  def upsertSink(stream: DataFrame, tableDir: String, checkpointDir: String,
                 keyCol: String, orderCol: String,
                 deleteCol: Option[String] = None): Unit = {
    import org.apache.spark.sql.expressions.Window
    drainBatches(stream, checkpointDir) { (b, batchId) =>
      val spark = b.sparkSession
      if (committedAt(spark, tableDir, batchId, checkpointDir).isEmpty) {
        val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol).desc)
        val latest = b.withColumn("_rk", row_number().over(w))
          .filter(col("_rk") === 1).drop("_rk")
          .localCheckpoint(true) // consumed twice below (emptiness + write)
        if (SnapshotLog.currentSnapshotId(spark, tableDir).isEmpty) {
          val rows = deleteCol.fold(latest)(dc => latest.filter(!col(dc)).drop(dc))
          // an empty or all-tombstone batch against a not-yet-created
          // table is a no-op (deletes of nothing): skip the commit
          // entirely rather than writing a zero-file snapshot that
          // would wedge every later mergeOnRead. Replay is safe —
          // nothing was written, so re-processing writes nothing again.
          if (!rows.isEmpty)
            // partition count follows the batch's own parallelism — a
            // backfill-sized first drain must not serialize into the
            // fixture-scale constant 2 write tasks
            SnapshotLog.commit(spark, tableDir, "append",
              SnapshotLog.writeData(rows.repartitionByRange(
                  math.max(2, rows.rdd.getNumPartitions), col(keyCol)),
                tableDir, statsCol = Some(keyCol),
                // string/UUID keys record no long zone — the manifest
                // bloom is their only merge-prune index, so the
                // bootstrap must write it or the table starts life
                // unprunable
                bloomCol = Some(keyCol).filter(_ => rows.schema(keyCol)
                  .dataType == org.apache.spark.sql.types.StringType)),
              summary = batchTag(batchId, checkpointDir))
        } else if (!latest.isEmpty) // an empty micro-batch commits nothing
          Merge.mergeOnRead(spark, tableDir, latest, keyCol, deleteCol,
            summary = batchTag(batchId, checkpointDir))
      }
    }
  }

  /** Wire-contract file stream over a topic dir of JSON-lines files —
    * the reader [[syncOnce]] and [[maintainStatusView]] share. */
  def wireStream(spark: SparkSession, topicDir: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
      .schema(Schemas.wireJson)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
    maxFilesPerTrigger.fold(reader)(k => reader.option("maxFilesPerTrigger", k.toString))
      .json(topicDir)
      .select(
        col("key").cast("binary").as("key"),
        col("value").cast("binary").as("value"),
        col("topic"), col("partition"), col("offset"), col("timestamp"))
  }

  /** Columns of [[maintainStatusView]]'s per-status view. */
  private val StatusViewSchema = new StructType()
    .add("status", "string").add("n_orders", "long")
    .add("total_amount", DecimalType(20, 2))

  /** Streaming CDC view maintenance (foreachBatch IVM) — the streaming
    * twin of `cdc_incremental_agg`. A native streaming aggregation counts
    * EVENTS, so an upsert stream double-counts every updated key; correct
    * per-status (n_orders, total_amount) maintenance needs retraction:
    * each micro-batch applies +new-version / −stored-version increments to
    * the view, alongside a keyed current-state table.
    *
    * Storage: two snapshot tables under `viewDir`. `state` holds the
    * current version per order; each batch MERGES its applied rows
    * through [[graft.table.Merge.mergeOnRead]] (the first batch
    * bootstraps it as an `append`, [[upsertSink]]'s shape), so a batch
    * writes O(batch) bytes however large the state. `view` is the small
    * per-status aggregate, republished by one `replace` commit per batch.
    *
    * Replay: each commit carries the batch id, and a table that already
    * holds the batch skips its write ([[committedAt]]). Both tables are
    * read as of the snapshot BEFORE the batch ([[preBatch]]), so a batch
    * replayed after a crash between its two commits recomputes the same
    * increments from the same pre-batch state. The offset guard (only
    * strictly-newer versions apply) makes out-of-order arrival safe: an
    * older version never displaces a newer one.
    *
    * Scale: per batch, the work is one window over the micro-batch, one
    * keyed join against the state table, and two ~|groups| aggregates —
    * the full fact history is never re-aggregated. */
  def maintainStatusView(wire: DataFrame, table: String, viewDir: String,
                         checkpointDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val (stateDir, viewTable) = (s"$viewDir/state", s"$viewDir/view")
    drainBatches(Envelope.decode(wire, table), checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val stateAt = committedAt(spark, stateDir, batchId, checkpointDir)
      val viewAt = committedAt(spark, viewTable, batchId, checkpointDir)
      if (stateAt.isEmpty || viewAt.isEmpty) {
        val tag = batchTag(batchId, checkpointDir)
        val amt = col("total_amount").cast("decimal(10,2)")
        val w = Window.partitionBy(col("order_id")).orderBy(col("kafka_offset").desc)
        val b = batch.filter(col("order_id").isNotNull)
          .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
          .select(col("order_id"), col("status"), amt.as("amt"), col("kafka_offset"))
        val prevState = preBatch(spark, stateDir, batchId, stateAt, b.schema)
        val prevView = preBatch(spark, viewTable, batchId, viewAt, StatusViewSchema)
        // offset guard: only strictly-newer versions apply (replay no-op +
        // out-of-order safety)
        val applied = b.as("b")
          .join(prevState.select(col("order_id"), col("kafka_offset").as("old_off")),
            Seq("order_id"), "left")
          .filter(col("old_off").isNull || col("kafka_offset") > col("old_off"))
          .select(col("order_id"), col("status"), col("amt"), col("kafka_offset"))
          .localCheckpoint(true) // consumed by the state merge and the increments
        if (stateAt.isEmpty) {
          if (SnapshotLog.filesAt(spark, stateDir).exists(_.kind == "data"))
            Merge.mergeOnRead(spark, stateDir, applied, "order_id", summary = tag)
          else append(applied, stateDir, tag, statsCol = Some("order_id"))
        }
        if (viewAt.isEmpty) {
          val retracted = prevState.join(
            broadcast(applied.select(col("order_id"))), Seq("order_id"), "left_semi")
          val increments = applied.select(col("status"), col("amt").as("s_amt"), lit(1L).as("s_n"))
            .unionByName(retracted.select(col("status"), (-col("amt")).as("s_amt"), lit(-1L).as("s_n")))
          val inc = increments.groupBy(col("status"))
            .agg(sum(col("s_n")).as("dn"), sum(col("s_amt")).as("damt"))
          // NULL-SAFE join key: groupBy puts all null statuses in ONE
          // group, but a plain join never matches null==null — the stored
          // null-group row would survive unretracted forever while its
          // retraction increment fell out of the view (phantom rows)
          val newView = prevView.as("pv").join(inc.as("i"),
              col("pv.status") <=> col("i.status"), "full_outer")
            .select(coalesce(col("pv.status"), col("i.status")).as("status"),
              (coalesce(col("n_orders"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"),
              (coalesce(col("total_amount"), lit(0).cast("decimal(20,2)")) +
                coalesce(col("damt"), lit(0).cast("decimal(20,2)")))
                .cast("decimal(20,2)").as("total_amount"))
            .filter(col("n_orders") > 0)
          SnapshotLog.commit(spark, viewTable, "replace",
            SnapshotLog.writeData(newView.coalesce(1), viewTable),
            removed = SnapshotLog.filesAt(spark, viewTable).map(_.path), summary = tag)
        }
      }
    }
  }

  /** Newest committed view maintained by [[maintainStatusView]]. */
  def readStatusView(spark: SparkSession, viewDir: String): DataFrame =
    latest(spark, s"$viewDir/view", StatusViewSchema)

  /** One micro-batch's quantile sketch row (sketch, row count). */
  private def quantileRow(events: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.quantile_sketch
    events.agg(quantile_sketch(col("value")).as("sk"), count(lit(1)).as("n_rows"))
  }

  /** Streaming quantile maintenance: each micro-batch appends ONE
    * ~KB [[graft.functions.QuantileSketchAgg]] row (serialized sketch,
    * row count) to the snapshot table at `sketchDir` — the streaming face
    * of the epoch pattern in `fn_quantile_sketch_epochs`. Any later
    * reader answers "p95 of everything drained so far" by merging the
    * per-batch sketches ([[readQuantileView]]) WITHOUT re-reading a
    * single event: at 100 TB the events are gone from cache minutes
    * after ingest, the sketches stay.
    *
    * Replay safety: the append carries the batch id, and a replayed batch
    * whose commit already landed skips it ([[committedAt]]). No batch
    * reads another's row, so the merged answer (a bound-checked
    * estimate, not an exact value) is order-independent.
    */
  def maintainQuantileSketches(events: DataFrame, sketchDir: String,
                               checkpointDir: String): Unit =
    drainBatches(events, checkpointDir) { (batch, batchId) =>
      appendOnce(sketchDir, batchId, checkpointDir)(quantileRow(batch).coalesce(1))
    }

  /** Quantiles over every event drained so far, from the per-batch
    * sketches alone: reads the committed ~KB rows, `quantile_merge`s
    * them, probes the requested ranks. Events are never re-read. */
  def readQuantileView(spark: SparkSession, sketchDir: String,
                       qs: Seq[Double]): DataFrame = {
    import graft.functions.GraftFunctions.{quantile_merge, quantile_value}
    val merged = latest(spark, sketchDir, quantileRow(spark.range(0).toDF("value")).schema)
      .agg(quantile_merge(col("sk")).as("msk"), sum(col("n_rows")).as("n_rows"))
    merged.select(col("n_rows") +: qs.map(q =>
      quantile_value(col("msk"), q).as(s"q${(q * 100).round}")): _*)
  }

  /** One micro-batch's Misra–Gries row (≤k counters, token count). */
  private def heavyHitterRow(docs: DataFrame, k: Int): DataFrame = {
    import graft.functions.GraftFunctions.heavy_hitters
    docs.select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .agg(heavy_hitters(col("token"), k).as("hh"), count(lit(1)).as("n_tokens"))
  }

  /** Streaming heavy hitters: each micro-batch appends ONE Misra–Gries
    * sketch row (≤k (token, weight) counters + the batch's token count)
    * over the batch's document tokens — trending-vocabulary maintenance
    * without any global token state. Same store and replay story as
    * [[maintainQuantileSketches]].
    */
  def maintainHeavyHitters(docs: DataFrame, sketchDir: String,
                           checkpointDir: String, k: Int = 32): Unit =
    drainBatches(docs, checkpointDir) { (batch, batchId) =>
      appendOnce(sketchDir, batchId, checkpointDir)(heavyHitterRow(batch, k).coalesce(1))
    }

  /** Stream-wide heavy-hitter candidates from the per-batch sketches
    * alone: the Agarwal-et-al mergeable-summaries merge (sum counters
    * pairwise, subtract the (k+1)-th largest, drop non-positives)
    * expressed as plain relational ops over the ≤k·B persisted counters.
    * The merged candidates keep the sketch guarantee over the TOTAL
    * drained token count N: every token with true frequency > N/(k+1)
    * survives, and each weight lower-bounds its true frequency within
    * N/(k+1). Tokens themselves are never re-read.
    */
  def readHeavyHitterView(spark: SparkSession, sketchDir: String,
                          k: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = latest(spark, sketchDir,
      heavyHitterRow(spark.range(0).select(lit("").as("text")), k).schema)
    val summed = rows.select(explode(col("hh")).as("c"))
      .select(col("c.item").as("token"), col("c.est").as("w"))
      .groupBy(col("token")).agg(sum(col("w")).as("w"))
    // (k+1)-th largest summed weight (0 when ≤k survive the sum)
    val cut = summed
      .withColumn("rk", row_number().over(
        Window.orderBy(col("w").desc, col("token"))))
      .filter(col("rk") === k + 1)
      .select(col("w").as("cut"))
    val nTotal = rows.agg(sum(col("n_tokens")).as("n_tokens"))
    // no (k+1)-th row ⇒ cut = 0 (weights are positive, so max picks the
    // real cut when one exists)
    val cutOrZero = cut.unionByName(
        summed.sparkSession.range(1).select(lit(0L).as("cut")))
      .agg(max(col("cut")).as("cut"))
    summed.crossJoin(broadcast(cutOrZero))
      .select(col("token"), (col("w") - col("cut")).as("est"))
      .filter(col("est") > 0)
      .crossJoin(broadcast(nTotal))
      .orderBy(col("est").desc, col("token"))
  }

  /** Columns of [[maintainDedupIndex]]'s decision log. */
  private val DedupDecisionSchema = new StructType()
    .add("doc_id", "long").add("is_dup", "boolean")
    .add("dup_of", "long").add("jaccard", "double")

  /** Streaming near-dup ADMISSION INDEX — the continuous-ingestion form of
    * [[graft.llm.Dedup.incremental]]: each micro-batch of documents is
    * admitted or rejected against the index of previously ADMITTED docs
    * (LSH band keys + shingle sets), and the admitted docs then join the
    * index. Duplicates never become match targets across batches — the
    * index is the kept corpus, which also bounds state by the unique
    * fraction, not the ingest volume. Within one micro-batch, earlier
    * docs (by doc_id) are match targets regardless of their own verdict —
    * the one-relational-pass approximation of strictly-sequential
    * admission; across batches the sequential semantics are exact.
    *
    * Storage: three snapshot tables under `indexDir`, each appended once
    * per batch with only that batch's delta — `keys` and `sh` take the
    * admitted docs' LSH keys and shingle sets, `decisions` every doc's
    * verdict — so a batch writes O(|batch|) however large the index.
    * Replay follows [[maintainStatusView]]: a table that holds the batch
    * skips its append, and the index is read as of the snapshot before
    * the batch, so a replay decides exactly as the first run did. The
    * probe work itself is O(|batch| · bands) key lookups plus exact
    * verification on colliding pairs. */
  def maintainDedupIndex(docs: DataFrame, indexDir: String,
                         checkpointDir: String, threshold: Double = 0.8): Unit = {
    import org.apache.spark.sql.expressions.Window
    import graft.llm.Dedup
    val keysDir = s"$indexDir/keys"
    val shDir = s"$indexDir/sh"
    val decisionsDir = s"$indexDir/decisions"
    drainBatches(docs, checkpointDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val keysAt = committedAt(spark, keysDir, batchId, checkpointDir)
      val shAt = committedAt(spark, shDir, batchId, checkpointDir)
      val decisionsAt = committedAt(spark, decisionsDir, batchId, checkpointDir)
      if (keysAt.isEmpty || shAt.isEmpty || decisionsAt.isEmpty) {
        val tag = batchTag(batchId, checkpointDir)
        val b = batch.select(col("doc_id"), col("text"))
          .filter(col("doc_id").isNotNull && col("text").isNotNull)
        val shNew = Dedup.shinglesOf(b).localCheckpoint(true)
        val keysNew = Dedup.lshKeysOf(b).localCheckpoint(true)
        val prevKeys = preBatch(spark, keysDir, batchId, keysAt, keysNew.schema)
        val prevSh = preBatch(spark, shDir, batchId, shAt, shNew.schema)
        // same MaxBucket crowded-bucket cap + bounded bucket fold as the
        // batch path ([[graft.llm.Dedup.incrementalCandidates]], shared
        // code): a degenerate boilerplate bucket would otherwise fan out
        // |bucket|² candidate pairs per micro-batch — and the former
        // window count BUFFERED each (band, bucket) partition in one
        // task before it could filter (unbounded on the degenerate
        // bucket), then the self-join re-shuffled the same keys a second
        // time. The fold is one bucket-keyed aggregation with cap+1-
        // bounded buffers; the probe pairs unfold map-side, identical
        // candidate set (the fold's eligibility is exactly
        // `!o.is_new || o.doc_id < n.doc_id`).
        val cands = Dedup.incrementalCandidates(
          prevKeys.withColumn("is_new", lit(false))
            .unionByName(keysNew.withColumn("is_new", lit(true))))
        val shAll = prevSh.unionByName(shNew)
        val verified = cands
          .join(shNew.select(col("doc_id"), col("sh").as("sh_n")), "doc_id")
          .join(shAll.select(col("doc_id").as("o_id"), col("sh").as("sh_o")), "o_id")
          .select(col("doc_id"), col("o_id"), col("o_new"),
            (size(array_intersect(col("sh_n"), col("sh_o"))).cast("double") /
              size(array_union(col("sh_n"), col("sh_o")))).as("jaccard"))
          .filter(col("jaccard") >= threshold)
        val pick = verified
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("o_new"), col("o_id"))))
          .filter(col("rk") === 1)
          .select(col("doc_id"), col("o_id"), col("jaccard"))
        val decisions = b.select(col("doc_id"))
          .join(pick, Seq("doc_id"), "left")
          .select(col("doc_id"), col("o_id").isNotNull.as("is_dup"),
            col("o_id").as("dup_of"), round(col("jaccard"), 6).as("jaccard"))
          .localCheckpoint(true) // consumed by up to three appends
        val admitted = decisions.filter(!col("is_dup")).select(col("doc_id"))
        if (decisionsAt.isEmpty) append(decisions, decisionsDir, tag)
        if (keysAt.isEmpty)
          append(keysNew.join(admitted, Seq("doc_id"), "left_semi"), keysDir, tag)
        if (shAt.isEmpty)
          append(shNew.join(admitted, Seq("doc_id"), "left_semi"), shDir, tag)
      }
    }
  }

  /** Streaming IVF VECTOR INDEX — continuous embedding ingestion into an
    * ANN-queryable store: each micro-batch assigns its vectors to their
    * nearest coarse centroid entirely map-side (the centroid set is a
    * MODEL trained offline and inlined as literals — the
    * [[graft.llm.Similarity.assignClusters]] posture) and appends
    * cell-partitioned postings (`centroid_id=<c>/...`) to the index
    * directory. Nothing shuffles: assignment is a projection and the
    * partitioned parquet sink routes rows by cell. Queries then read
    * ONLY the probed cells via partition pruning
    * ([[queryVectorIndex]]) — at 100 TB the scan cost is
    * nprobe/nClusters of the corpus, which is the entire point of IVF.
    * The parquet file-stream + checkpoint gives exactly-once appends, so
    * a replayed batch never double-inserts a vector. */
  def maintainVectorIndex(vectors: DataFrame,
                          centroids: Array[(Int, Array[Float])],
                          indexDir: String, checkpointDir: String): Unit = {
    val scored = centroids.map { case (cid, vec) =>
      struct(
        graft.functions.GraftFunctions.vec_cosine(col("embedding"), typedLit(vec)).as("sim"),
        lit(-cid).as("ord"),
        lit(cid).as("centroid_id"))
    }
    val q = vectors
      .select(col("vec_id"), col("label"), col("embedding"),
        greatest(scored.toIndexedSeq: _*).getField("centroid_id").as("centroid_id"))
      .writeStream.format("parquet")
      .option("path", indexDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("centroid_id")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** ANN top-k over the streamed index: score the query against the
    * centroid model driver-side, then scan ONLY the `nprobe` best cells —
    * the `centroid_id` partition filter prunes every other cell's files
    * at planning time. Exact cosine + TakeOrdered inside the probed
    * slice. */
  def queryVectorIndex(spark: SparkSession, indexDir: String,
                       centroids: Array[(Int, Array[Float])],
                       query: Array[Float], k: Int = 10,
                       nprobe: Int = 4): DataFrame = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val probes = centroids.map { case (cid, vec) => (cos(query, vec), cid) }
      .sortBy { case (sim, cid) => (-sim, cid) }
      .take(nprobe).map(_._2)
    spark.read.parquet(indexDir)
      .filter(col("centroid_id").isin(probes.map(Integer.valueOf): _*))
      .select(col("vec_id"), col("label"),
        graft.functions.GraftFunctions.vec_cosine(col("embedding"), typedLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** Columns of [[maintainDriftMonitor]]'s per-batch rows. */
  private val DriftSchema = new StructType()
    .add("batch_id", "long").add("n_tokens", "long").add("js_divergence", "double")

  /** Streaming DRIFT MONITOR: each micro-batch of documents is scored
    * against a REFERENCE unigram distribution (the offline corpus
    * snapshot — a model-scale (token, p_ref) table) with Jensen–Shannon
    * divergence, and one (batch_id, n_tokens, js_divergence) row lands
    * in the monitor store. JS rather than KL because a live batch's
    * vocabulary is not contained in the reference's (new tokens are the
    * drift being detected): JS mixes the distributions, is defined on
    * disjoint support, and is bounded by ln 2 — a stable alerting
    * signal. Per batch: one token count aggregate + a full-outer join
    * against the broadcast reference — the batch crosses one exchange,
    * the monitor row is O(1). The same one-row append per batch as the
    * sketch stores, with the same replay guard. */
  def maintainDriftMonitor(docs: DataFrame, reference: DataFrame,
                           monitorDir: String, checkpointDir: String): Unit =
    drainBatches(docs, checkpointDir) { (batch, batchId) =>
      val cnt = batch.select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
      val total = cnt.agg(sum(col("n")).as("n_total"))
      val joined = cnt.crossJoin(broadcast(total))
        .select(col("token"), (col("n").cast("double") / col("n_total")).as("p"),
          col("n_total"))
        .join(broadcast(reference.select(col("token"), col("p_ref"))),
          Seq("token"), "full_outer")
        .select(coalesce(col("p"), lit(0.0)).as("p"),
          coalesce(col("p_ref"), lit(0.0)).as("q"),
          col("n_total"))
      val m = (col("p") + col("q")) / 2.0
      val term =
        when(col("p") > 0, col("p") * log(col("p") / m) / 2.0).otherwise(0.0) +
        when(col("q") > 0, col("q") * log(col("q") / m) / 2.0).otherwise(0.0)
      // a batch whose tokens all filter out has NO distribution: report
      // n_tokens = 0 with a NULL divergence instead of the misleading
      // ln(2)/2 the reference-only full-outer rows would otherwise sum to
      val row = joined.agg(max(col("n_total")).as("n_raw"),
          sum(term).as("js_raw"))
        .select(lit(batchId).as("batch_id"),
          coalesce(col("n_raw"), lit(0L)).as("n_tokens"),
          when(coalesce(col("n_raw"), lit(0L)) > 0, col("js_raw"))
            .as("js_divergence"))
      appendOnce(monitorDir, batchId, checkpointDir)(row.coalesce(1))
    }

  /** All per-batch drift rows written by [[maintainDriftMonitor]]. */
  def readDriftView(spark: SparkSession, monitorDir: String): DataFrame =
    latest(spark, monitorDir, DriftSchema)
      .select(col("batch_id"), col("n_tokens"), col("js_divergence"))
      .orderBy(col("batch_id"))

  /** Cumulative admission decisions maintained by [[maintainDedupIndex]]:
    * the union of every committed per-batch decision delta. */
  def readDedupDecisions(spark: SparkSession, indexDir: String): DataFrame =
    latest(spark, s"$indexDir/decisions", DedupDecisionSchema)

  /** Watermarked tumbling-window aggregation over an event stream —
    * the streaming form of [[graft.ops.Events.tumbling]]. Late data beyond
    * the watermark is dropped; state is bounded by watermark horizon. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
              col("n"), col("sum_value"))

  /** Streaming dedup by key within the watermark horizon — the
    * exactly-once guard the reference's append-only sink lacks. */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      // dropDuplicates WITHOUT the event-time column in the key list
      // never evicts: every event_id ever seen stays in the state store
      // for the stream's life. dropDuplicatesWithinWatermark is the
      // bounded-state form the docstring promises — state for an id is
      // dropped once the watermark passes it.
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming corpus curation — incremental ingestion of a document
    * stream through the batch pipeline's gates: a stateless quality
    * filter (same thresholds as [[graft.llm.TextOps.qualityFilter]])
    * followed by stateful exact dedup on the content hash, so a document
    * replayed in any later micro-batch is dropped. State is one 32-byte
    * hash per distinct kept document; at true corpus scale this moves to
    * the RocksDB state store or a watermarked horizon — the dataflow is
    * unchanged. Batch-equivalence (same kept-hash set as the one-shot
    * pipeline over identical input) is pinned in StreamSpec. */
  def curatedDocs(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    docs
      .withColumn("n_words", size(words))
      .withColumn("unique_ratio",
        size(array_distinct(words)).cast("double") / size(words))
      .filter(col("n_words") >= 20 && col("n_words") <= 5000 &&
        col("unique_ratio") >= 0.35)
      .withColumn("content_sha", sha2(col("text"), 256))
      .dropDuplicates("content_sha")
      .select(col("doc_id"), col("lang"), col("n_words"), col("content_sha"))
  }

  /** Gap-based sessionization with the native `session_window` grouping —
    * the streaming form of [[graft.ops.Events.sessionize]]'s lag+cumsum.
    * Session state merges windows within the 30-min gap and is evicted
    * once the watermark passes, so memory is bounded by open sessions. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
              col("n_events"))

  /** Stream-static enrichment: every micro-batch of the event stream
    * joins a STATIC dimension (a feature / profile table) — the standard
    * serving-time enrichment shape. The static side is re-planned per
    * micro-batch (so a refreshed dim parquet is picked up on the next
    * trigger) and explicitly broadcast: the streaming fact never
    * shuffles, no join state accumulates (unlike stream-stream joins),
    * and watermarks aren't needed. At 100 TB-of-stream the per-batch
    * cost stays map-side as long as the dim fits a broadcast; a bigger
    * dim degrades to a shuffled join of just that micro-batch. */
  def enrichedEvents(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left")

  /** Custom per-key state via mapGroupsWithState: running per-user totals
    * that survive across micro-batches and restarts (state store is
    * checkpointed). This is the escape hatch for stateful logic the
    * built-in window/dedup operators can't express; state is partitioned
    * by key, so it scales with the cluster like any keyed shuffle. */
  import org.apache.spark.sql.{Encoder, Encoders}
  private implicit val longEnc: Encoder[Long] = Encoders.scalaLong
  private implicit val totalsEnc: Encoder[UserTotals] = Encoders.product[UserTotals]

  def userRunningTotals(events: Dataset[Ev]): Dataset[UserTotals] =
    events.groupByKey(_.user_id).mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
      (uid: Long, evs: Iterator[Ev], state: GroupState[UserTotals]) =>
        val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0.0))
        val next = evs.foldLeft(prev) { (acc, e) =>
          UserTotals(uid, acc.n_events + 1, acc.total_value + e.value)
        }
        state.update(next)
        next
    }

  /** Stream-stream interval join: click events joined to same-user
    * purchase events that land within `horizonMinutes` AFTER the click.
    * Both sides carry watermarks and the join condition bounds event time
    * in both directions, so Spark can size the join state and evict rows
    * once the watermark passes — unbounded-state stream joins never ship.
    * State is partitioned by user_id like any keyed shuffle. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        horizonMinutes: Int = 60): DataFrame = {
    val c = clicks
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id").as("click_id"),
              col("ts").as("click_ts"))
    val p = purchases
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
              col("value").as("purchase_value"), col("ts").as("purchase_ts"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizonMinutes MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
              col("click_ts"), col("purchase_ts"), col("purchase_value"))
  }

  /** Stream-stream LEFT OUTER interval join — [[clickPurchaseJoin]]'s
    * other mode, and the one with genuinely different state semantics: a
    * click with no in-window purchase must STILL emit (null-matched), but
    * only once the watermark proves no matching purchase can arrive —
    * i.e. null rows materialize on state eviction, watermark-driven, not
    * at first sight. Same bounded join state as the inner form; the
    * outer-ness costs nothing extra at scale because eviction already
    * happens. Clicks near the head of the stream (watermark never passes
    * them in a finite drain) stay unmatched-unemitted — exactly the
    * semantics a resumed production stream wants. */
  def clickPurchaseLeftJoin(clicks: DataFrame, purchases: DataFrame,
                            horizonMinutes: Int = 60): DataFrame = {
    val c = clicks
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id").as("click_id"),
              col("ts").as("click_ts"))
    val p = purchases
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
              col("value").as("purchase_value"), col("ts").as("purchase_ts"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizonMinutes MINUTES"),
      "left_outer")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
              col("click_ts"), col("purchase_ts"), col("purchase_value"))
  }

  /** A closed (inactivity-terminated) per-user session. */
  final case class ClosedSession(user_id: Long, n_events: Long,
                                 last_ts: java.sql.Timestamp)
  private implicit val closedEnc: Encoder[ClosedSession] = Encoders.product[ClosedSession]

  /** Event-time-timeout sessionization via flatMapGroupsWithState: a
    * user's session stays open while events keep arriving; once the
    * WATERMARK (not wall clock — deterministic under replay) passes
    * last-event-time + gap, the timeout fires and the closed session is
    * emitted and its state dropped. This is the custom-state form of
    * [[sessionCounts]] for when the session payload outgrows what
    * session_window aggregates can hold. */
  def inactivitySessions(events: Dataset[Ev], gapMinutes: Int = 30): Dataset[ClosedSession] =
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[UserTotals]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(uid, s.n_events,
              new java.sql.Timestamp(s.total_value.toLong)))
          } else {
            val batch = evs.toSeq
            val lastTs = batch.map(_.ts.getTime).max
            val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0.0))
            // reuse UserTotals as state: total_value slot carries last-event
            // millis (the state payload, not a metric)
            val next = UserTotals(uid, prev.n_events + batch.size,
              math.max(prev.total_value, lastTs.toDouble))
            state.update(next)
            // a sufficiently LATE event (flatMapGroupsWithState does not
            // drop late rows for us) would compute a timeout below the
            // current watermark — setTimeoutTimestamp throws and kills
            // the whole query. Clamp to just past the watermark: the
            // session then closes at the next watermark advance, the
            // nearest legal approximation of "already timed out".
            val timeout = next.total_value.toLong + gapMinutes * 60000L
            state.setTimeoutTimestamp(
              math.max(timeout, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
}
