package graft.connector

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

import graft.table.SnapshotLog

/** `format("graft")` — the data-source face of the snapshot-log table
  * format, so the table layer is reachable through Spark's own reader/
  * writer/SQL surface instead of only the Scala API:
  *
  * {{{
  *   df.write.format("graft").option("statsCols", "id").save(dir)
  *   df.write.format("graft").option("zorderBy", "x,y[,…]").save(dir) // Z-order tiles
  *   spark.read.format("graft").load(dir)                      // latest
  *   spark.read.format("graft").option("versionAsOf", 2).load(dir)
  *   spark.read.format("graft").option("timestampAsOf", "2026-…").load(dir)
  *   spark.read.format("graft").option("tagAsOf", "audited").load(dir)
  *   spark.sql(s"CREATE TABLE t USING graft LOCATION '$dir'")
  *   spark.readStream.format("graft").load(dir)                // appends
  *   df.writeStream.format("graft")                             // txn sink
  *     .option("checkpointLocation", cp).start(dir)
  * }}}
  *
  * READ plans two ways, decided from manifest metadata alone:
  *
  *  - **fast path** (no pending merge-on-read masks, one schema epoch):
  *    an ordinary `HadoopFsRelation` over [[GraftFileIndex]] — the log
  *    enumerates the snapshot's live files, the query's own WHERE prunes
  *    them against per-file zones/blooms/partition values driver-side,
  *    and stock Spark does the rest (parquet row-group pushdown, column
  *    pruning, whole-stage codegen). This is the Delta `TahoeFileIndex`
  *    shape and the steady state of a freshly maintained table.
  *  - **general path** (pending position or equality masks, drifted
  *    epochs, a live field registry): a [[GraftComputedRelation]] pinned
  *    to the resolved snapshot. In a session with
  *    [[graft.functions.GraftExtensions]], [[GraftV2ReadRule]] serves
  *    every batch read of it through [[GraftV2Table]]'s scan: masked
  *    files read vectorized, pushed filters prune files from the
  *    manifests, and debt beyond the mask budget falls back to the
  *    scan's own [[GraftBridgeScan]]. A masked table therefore stays a
  *    merge-on-read table between maintenance runs instead of having to
  *    be rewritten to be read cheaply. Without the extensions (and for
  *    INSERT/DML targets, which keep their V1 resolution) the relation
  *    answers through [[SnapshotLog.read]]'s merge-on-read plan over the
  *    DSv1 Row bridge — always correct, just slower.
  *
  * WRITE commits through the log's optimistic protocol: `Append` is an
  * `append` snapshot; `Overwrite` removes every live file and adds the
  * new ones in ONE atomic commit (time travel to pre-overwrite snapshots
  * still works; the change feed correctly refuses to interpret it
  * without row lineage). Manifest metadata for pruning rides options:
  * `statsCols` (comma-separated zone columns), `bloomCol`,
  * `partitionCols`.
  *
  * Reference anchor: the reference pipeline's consumers read its S3
  * parquet output through `spark.read` directly
  * (/root/reference/glue-jobs/kafka_to_s3_batch.py:117-130); this face
  * gives those consumers the same one-liner over the transactional
  * format. The reader/writer/stream contract follows the published
  * Delta Lake DataSource design (RelationProvider + FileIndex school).
  */
final class GraftDataSource extends RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  // ---------------------------------------------------------------- read

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = tableDirOf(parameters)
    // batch change-feed read (the Delta batch-CDF option surface):
    // .option("readChangeFeed", "true") with startingVersion (exclusive
    // lower bound, Delta's own semantics for the graft log) and optional
    // endingVersion — the row-level feed as a DataFrame, same refusal
    // semantics as the graft_changes TVF (expired snapshots and
    // lineage-less rewrites throw); cdfPreImages=true emits
    // update_preimage/update_postimage pairs
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      require(!parameters.contains("versionAsOf") &&
          !parameters.contains("timestampAsOf") && !parameters.contains("tagAsOf"),
        "readChangeFeed does not compose with time-travel options; bound " +
          "the feed with startingVersion/endingVersion instead")
      val from = parameters.get("startingVersion").map(_.toLong)
        .orElse(parameters.get("startingTimestamp").map { ts =>
          // same semantics as the STREAM source's startingTimestamp: the
          // feed begins with the earliest retained commit AT OR AFTER
          // the timestamp, so the exclusive bound is the last commit
          // strictly before it — snapshotAsOfTimestamp (greatest ≤ ts)
          // would silently omit a commit landing exactly at ts, and a
          // timestamp predating the whole history replays everything
          // instead of erroring
          val t = GraftDataSource.parseTimestampMs(ts)
          SnapshotLog.commits(spark, dir).takeWhile(_.tsMs < t)
            .lastOption.map(_.snapshotId).getOrElse(0L)
        })
        .getOrElse(throw new IllegalArgumentException(
          "batch readChangeFeed needs startingVersion (exclusive lower " +
            "bound) or startingTimestamp"))
      val to = parameters.get("endingVersion").map(_.toLong)
      val pre = parameters.get("cdfPreImages").exists(_.toBoolean)
      // an empty interval yields an empty frame UNDER THE FEED'S SCHEMA
      // (the graft_changes TVF contract) — a schemaless emptyDataFrame
      // would fail any reference to the documented change columns
      val feed = SnapshotLog.changes(spark, dir, from, to, preImages = pre)
        .getOrElse {
          val base = GraftDataSource.visibleState(spark, dir, None)._4
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
            base.add("_change_op", org.apache.spark.sql.types.StringType)
              .add("_change_snapshot", org.apache.spark.sql.types.LongType))
        }
      return new GraftComputedRelation(sqlContext, feed, feed.schema, dir,
        insertable = false)
    }
    val asOf = resolveAsOf(spark, dir, parameters)
    GraftDataSource.relationFor(spark, sqlContext, dir, asOf)
  }

  private def tableDirOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "format(\"graft\") needs a path: .load(dir) or option(\"path\", dir)"))

  /** Time-travel option resolution — at most one of versionAsOf /
    * timestampAsOf / tagAsOf; None means the latest snapshot. */
  private def resolveAsOf(spark: SparkSession, dir: String,
                          parameters: Map[String, String]): Option[Long] = {
    val given = Seq("versionAsOf", "timestampAsOf", "tagAsOf")
      .filter(k => parameters.contains(k))
    require(given.size <= 1,
      s"at most one time-travel option, got: ${given.mkString(", ")}")
    parameters.get("versionAsOf").map(_.toLong)
      .orElse(parameters.get("timestampAsOf").map(ts =>
        SnapshotLog.snapshotAsOfTimestamp(spark, dir,
          GraftDataSource.parseTimestampMs(ts))))
      .orElse(parameters.get("tagAsOf").map(SnapshotLog.snapshotForTag(spark, dir, _)))
  }

  // --------------------------------------------------------------- write

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = tableDirOf(parameters)
    val exists = SnapshotLog.currentSnapshotId(spark, dir).isDefined
    // zorderBy=x,y lays the commit out as near-square Morton tiles of the
    // 2-D key space (the shared zorderArrange); both dims' zones are
    // recorded automatically — a Z-order without zone maps would cluster
    // for nobody
    val zcols = GraftDataSource.csv(parameters, "zorderBy")
    require(zcols.isEmpty || zcols.size >= 2,
      s"zorderBy takes at least two comma-separated columns, got: " +
        zcols.mkString(","))
    // bucketBy=n,col — the storage-partitioned-join layout: rows
    // HASH-repartition on the modulo residue (SnapshotLog.bucketArrange)
    // so each file holds ONE bucket id by construction, the synthetic
    // bucket(n,col) key records that id per file, and (on table
    // creation) the layout persists as durable props so every later
    // INSERT keeps it
    val bucketBy: Option[(String, Int)] = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("bucketBy") => v }.map { s =>
        val ps = s.split(",", 2).map(_.trim)
        require(ps.length == 2 && ps(0).forall(_.isDigit) && ps(0).toInt > 0,
          s"bucketBy takes 'n,col', got: $s")
        (ps(1), ps(0).toInt)
      }
    require(bucketBy.isEmpty || zcols.isEmpty,
      "bucketBy and zorderBy are competing layouts — pick one")
    // a declared lineage key persists in the COMMIT SUMMARY too: the
    // catalog-carried OPTIONS form is invisible to catalog-bypassing
    // faces (the V2 TableCatalog), which must still bootstrap lineage
    // on their first DML instead of silently downgrading the feed
    val declared = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("lineageKey") => v }
      .map(SnapshotLog.LineageDeclaredKey -> _).toMap ++
      // the bucket layout declares durably at CREATION (the commit that
      // makes the table); appends inherit through the manifest keys and
      // must never clobber an existing table's property map
      (bucketBy match {
        case Some((c, n)) if !exists =>
          Map(SnapshotLog.TablePropsKey -> SnapshotLog.propsJson(
            Map("bucketCol" -> c, "bucketCount" -> n.toString)))
        case _ => Map.empty[String, String]
      })
    bucketBy.foreach { case (c, n) =>
      val f = data.schema.fields.find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(
          s"bucketBy column '$c' is not a column of the frame " +
            s"(${data.schema.fieldNames.mkString(", ")})"))
      require(SnapshotLog.bucketable(f.dataType),
        s"bucketBy column '$c' must be integral (byte/short/int/long) " +
          s"or string, got ${f.dataType.simpleString} — a lossy residue " +
          "cast would silently collapse every file into one bucket")
    }
    def write(): Seq[SnapshotLog.DataFile] = {
      val arranged = bucketBy match {
        case Some((c, n)) => SnapshotLog.bucketArrange(data, c, n)
        case None =>
          if (zcols.isEmpty) data
          else graft.cdc.Compaction.zorderArrange(data, zcols,
            parameters.get("targetFiles").map(_.toInt).getOrElse(32))
      }
      SnapshotLog.writeData(arranged, dir,
        statsCols = (GraftDataSource.csv(parameters, "statsCols") ++ zcols).distinct,
        bloomCol = parameters.get("bloomCol"),
        partitionCols = GraftDataSource.csv(parameters, "partitionCols") ++
          bucketBy.map { case (c, n) => SnapshotLog.bucketPartKey(n, c) },
        // bucketArrange leaves each partition (= file) key-ascending
        sortedBy = bucketBy.map(_._1))
    }
    // Delta-style replaceWhere: predicate-scoped ATOMIC overwrite — one
    // commit deletes the matching slice and adds the incoming data
    // (the idempotent partition-reload pattern); only meaningful with
    // SaveMode.Overwrite on an existing table
    parameters.get("replaceWhere").foreach { pred =>
      require(mode == SaveMode.Overwrite,
        s"""option("replaceWhere", …) requires mode("overwrite")""")
      require(exists,
        s"replaceWhere needs an existing graft table at $dir")
      val explicit = {
        val st = (GraftDataSource.csv(parameters, "statsCols") ++ zcols).distinct
        val bl = parameters.get("bloomCol")
        val pc = GraftDataSource.csv(parameters, "partitionCols")
        if (st.nonEmpty || bl.isDefined || pc.nonEmpty) Some((st, bl, pc))
        else None
      }
      GraftDml.replaceWhere(spark, dir, data, pred,
        arrange = d =>
          if (zcols.isEmpty) d
          else graft.cdc.Compaction.zorderArrange(d, zcols,
            parameters.get("targetFiles").map(_.toInt).getOrElse(32)),
        explicitMeta = explicit,
        // a lineageKey option rides this commit's summary like every
        // other save mode — the declaration must not silently vanish
        // just because the first write was a replaceWhere
        extraSummary = declared)
      return GraftDataSource.relationFor(spark, sqlContext, dir, asOf = None)
    }
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graft table $dir already exists (SaveMode.ErrorIfExists)")
      case SaveMode.Ignore if exists => () // leave the table untouched
      case SaveMode.ErrorIfExists | SaveMode.Ignore =>
        // CAS on "the table is empty": commit AT id 1, never blind-retried
        // — the exists flag alone would be check-then-act, letting two
        // racing creators BOTH land their data as appends
        try SnapshotLog.commitAt(spark, dir, 1L, "append", write(),
          Seq.empty, declared)
        catch {
          case e: SnapshotLog.ConcurrentCommitException =>
            if (mode == SaveMode.ErrorIfExists) throw new IllegalStateException(
              s"graft table $dir already exists (SaveMode.ErrorIfExists; " +
                "lost the creation race)", e)
            // Ignore: the racer's table stands; our written files are
            // unreferenced orphans for the grace-gated sweep
        }
      case SaveMode.Append =>
        SnapshotLog.commitRetrying(spark, dir, write(), summary = declared)
      case SaveMode.Overwrite if !exists =>
        // Overwrite of a table that does not exist REPLACED NOTHING: commit
        // it as the append it semantically is (CTAS routes here), keeping
        // pure-SQL tables change-feed-derivable and stream-consumable from
        // snapshot 1 — an op-upsert first commit would make both refuse.
        // CAS at id 1; a racing creator landing first flips us to a real
        // overwrite of the racer's data (what Overwrite means). The files
        // are written ONCE and re-referenced by the fallback commit.
        val files = write()
        try SnapshotLog.commitAt(spark, dir, 1L, "append", files,
          Seq.empty, Map("mode" -> "create") ++ declared)
        catch {
          case _: SnapshotLog.ConcurrentCommitException =>
            GraftDataSource.replaceAll(spark, dir, files,
              Map("mode" -> "overwrite") ++ declared)
        }
      case SaveMode.Overwrite =>
        // one atomic whole-live-set replacement; see replaceAll
        GraftDataSource.replaceAll(spark, dir, write(),
          Map("mode" -> "overwrite") ++ declared)
    }
    GraftDataSource.relationFor(spark, sqlContext, dir, asOf = None)
  }

  // ----------------------------------------------------------- streaming

  /** The stream's fixed schema: the table's visible schema, plus the two
    * change-event columns when `readChangeFeed=true`. */
  private def streamSchema(sqlContext: SQLContext,
                           schema: Option[StructType],
                           parameters: Map[String, String]): StructType = {
    val dir = tableDirOf(parameters)
    val base = schema.getOrElse(
      GraftDataSource.visibleState(sqlContext.sparkSession, dir, None)._4)
    if (parameters.get("readChangeFeed").exists(_.toBoolean) &&
        !base.fieldNames.contains("_change_op"))
      base.add("_change_op", org.apache.spark.sql.types.StringType)
        .add("_change_snapshot", org.apache.spark.sql.types.LongType)
    else base
  }

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), streamSchema(sqlContext, schema, parameters))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source =
    new GraftStreamSource(sqlContext, tableDirOf(parameters),
      streamSchema(sqlContext, schema, parameters), parameters, metadataPath)

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink =
    new GraftStreamSink(sqlContext, tableDirOf(parameters),
      partitionColumns, outputMode, parameters)
}

object GraftDataSource {

  private[connector] def isInternal(name: String): Boolean =
    name.startsWith("_graft_")

  /** The one accepted time-travel timestamp form — `yyyy-MM-dd[
    * HH:mm:ss]`, 'T' separator tolerated, session-UTC — shared by the
    * reader option, the SQL TIMESTAMP AS OF clause and SQL RESTORE so
    * the three faces can never drift in what they accept. */
  private[connector] def parseTimestampMs(ts: String): Long = {
    val norm = ts.replace('T', ' ')
    try java.sql.Timestamp.valueOf(norm).getTime
    catch { case _: IllegalArgumentException =>
      java.sql.Date.valueOf(norm.trim).getTime }
  }

  /** Comma-separated option value as a trimmed column list. */
  private[connector] def csv(parameters: Map[String, String],
                             key: String): Seq[String] =
    parameters.get(key).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** ONE atomic whole-live-set replacement: every previously-live file
    * (data AND mask) out, `added` in — logically a whole-table upsert, so
    * the op is `upsert` and the change feed refuses it without row
    * lineage rather than mislabeling carried rows as inserts. A removal
    * commit is never blind-retried (its removed set was computed against
    * the observed state): a lost race throws to the caller — the
    * lakehouse conflict rule [[SnapshotLog.commitRetrying]] documents.
    * Shared by SaveMode.Overwrite, INSERT OVERWRITE and the streaming
    * sink's Complete mode so the data-and-mask subtlety lives once. */
  private[connector] def replaceAll(spark: SparkSession, dir: String,
                                    added: Seq[SnapshotLog.DataFile],
                                    summary: Map[String, String],
                                    pinnedBase: Option[Long] = None): Long = {
    // PIN the base snapshot and commit at exactly its successor:
    // resolving "latest" once for the removed set and again inside a
    // plain commit() would let an append land in the window — its files
    // absent from `removed`, silently surviving the overwrite. With the
    // pinned pair any interleaved commit makes commitAt throw instead
    // (the same discipline as Merge.applyChanges / materializeDeletes).
    // `pinnedBase` moves the pin even earlier — the staged RTAS pins at
    // STAGE time, so commits landing while its query ran conflict too.
    val baseId = pinnedBase.getOrElse(
      SnapshotLog.currentSnapshotId(spark, dir).getOrElse(0L))
    val removed =
      (if (baseId == 0L) Seq.empty[String]
       else SnapshotLog.filesAt(spark, dir, Some(baseId)).map(_.path))
        .filterNot(added.map(_.path).toSet)
    // an overwrite that replaced NOTHING (first INSERT OVERWRITE, a
    // Complete-mode sink's first batch, the CTAS race fallback) is the
    // append it semantically is: an op-upsert first commit would make
    // the change feed and plain streams refuse the table forever
    SnapshotLog.commitAt(spark, dir, baseId + 1,
      if (removed.isEmpty) "append" else "upsert",
      added, removed = removed, summary = summary)
  }

  /** The pruning-metadata columns the table's existing live files carry —
    * inherited by SQL INSERTs and any writer that doesn't name its own,
    * so a maintained table's zone/bloom/partition indexing never silently
    * decays through one metadata-less write path. */
  private[connector] def inheritedMeta(spark: SparkSession, dir: String,
                                       schema: StructType)
      : (Seq[String], Option[String], Seq[String]) = {
    // metadata keys resolve through the field registry (LOGICAL names):
    // an INSERT into a renamed table inherits the CURRENT column names,
    // which writeData translates back to physical at record time
    val (files0, reg) = SnapshotLog.stateAt(spark, dir)
    val live = reg.filterNot(_.isIdentity)
      .map(r => files0.map(r.translateMeta)).getOrElse(files0)
      .filter(_.kind == "data")
    val present = schema.fieldNames.toSet
    val stats = live.flatMap(_.stats.keys).distinct.filter(present)
    val bloom = live.flatMap(_.blooms.keys).distinct.filter(present)
    // synthetic bucket(n,col) partition keys inherit when their INNER
    // column is present — a bucketed layout must not silently decay
    // through one metadata-less insert
    val parts = live.flatMap(_.parts.keys).distinct.filter {
      case SnapshotLog.BucketKeyPattern(_, inner) => present(inner)
      case c => present(c)
    }
    (stats, bloom.headOption, parts)
  }

  /** Footer schemas come back non-nullable for required fields; the
    * relation contract (and epoch null-filling) wants nullable. */
  private[connector] def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  /** A snapshot's (mask files, data files, per-epoch visible schemas,
    * user-visible schema, live field registry) — [[visibleState]]'s
    * answer, shared by the V1 relations and [[GraftV2Table]]. */
  private[connector] type VisibleState =
    (Seq[SnapshotLog.DataFile], Seq[SnapshotLog.DataFile],
     Seq[StructType], StructType, Option[graft.table.FieldRegistry])

  /** The snapshot's (mask files, data files, per-epoch visible schemas,
    * user-visible schema) — schemas probed from one footer per epoch
    * (returned so callers never re-probe), internal columns (row lineage)
    * hidden exactly as [[SnapshotLog.read]] hides them. The visible
    * schema of a DRIFTED snapshot is the Evolution-MERGED one (what the
    * epoch-widening read produces), never a single epoch's — picking one
    * epoch would silently drop the others' columns from streaming reads.
    *
    * A table whose CURRENT snapshot is empty (overwritten with an empty
    * frame) stays readable: the schema is recovered from the newest
    * still-on-disk file any retained manifest ever added. Only a table
    * with no recoverable schema anywhere refuses. */
  private[connector] def visibleState(spark: SparkSession, dir: String,
                                      asOf: Option[Long]): VisibleState = {
    val (files, reg0) = SnapshotLog.stateAt(spark, dir, asOf)
    // identity registries impose nothing; only a live rename/drop makes
    // schemas resolve through the mapping (and forces the computed path)
    val reg = reg0.filterNot(_.isIdentity)
    val (dels, data) = files.partition(SnapshotLog.isMask)
    def hide(sch: StructType): StructType = {
      val h = StructType(sch.fields.filterNot(f => isInternal(f.name)))
      reg.map(_.toLogicalSchema(h)).getOrElse(h)
    }
    if (data.isEmpty) {
      val recovered = SnapshotLog.commitsReverse(spark, dir)
        .filter(c => asOf.forall(c.snapshotId <= _))
        .flatMap(_.added.filter(_.kind == "data"))
        .map(f => scala.util.Try(spark.read.parquet(f.path).schema))
        .collectFirst { case scala.util.Success(sch) => sch }
      require(recovered.isDefined, s"graft table $dir has no data files" +
        asOf.fold("")(v => s" at snapshot $v") +
        " and no retained manifest references a readable file to recover" +
        " the schema from")
      (dels, data, Seq.empty, nullable(hide(recovered.get)), reg)
    } else {
      val groups = SnapshotLog.epochGroups(spark, data)
      val all = groups.map { case (sch, _) => nullable(hide(sch)) }
      val merged =
        if (all.distinct.size == 1) all.head
        else nullable(graft.schema.Evolution.mergedSchema(all))
      // epoch schemas reported for the FAST-PATH decision consider only
      // ROW-BEARING files: a zero-row schema-carrier (ALTER TABLE ADD
      // COLUMNS) widens the visible schema without forcing the computed
      // path — the parquet scan null-fills requested-but-absent columns
      // natively, as long as the bearing epoch's column TYPES survive
      // the merge unchanged (relationFor checks exactly that)
      val bearing = groups.filter(_._2.exists(_.rows > 0))
        .map { case (sch, _) => nullable(hide(sch)) }
      (dels, data, bearing, merged, reg)
    }
  }

  /** Plan the relation for a snapshot: `HadoopFsRelation` over
    * [[GraftFileIndex]] when the snapshot is mask-free and single-epoch
    * (modulo hidden internal columns), else the general-path
    * [[GraftComputedRelation]], pinned to the snapshot resolved here and
    * carrying the [[GraftV2Table]] [[GraftV2ReadRule]] reads it through.
    * SQL `INSERT INTO` / `INSERT OVERWRITE` against these relations is
    * rewritten to log commits by [[GraftInsertRule]] — it must be a RULE,
    * not a relation mixin, because `DataSource.resolveRelation` rebuilds
    * a plain `HadoopFsRelation` (dropping any subclass) for catalog
    * tables. */
  private[connector] def relationFor(spark: SparkSession, sqlContext: SQLContext,
                                     dir: String, asOf: Option[Long]): BaseRelation = {
    // resolve "latest" to an id ONCE: the general path's deferred read
    // and its V2 scan must both see exactly this snapshot
    val pin = asOf.orElse(SnapshotLog.currentSnapshotId(spark, dir))
    val state @ (dels, data, epochSchemas, visible, reg) = visibleState(spark, dir, pin)
    if (data.isEmpty) // empty snapshot: zero rows under the recovered schema
      new GraftComputedRelation(sqlContext,
        spark.createDataFrame(spark.sparkContext
          .emptyRDD[org.apache.spark.sql.Row], visible),
        visible, dir, insertable = asOf.isEmpty)
    // a live (non-identity) field registry resolves columns by id —
    // physical file names differ from the visible ones, which the bare
    // parquet scan cannot express: the general path projects them;
    // OPTIMIZE's materializing rewrite is the road back to this fast path
    else if (reg.isEmpty && dels.isEmpty && epochSchemas.distinct.size <= 1 &&
        // a visible schema WIDER than the bearing epoch (schema carriers
        // from ALTER ADD COLUMNS) stays on the fast path only when the
        // bearing columns' types survived the merge unchanged: parquet
        // null-fills absent columns but cannot widen types in-scan
        epochSchemas.headOption.forall(_.fields.forall(f =>
          visible.fields.exists(v => v.name == f.name && v.dataType == f.dataType))))
      HadoopFsRelation(
        location = new GraftFileIndex(spark, dir, data, visible, asOf),
        partitionSchema = new StructType(),
        dataSchema = visible,
        bucketSpec = None,
        fileFormat = new ParquetFileFormat,
        options = Map.empty)(spark)
    else
      new GraftComputedRelation(sqlContext,
        SnapshotLog.read(spark, dir, pin).get, visible, dir,
        insertable = asOf.isEmpty,
        v2Table = Some(new GraftV2Table(dir, asOf, preState = Some(state))))
  }

  /** `INSERT INTO` (append commit) / `INSERT OVERWRITE` (atomic
    * whole-table replacement) against a graft table — positional SQL
    * semantics: columns bind by position, so align the SELECT to the
    * table schema. */
  private[connector] def insertInto(spark: SparkSession, dir: String,
                                    visible: StructType, data: DataFrame,
                                    overwrite: Boolean): Unit = {
    require(data.schema.length == visible.length,
      s"INSERT into graft table $dir needs ${visible.length} columns " +
        s"(${visible.fieldNames.mkString(", ")}), got ${data.schema.length}")
    import org.apache.spark.sql.functions.col
    val aligned = data.select(data.columns.zip(visible.fields).map {
      case (from, to) => col(from).cast(to.dataType).as(to.name) }.toSeq: _*)
    // inherit the table's pruning metadata so INSERTed files stay as
    // indexable as the files around them; an EMPTY table (V2 CREATE, a
    // truncate) has nothing to inherit — fall back to the DURABLE layout
    // properties (PARTITIONED BY, statsCols/bloomCol TBLPROPERTIES) so a
    // declared layout binds from the FIRST insert instead of silently
    // never taking effect
    val (stats0, bloom0, parts0) = inheritedMeta(spark, dir, visible)
    lazy val props = SnapshotLog.tableProps(spark, dir)
    def propCols(key: String): Seq[String] = props.collectFirst {
      case (k, v) if k.equalsIgnoreCase(key) => v }.toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      .filter(c => visible.fieldNames.exists(_.equalsIgnoreCase(c)))
    val stats = if (stats0.nonEmpty) stats0 else propCols("statsCols")
    val bloom = bloom0.orElse(propCols("bloomCol").headOption)
    val parts1 = if (parts0.nonEmpty) parts0 else propCols("partitionCols")
    // a declared BUCKET layout (durable bucketCol/bucketCount props from
    // `PARTITIONED BY (bucket(n, col))`, or an inherited bucket(n,col)
    // manifest key) clusters every insert: rows hash-repartition on the
    // modulo residue (bucketArrange — one bucket id per file by
    // construction), and the synthetic key is recorded — the layout the
    // V2 scan reports for storage-partitioned joins must never decay
    // through one insert. (Stale keys on a props-UNSET table are
    // garbage-collected by the next OPTIMIZE, which is also when
    // inserts stop re-recording them.)
    val bucketSpec: Option[(String, Int)] = {
      def prop(key: String): Option[String] = props.collectFirst {
        case (k, v) if k.equalsIgnoreCase(key) => v }
      (for { c <- prop("bucketCol"); n <- prop("bucketCount")
               .flatMap(_.toIntOption) } yield (c, n))
        .orElse(parts1.collectFirst {
          case SnapshotLog.BucketKeyPattern(n, inner) => (inner, n.toInt) })
        // a declared spec over a missing or non-integral column never
        // arranges (conservative: the scan's manifest proof simply
        // won't hold, it degrades to UnknownPartitioning)
        .filter { case (c, _) => visible.fields.exists(f =>
          f.name.equalsIgnoreCase(c) && SnapshotLog.bucketable(f.dataType)) }
    }
    val parts = bucketSpec match {
      case Some((c, n)) =>
        val key = SnapshotLog.bucketPartKey(n, c)
        if (parts1.contains(key)) parts1 else parts1 :+ key
      case None => parts1
    }
    val arranged = bucketSpec match {
      case Some((c, n)) => SnapshotLog.bucketArrange(aligned, c, n)
      case None => aligned
    }
    val added = SnapshotLog.writeData(arranged, dir,
      statsCols = stats, bloomCol = bloom, partitionCols = parts,
      // bucketArrange leaves each partition (= file) key-ascending
      sortedBy = bucketSpec.map(_._1))
    if (overwrite)
      replaceAll(spark, dir, added, Map("mode" -> "insert-overwrite"))
    else
      SnapshotLog.commitRetrying(spark, dir, added,
        summary = Map("mode" -> "insert-into"))
  }
}

/** The relation behind every non-fast-path read: the general path (a
  * snapshot with masks, drifted epochs or a live field registry), the
  * empty snapshot and the batch change feed.
  *
  * `df` is evaluated only when Spark asks this relation for rows. On the
  * general path it is [[SnapshotLog.read]]'s merge-on-read /
  * epoch-widening plan, which a session with the graft extensions never
  * builds: [[GraftV2ReadRule]] swaps the relation for `v2Table`'s
  * vectorized scan during analysis. The declared `schema` is the snapshot's visible
  * one (the fast path's and [[GraftV2Table]]'s); [[buildScan]] binds the
  * computed columns to it by name. Column pruning is honored
  * (`PrunedScan`); row filtering rides Spark's own post-scan Filter. */
private[connector] final class GraftComputedRelation(
    override val sqlContext: SQLContext, df: => DataFrame,
    visible: StructType, val tableDir: String, val insertable: Boolean,
    /** The pinned snapshot as a V2 table, on the general path only —
      * what [[GraftV2ReadRule]] reads this relation through. */
    val v2Table: Option[GraftV2Table] = None)
    extends BaseRelation with PrunedScan with InsertableRelation {

  private lazy val computed: DataFrame = df

  override val schema: StructType = GraftDataSource.nullable(visible)

  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(insertable, s"graft table $tableDir: cannot INSERT into a " +
      "time-travel (versionAsOf/timestampAsOf/tagAsOf) relation")
    GraftDataSource.insertInto(sqlContext.sparkSession, tableDir, schema,
      data, overwrite)
  }

  override def needConversion: Boolean = true

  override def buildScan(requiredColumns: Array[String]): RDD[Row] = {
    import org.apache.spark.sql.functions.col
    val pruned = if (requiredColumns.isEmpty) computed
      else computed.select(requiredColumns.toSeq.map(c =>
        col(c).cast(schema(c).dataType).as(c)): _*)
    pruned.rdd
  }
}
