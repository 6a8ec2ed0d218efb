package graft.connector

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{expressions => cexpr}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.graftshim.{GraftBucketWriterFactory, GraftWriteShim, GraftWriteSpecs, GraftWriteTaskResult}
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType

import graft.table.SnapshotLog

/** The WRITE half of the DataSourceV2 face ([[GraftCatalog]]).
  *
  * Both shapes write through the real engine-planned batch write
  * ([[GraftBucketWrite]]: the task-side inline-stats writer every face
  * shares) and commit through the SAME snapshot-log entry points every
  * other face uses ([[SnapshotLog.commitRetrying]] /
  * [[GraftDataSource.replaceAll]]), so V1 writers, SQL DML, streaming
  * sinks and V2 writers interleave safely by construction — one
  * optimistic log arbitrates them all. The engine's V1-fallback
  * contract remains only where the real write cannot serve: a bucketed
  * CTAS (its exec plans no exchange) and a lineage table's replaceWhere
  * (the V1 face stamps lineage).
  *
  *  - [[GraftV2WriteBuilder]] — writes into an EXISTING table:
  *    `INSERT INTO cat.t`, `df.writeTo("cat.t").append()`, and
  *    `INSERT OVERWRITE` (the builder's `truncate()` flips the commit
  *    from an append to the atomic whole-live-set replacement).
  *  - [[GraftStagedTable]] — atomic CTAS / RTAS through
  *    [[StagingTableCatalog]]: the CTAS query's files are written
  *    (invisible — the log-structured format makes "staged" the
  *    natural state of any uncommitted file) and the MANIFEST commit
  *    happens only in `commitStagedChanges()`, so a failed or killed
  *    CTAS leaves no half-table behind and REPLACE swaps old for new
  *    in one snapshot readers either see entirely or not at all.
  *
  * 100 TB posture: identical to every other write face — data moves
  * once through a distributed parquet write, the commit is one tiny
  * manifest CAS, and a replace carries zero data bytes for untouched
  * history (time travel to the pre-replace snapshot still works).
  */
private[connector] final class GraftV2WriteBuilder(dir: String,
    visible: StructType,
    /** The table-pinned real-V2-write plan. */
    realWrite: GraftRealWritePlan) extends WriteBuilder
    with SupportsTruncate with SupportsOverwrite {

  private var overwrite = false
  private var overwriteFilters: Array[Filter] = Array.empty

  /** INSERT OVERWRITE / `writeTo(...).createOrReplace()`-style truncate:
    * the V1 exec always passes `overwrite = false` to the relation, so
    * the decision must be captured HERE, at the builder. */
  override def truncate(): WriteBuilder = {
    overwrite = true; overwriteFilters = Array.empty; this
  }

  /** `writeTo("cat.t").overwrite(condition)` — the V2-native
    * replaceWhere: the filters become the predicate of ONE atomic
    * delete-and-insert commit ([[GraftDml.replaceWhereCond]]). Accepts
    * exactly what `insert()` can execute — [[GraftDml.sourceFilterExpr]]
    * convertibility (the same gate canDeleteWhere uses) — so a filter
    * shape the conversion lacks is rejected at PLANNING (the engine
    * re-plans) instead of throwing at execution. */
  override def canOverwrite(filters: Array[Filter]): Boolean = {
    // convertibility needs only name resolution; synthesized attributes
    // over the visible schema answer it without loading the relation
    val out: Seq[cexpr.Attribute] = visible.fields.toSeq.map(f =>
      cexpr.AttributeReference(f.name, f.dataType, nullable = true)())
    filters.forall(f => GraftDml.sourceFilterExpr(f, out).isDefined)
  }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    overwrite = true; overwriteFilters = filters; this
  }

  /** Every write returns the REAL V2 [[GraftBucketWrite]] — the engine
    * then honors its `RequiresDistributionAndOrdering` (the V1-fallback
    * exec runs the pre-optimization `analyzedQuery` BY DESIGN, so a
    * V1Write can never receive an engine-planned exchange) and
    * executors write files + inline manifest stats directly — including
    * predicate replaceWhere (rows validate against the predicate IN the
    * write task, the commit is the same predicate-scoped slice swap as
    * the V1 face). */
  override def build(): Write = {
    val isTruncate = overwriteFilters.isEmpty ||
      overwriteFilters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
    val replaceWhere = overwrite && !isTruncate
    if (!replaceWhere) realWrite.mk(overwrite, None)
    else if (realWrite.replaceWhereSupported)
      realWrite.mk(false, Some((overwriteFilters,
        overwriteFilters.mkString(" AND "))))
    // a lineage-stamped table never declares OVERWRITE_BY_FILTER, so the
    // engine refuses its replaceWhere at analysis; this arm is a
    // defensive fallback onto the V1 face's stamping path
    else v1Write()
  }

  private def v1Write(): Write = new V1Write {
    private val ow = overwrite
    private val fs = overwriteFilters
    private def isTruncate = fs.isEmpty ||
      fs.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])

    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, ignored: Boolean): Unit = {
          val spark = data.sparkSession
          if (ow && !isTruncate) {
            // predicate-scoped atomic overwrite (V2 replaceWhere)
            val t = GraftDml.v1Target(spark, dir)
            val cond = fs.toSeq
              .map(f => GraftDml.sourceFilterExpr(f, t.output).getOrElse(
                throw new UnsupportedOperationException(
                  s"graft table $dir: cannot overwrite by filter $f")))
              .reduce[org.apache.spark.sql.catalyst.expressions.Expression](
                org.apache.spark.sql.catalyst.expressions.And)
            GraftDml.replaceWhereCond(spark, dir, data, cond, t,
              predLabel = fs.mkString(" AND "))
          } else
            GraftDataSource.insertInto(spark, dir, visible, data,
              overwrite = ow)
          // a V1 catalog table over the same dir must not keep serving
          // its cached pre-commit file list (no ident known here)
          spark.sessionState.catalog.invalidateAllCachedTables()
        }
      }
    override def toString: String =
      s"GraftV1Write($dir, ${if (ow) "overwrite" else "append"}" +
        (if (fs.nonEmpty) s", where=${fs.mkString(" AND ")}" else "") + ")"
  }
}

/** A table's pinned real-V2-write plan: `mk(overwriteAll,
  * replaceWhere)` builds the [[GraftBucketWrite]]; `replaceWhereSupported`
  * gates the OVERWRITE_BY_FILTER capability (false on lineage-stamped
  * tables, whose replaceWhere must ride the V1 face's stamping path). */
private[connector] final case class GraftRealWritePlan(
    mk: (Boolean, Option[(Array[Filter], String)]) => Write,
    replaceWhereSupported: Boolean)

/** The declared bucket layout of a real-V2 write: logical key column,
  * its row ordinal, extraction tag, bucket count. */
private[connector] final case class GraftWriteBucketSpec(
    logicalCol: String, ordinal: Int, tag: Int, n: Int)

/** The REAL DataSourceV2 batch write of a graft table — bucketed or
  * not, any metadata shape, predicate replaceWhere included — the
  * engine-contract path the V1 bridge cannot express:
  *
  *  1. `RequiresDistributionAndOrdering` reports
  *     `clustered(bucket(n, col))` + a `(bucket(n, col), col)` local
  *     ordering on bucket-declared tables; the engine resolves the
  *     transform through [[GraftBucketFunction]] (the SAME bound
  *     formula the scan reports and the manifest records) and plans the
  *     exchange + sort itself — AQE-sized, fused with the query.
  *     Unbucketed tables require nothing (the incoming distribution is
  *     already right: data moves zero extra times).
  *  2. Executors write parquet through the engine's own
  *     `OutputWriterFactory` (FANNED OUT one file per bucket id when
  *     bucketed) with every manifest statistic computed INLINE
  *     ([[org.apache.spark.sql.graftshim.GraftBucketWriterFactory]]) —
  *     no post-write stats read-back pass at all.
  *  3. `commit` turns the per-task results into ONE manifest CAS —
  *     append, the atomic whole-live-set replacement for INSERT
  *     OVERWRITE, or the predicate-scoped slice swap for replaceWhere
  *     ([[GraftDml.replaceWhereFiles]]: metadata-covered file drops +
  *     boundary rewrites, O(touched + incoming)); aborted tasks leave
  *     only unreferenced bytes the grace-gated sweep reclaims.
  *
  * replaceWhere validation moves INTO the write task (r15): each row
  * checks the predicate as it streams past — one comparison per row in
  * the task that already holds it — instead of the V1 path's persist +
  * second validation pass over the incoming frame.
  *
  * Correctness never depends on the engine honoring the distribution
  * (non-strict): the fanout writer keeps every file single-id under ANY
  * incoming distribution, and stamps `sortedBy` only after verifying
  * each file's order row-by-row. */
private[connector] final class GraftBucketWrite(
    spark: SparkSession, dir: String,
    bucket: Option[GraftWriteBucketSpec],
    overwriteAll: Boolean,
    replaceWhere: Option[(Array[Filter], String)],
    logicalSchema: StructType, physicalSchema: StructType,
    specs: GraftWriteSpecs,
    /** CTAS/RTAS staging (r15): record the written files here instead
      * of committing — the staging transaction owns the manifest. */
    stageOnly: Option[Seq[SnapshotLog.DataFile] => Unit] = None)
    extends Write with BatchWrite with RequiresDistributionAndOrdering {

  private def physicalBucketCol: String =
    physicalSchema.fields(bucket.get.ordinal).name

  override def toBatch: BatchWrite = this

  override def requiredDistribution(): Distribution = bucket match {
    case Some(b) =>
      Distributions.clustered(Array(Expressions.bucket(b.n, b.logicalCol)))
    case None => Distributions.unspecified()
  }

  /** Local (bucket-id, key) sort: rows reach each task bucket-contiguous
    * and key-ascending, so the fanout writes ONE file per bucket and the
    * verified `sortedBy` stamp holds — which is what lets the read-side
    * SMJ drop its per-task Sort ([[GraftV2BatchScan]]'s
    * SupportsReportOrdering). */
  override def requiredOrdering(): Array[SortOrder] = bucket match {
    case Some(b) => Array(
      Expressions.sort(Expressions.bucket(b.n, b.logicalCol),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING),
      Expressions.sort(Expressions.column(b.logicalCol),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
    case None => Array.empty
  }

  override def requiredNumPartitions(): Int = 0 // AQE sizes the exchange
  override def distributionStrictlyRequired(): Boolean = false

  private val writeUuid = java.util.UUID.randomUUID().toString

  /** The replaceWhere predicate BOUND to the incoming row layout — built
    * once on the driver, compiled per task. Filters speak the table's
    * logical column names (canOverwrite gated convertibility). */
  private def boundPredicate: Option[(cexpr.Expression, String)] =
    replaceWhere.map { case (filters, label) =>
      val attrs: Seq[cexpr.Attribute] = logicalSchema.fields.toSeq.map(f =>
        cexpr.AttributeReference(f.name, f.dataType, nullable = true)())
      val cond = filters.toSeq
        .map(f => GraftDml.sourceFilterExpr(f, attrs).getOrElse(
          throw new UnsupportedOperationException(
            s"graft table $dir: cannot overwrite by filter $f")))
        .reduceOption[cexpr.Expression](cexpr.And)
        .getOrElse(cexpr.Literal.TrueLiteral)
      (cexpr.BindReferences.bindReference(cond, attrs.toIndexedSeq), label)
    }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val (owf, conf) = GraftWriteShim.prepareFactory(spark, physicalSchema)
    val inner = new GraftBucketWriterFactory(s"$dir/data/$writeUuid",
      physicalSchema,
      bucket.map(_.ordinal).getOrElse(-1),
      bucket.map(_.tag).getOrElse(-1),
      bucket.map(_.n).getOrElse(0),
      specs, owf, conf)
    boundPredicate match {
      case Some((pred, label)) =>
        new GraftValidatingWriterFactory(inner, pred, label)
      case None => inner
    }
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val results = messages.toSeq
      .collect { case m: GraftWriteTaskResult => m.files }.flatten
    val files = SnapshotLog.fileEntries(results, specs,
      bucketKey = bucket.map(b =>
        SnapshotLog.bucketPartKey(b.n, physicalBucketCol)),
      sortedBy = r => if (r.sorted) bucket.map(_ => physicalBucketCol) else None)
    // a STAGED write (CTAS/RTAS) only records its files — the manifest
    // commit is the staging transaction's, in commitStagedChanges
    stageOnly match {
      case Some(record) => record(files); return
      case None => ()
    }
    replaceWhere match {
      case Some((filters, label)) =>
        GraftDml.replaceWhereFiles(spark, dir, files, filters, label)
      case None if overwriteAll =>
        // an empty OVERWRITE still truncates — but the schema must
        // survive on a zero-row carrier (the V1 path's empty part file)
        val committed =
          if (files.nonEmpty) files
          else Seq(GraftMaintenance.writeSchemaCarrier(spark, dir,
            physicalSchema))
        GraftDataSource.replaceAll(spark, dir, committed,
          Map("mode" -> "insert-overwrite"))
      case None if files.isEmpty => return // zero-row append: no commit
      case None =>
        SnapshotLog.commitRetrying(spark, dir, files,
          summary = Map("mode" -> "insert-into"))
    }
    spark.sessionState.catalog.invalidateAllCachedTables()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    messages.toSeq.collect { case m: GraftWriteTaskResult => m.files }
      .flatten.foreach { r =>
        try {
          val p = new org.apache.hadoop.fs.Path(r.path)
          p.getFileSystem(conf).delete(p, false)
        } catch { case scala.util.control.NonFatal(_) => () }
      }
  }

  override def toString: String =
    s"GraftBucketWrite($dir, " +
      bucket.fold("unbucketed")(b => s"bucket(${b.n}, ${b.logicalCol})") +
      (replaceWhere match {
        case Some((_, label)) => s", replaceWhere=$label)"
        case None => s", ${if (overwriteAll) "overwrite" else "append"})"
      })
}

/** Wraps the inline-stats writer with the replaceWhere slice check:
  * every incoming row must satisfy the predicate (null → reject — it
  * would land outside the slice being replaced), enforced in the task
  * that already holds the row. A violation fails the task, the engine
  * aborts the write, and [[GraftBucketWrite.abort]] deletes the
  * written bytes — the table never saw any of it. */
private[connector] final class GraftValidatingWriterFactory(
    inner: DataWriterFactory,
    pred: cexpr.Expression,
    label: String) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val p = cexpr.Predicate.create(pred)
    p.initialize(partitionId)
    val w = inner.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] {
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        if (!p.eval(row)) throw new IllegalArgumentException(
          s"replaceWhere '$label': the written data contains rows that " +
            "do NOT satisfy the predicate — they would land outside the " +
            "slice being replaced")
        w.write(row)
      }
      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}

private[connector] object GraftBucketWrite {

  /** The writer specs of a write into `schema`'s row layout: the
    * declared metadata planned by [[GraftWriteShim.specsFor]] — the
    * planner `writeData` uses — in the session time zone. */
  def specsOf(spark: SparkSession, dir: String, schema: StructType,
              stats: Seq[String], bloom: Option[String], parts: Seq[String],
              physical: String => String): GraftWriteSpecs =
    GraftWriteShim.specsFor(schema, stats, bloom,
      parts.filterNot(SnapshotLog.BucketKeyPattern.matches),
      spark.sessionState.conf.sessionLocalTimeZone, dir, physical)

  /** The real-V2-write plan for `dir`: the table's inherited metadata
    * columns (or, on an empty table, its declared TBLPROPERTIES) ride
    * the inline writer whatever their types, and a declared bucket
    * layout over a bucketable column clusters the write (over any other
    * column it binds nothing — the V1 insert's posture).
    * `replaceWhereSupported` additionally requires the table NOT be
    * lineage-stamped: the V1 replaceWhere stamps incoming rows with the
    * commit id, which the inline writer does not — a silent stamp drop
    * would downgrade the change feed. Computed ONCE per table instance
    * (the capability decision and the builder must agree — a fresh
    * evaluation at build time could race a concurrent metadata commit
    * into a capability/write mismatch); the writer specs are planned at
    * build time, so a refused metadata column fails the write, never
    * the table load. */
  def planFor(spark: SparkSession, dir: String, visible: StructType)
      : GraftRealWritePlan = {
    val props = SnapshotLog.tableProps(spark, dir)
    def prop(k: String): Option[String] = props.collectFirst {
      case (kk, v) if kk.equalsIgnoreCase(k) => v }
    def propCols(key: String): Seq[String] = prop(key).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      .filter(c => visible.fieldNames.exists(_.equalsIgnoreCase(c)))
    // inherit the table's pruning metadata exactly as the V1 insert
    // does; the synthetic bucket key is recorded by the writer itself
    val (stats0, bloom0, parts0) =
      GraftDataSource.inheritedMeta(spark, dir, visible)
    val stats = (if (stats0.nonEmpty) stats0 else propCols("statsCols"))
    val bloom = bloom0.orElse(propCols("bloomCol").headOption)
    val parts = (if (parts0.nonEmpty) parts0 else propCols("partitionCols"))
    // LOGICAL → physical naming + row ordinals (row layout is the
    // visible schema; a field registry renames stored columns only)
    val reg = SnapshotLog.registryAt(spark, dir).filterNot(_.isIdentity)
    def phys(c: String): String = reg.flatMap(_.physicalOf(c)).getOrElse(c)
    val physicalSchema = StructType(visible.fields.map(f =>
      f.copy(name = phys(f.name), nullable = true)))
    val bucket = for {
      c <- prop("bucketCol")
      n <- prop("bucketCount").flatMap(_.toIntOption)
      i = visible.fields.indexWhere(_.name.equalsIgnoreCase(c)) if i >= 0
      t <- GraftWriteShim.bucketTagOf(visible.fields(i).dataType)
    } yield GraftWriteBucketSpec(c, i, t, n)
    // lineage posture: appends never stamp on ANY path (insertInto
    // doesn't), but replaceWhere does — route it back to V1 stamping
    // by not declaring the capability when lineage is in force
    val (history, logDeclared, dProps) = SnapshotLog.durableMeta(spark, dir)
    val lineage = history.isDefined || logDeclared.isDefined ||
      dProps.keysIterator.exists(_.equalsIgnoreCase("lineageKey"))
    GraftRealWritePlan(
      mk = (overwriteAll, replaceWhere) =>
        new GraftBucketWrite(spark, dir, bucket, overwriteAll,
          replaceWhere, visible, physicalSchema,
          specsOf(spark, dir, visible, stats, bloom, parts, phys)),
      replaceWhereSupported = !lineage)
  }
}

/** A table staged by CTAS / RTAS: collects the query's written files
  * and commits them — with the staged DDL — only in
  * `commitStagedChanges()`. Until then nothing references the files,
  * so abort (or a crash) costs only orphan bytes the grace-gated
  * sweep reclaims. `replace` commits through
  * [[GraftDataSource.replaceAll]]'s pinned-base protocol: a commit
  * interleaving with the replace throws instead of being silently
  * overwritten. */
private[connector] final class GraftStagedTable(spark: SparkSession,
    dir: String, declared: StructType, replace: Boolean, orCreate: Boolean,
    properties: util.Map[String, String])
    extends StagedTable with SupportsWrite {

  // the REPLACE transaction's base pins at STAGE time, not commit time:
  // a commit landing while the RTAS query runs must CONFLICT (throw),
  // never be silently swallowed by a replace derived from older state
  private val stagedBase: Option[Long] = SnapshotLog.currentSnapshotId(spark, dir)
  private def existedAtStage = stagedBase.isDefined

  // files the CTAS query wrote, recorded by the staged write below
  @volatile private var staged: Seq[SnapshotLog.DataFile] = Seq.empty
  @volatile private var wrote = false

  override def name(): String = s"$dir (staged)"
  override def schema(): StructType = declared

  override def capabilities(): util.Set[TableCapability] =
    (if (stagedRealWrite) Set(TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
     else Set(TableCapability.V1_BATCH_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)).asJava

  override def properties(): util.Map[String, String] =
    Map("provider" -> "graft", "location" -> dir).asJava

  private def prop(key: String): Option[String] =
    Option(properties).flatMap(p => p.asScala.collectFirst {
      case (k, v) if k.equalsIgnoreCase(key) => v })

  /** Whether this staging's query writes through the REAL batch write
    * (stats in the writing task, files only RECORDED for the staging
    * transaction to commit): every unbucketed declaration. Bucketed
    * declarations keep the V1 staged path: the CTAS exec never consults
    * RequiresDistributionAndOrdering, so the fanout would write
    * tasks×buckets files where `bucketArrange` writes bucketCount. */
  private def stagedRealWrite: Boolean =
    prop("bucketCol").isEmpty && prop("bucketCount").isEmpty

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // RTAS arrives as OverwriteByExpression(true) → truncate(); the
      // replace decision already lives in the staged mode, so this is
      // a no-op acknowledgement, not state
      override def truncate(): WriteBuilder = this
      override def build(): Write =
        if (stagedRealWrite) realStagedWrite() else v1StagedWrite()
      private def realStagedWrite(): Write = {
        def field(c: String) =
          declared.fields.find(_.name.equalsIgnoreCase(c)).map(_.name)
        def propCols(key: String): Seq[String] = prop(key).toSeq
          .flatMap(_.split(',')).map(_.trim).filter(c => field(c).nonEmpty)
        new GraftBucketWrite(spark, dir, None, false, None, declared,
          StructType(declared.fields.map(_.copy(nullable = true))),
          GraftBucketWrite.specsOf(spark, dir, declared,
            propCols("statsCols"), propCols("bloomCol").headOption,
            propCols("partitionCols"), c => field(c).getOrElse(c)),
          stageOnly = Some(fs => { staged = fs; wrote = true }))
      }
      private def v1StagedWrite(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ignored: Boolean): Unit = {
              // pruning metadata rides CTAS TBLPROPERTIES — the same
              // keys the writer options take (statsCols, bloomCol,
              // partitionCols), so a V2-created table is as indexable
              // as a V1-written one
              val stats = prop("statsCols").toSeq
                .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
              val parts = prop("partitionCols").toSeq
                .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
              // PARTITIONED BY (bucket(n, col)) CTAS: arrange the query
              // result so each staged file holds one residue, and record
              // the synthetic bucket key — the SPJ layout holds from the
              // table's very first commit. The arrangement stays
              // writer-internal here: the engine's CTAS path never
              // consults RequiresDistributionAndOrdering (V2Writes plans
              // only AppendData/Overwrite*), so unlike the INSERT path
              // there is no engine exchange to defer to.
              val bucket = for {
                c <- prop("bucketCol")
                n <- prop("bucketCount").flatMap(_.toIntOption)
              } yield (c, n)
              val arranged = bucket match {
                case Some((c, n)) => SnapshotLog.bucketArrange(data, c, n)
                case None => data
              }
              staged = SnapshotLog.writeData(arranged, dir,
                statsCols = stats, bloomCol = prop("bloomCol"),
                partitionCols = parts ++ bucket.map { case (c, n) =>
                  SnapshotLog.bucketPartKey(n, c) },
                // bucketArrange leaves each partition key-ascending
                sortedBy = bucket.map(_._1))
              wrote = true
            }
          }
        override def toString: String = s"GraftStagedV1Write($dir)"
      }
    }

  override def commitStagedChanges(): Unit = {
    // a zero-row CTAS (or a staged CREATE that never wrote) still needs
    // the DECLARED schema durable: commit a zero-row schema carrier
    val files =
      if (staged.nonEmpty) staged
      else Seq(GraftMaintenance.writeSchemaCarrier(spark, dir, declared))
    // durable TBLPROPERTIES ride the creating/replacing commit itself
    val props = GraftCatalog.durableProps(properties)
    if (!replace) {
      // CTAS create: CAS at snapshot 1 — a racing creator makes this
      // throw (TableAlreadyExists semantics), never a silent merge
      try SnapshotLog.commitAt(spark, dir, 1L, "append", files, Seq.empty,
        Map("created_by" -> "v2-ctas") ++ props)
      catch {
        case e: SnapshotLog.ConcurrentCommitException =>
          abortStagedChanges()
          throw new IllegalStateException(
            s"graft table $dir: lost the CTAS creation race", e)
      }
    } else if (!existedAtStage &&
        SnapshotLog.currentSnapshotId(spark, dir).isEmpty) {
      require(orCreate, s"graft table $dir: REPLACE TABLE target does " +
        "not exist (use CREATE OR REPLACE)")
      SnapshotLog.commitAt(spark, dir, 1L, "append", files, Seq.empty,
        Map("created_by" -> "v2-rtas") ++ props)
    } else {
      // RTAS: one atomic whole-live-set swap committed at the STAGE-TIME
      // base's successor — any commit that landed while the RTAS query
      // ran makes this throw (the replace was derived from state that no
      // longer holds), readers see old or new, never a mixture, and
      // pre-replace snapshots stay travelable. REPLACE REDEFINES the
      // table, properties included: with none given, an explicit empty
      // map commits so stale behavior-bearing keys (posDeletes,
      // lineageKey) don't silently survive the swap
      val declaredProps =
        if (props.nonEmpty) props
        else Map(SnapshotLog.TablePropsKey -> SnapshotLog.propsJson(Map.empty))
      GraftDataSource.replaceAll(spark, dir, files,
        Map("mode" -> "replace-table") ++ declaredProps,
        pinnedBase = Some(stagedBase.getOrElse(0L)))
    }
    // V1 catalog tables over this dir must re-resolve (no ident known)
    spark.sessionState.catalog.invalidateAllCachedTables()
  }

  override def abortStagedChanges(): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    // delete OUR staged write's uuid dirs (writeData gives each write an
    // exclusive data/<uuid>/ directory, so recursing into those touches
    // nothing foreign), then peel the empty shell NON-recursively — a
    // racing creator's already-written-but-uncommitted files under
    // data/<other-uuid>/ make the rmdir fail harmlessly instead of
    // being destroyed by a recursive delete of the whole table dir
    staged.map(f => new org.apache.hadoop.fs.Path(f.path).getParent)
      .distinct.foreach { d =>
        try d.getFileSystem(conf).delete(d, true)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    if (!existedAtStage && wrote &&
        SnapshotLog.currentSnapshotId(spark, dir).isEmpty) {
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(conf)
      try {
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/data"), false)
        fs.delete(root, false)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}
