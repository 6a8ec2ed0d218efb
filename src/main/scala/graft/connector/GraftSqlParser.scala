package graft.connector

import java.util.Locale
import java.util.regex.Pattern

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}

import graft.table.SnapshotLog

/** SQL maintenance statements for graft tables — the `injectParser`
  * school published by Delta Lake (DeltaSparkSessionExtension →
  * DeltaSqlParser → OPTIMIZE/VACUUM commands): a thin parser sits in
  * front of the session parser, claims exactly the two statements
  * vanilla Spark has no grammar for, and delegates EVERYTHING else
  * untouched (including every other method of [[ParserInterface]]).
  *
  * {{{
  *   OPTIMIZE tbl                          -- bin-pack small-file debt
  *   OPTIMIZE tbl WHERE ds = '2026-01-01'  -- scoped bin-pack (hot partition)
  *   OPTIMIZE tbl TARGET 256 MB            -- explicit file-size target
  *   OPTIMIZE tbl CLUSTER BY col           -- full rewrite, range-clustered
  *   OPTIMIZE tbl ZORDER BY (x, y[, …])    -- full rewrite, N-dim Z-order
  *   VACUUM tbl                            -- expire beyond last 2 snapshots
  *   VACUUM tbl RETAIN 168 HOURS           -- expire history older than 7d
  *   RESTORE tbl TO VERSION AS OF 3        -- metadata-only rollback
  *   RESTORE tbl TO VERSION AS OF 'tag'    -- …to a tagged snapshot
  *   RESTORE tbl TO TIMESTAMP AS OF '2026-01-01 12:00:00'
  *   ALTER TABLE tbl ADD COLUMNS (c INT)   -- schema-carrier commit
  *   ANALYZE TABLE tbl COMPUTE STATISTICS  -- CBO stats from the manifest
  *   ANALYZE TABLE tbl COMPUTE STATISTICS FOR COLUMNS a, b
  * }}}
  *
  * The target is a graft catalog table (`CREATE TABLE … USING graft`), a
  * graft V2 catalog's `cat.table` name ([[GraftCatalog]], r12), or a
  * quoted table directory. All forms lower onto the library's own
  * maintenance entry points — [[graft.cdc.Compaction.compactDir]] and
  * [[SnapshotLog.expireSnapshots]] — so SQL users get the identical
  * O(debt) bin-pack, mask-materializing rewrite, pinned-base concurrency
  * (a racing commit throws, never merges silently), tag-exempt retention
  * and grace-gated orphan sweep the Scala API documents; each returns
  * its report as the command's result rows.
  *
  * 100 TB posture: `OPTIMIZE` without a layout spec is the O(debt)
  * bin-pack — only sub-half-target files rewrite, the petabytes of
  * already-right-sized history carry by reference; `VACUUM` is manifest
  * metadata plus deletes of exactly the unreferenced files.
  */
final class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftMaintenance.parse(sqlText, session, delegate)
      .getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

object GraftMaintenance {

  // target = 'quoted/dir' | [`]ident[`](.[`]ident[`])*
  private val Target = """(?:'([^']+)'|([\w`.]+))"""
  private val OptimizeRe = Pattern.compile(
    s"""\\s*OPTIMIZE\\s+$Target""" +
      """(?:\s+WHERE\s+(.+?))?""" +
      """(?:\s+TARGET\s+(\d+)\s+MB)?""" +
      """(?:\s+ZORDER\s+BY\s*\(([\w`,\s]+)\))?""" +
      """(?:\s+CLUSTER\s+BY\s+([\w`]+))?\s*;?\s*""",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  private val VacuumRe = Pattern.compile(
    s"""\\s*VACUUM\\s+$Target(?:\\s+RETAIN\\s+(\\d+)\\s+HOURS?)?\\s*;?\\s*""",
    Pattern.CASE_INSENSITIVE)
  private val RestoreRe = Pattern.compile(
    s"""\\s*RESTORE\\s+(?:TABLE\\s+)?$Target\\s+(?:TO\\s+)?""" +
      """(?:VERSION\s+AS\s+OF\s+(?:(\d+)|'([^']+)')|""" +
      """TIMESTAMP\s+AS\s+OF\s+'([^']+)')\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)
  // ALTER is vanilla grammar with many forms — claim ONLY `ADD COLUMNS`
  // on a table that resolves to a graft catalog table at parse time;
  // every other ALTER (and non-graft targets) delegates to Spark
  private val AlterAddRe = Pattern.compile(
    s"""\\s*ALTER\\s+TABLE\\s+$Target\\s+ADD\\s+COLUMNS?\\s*\\((.*)\\)\\s*;?\\s*""",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  // RENAME/DROP COLUMN — metadata-only through the field registry (the
  // Delta column-mapping / Iceberg field-id school); vanilla Spark
  // refuses both on v1 tables, so claiming them for graft targets takes
  // nothing from anyone
  private val AlterRenameRe = Pattern.compile(
    s"""\\s*ALTER\\s+TABLE\\s+$Target\\s+RENAME\\s+COLUMN\\s+([\\w`]+)\\s+TO\\s+([\\w`]+)\\s*;?\\s*""",
    Pattern.CASE_INSENSITIVE)
  private val AlterDropRe = Pattern.compile(
    s"""\\s*ALTER\\s+TABLE\\s+$Target\\s+DROP\\s+COLUMNS?\\s+\\(?\\s*([\\w`]+)\\s*\\)?\\s*;?\\s*""",
    Pattern.CASE_INSENSITIVE)
  // ALTER COLUMN … TYPE — widening-only, metadata-only (schema-carrier
  // commit; the epoch-merging read LUBs older files' narrow values up).
  // Vanilla Spark refuses type changes on v1 tables, so claiming the
  // form for graft targets takes nothing from anyone.
  private val AlterTypeRe = Pattern.compile(
    s"""\\s*ALTER\\s+TABLE\\s+$Target\\s+(?:ALTER|CHANGE)\\s+COLUMN\\s+([\\w`]+)\\s+(?:SET\\s+DATA\\s+)?TYPE\\s+(.+?)\\s*;?\\s*""",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)
  // branch refs (the Iceberg CREATE/DROP BRANCH school; PUBLISH is the
  // fast-forward verb Iceberg phrases as a procedure) — metadata-only
  private val AlterBranchRe = Pattern.compile(
    s"""\\s*ALTER\\s+TABLE\\s+$Target\\s+(CREATE|DROP|PUBLISH)\\s+BRANCH\\s+([\\w.-]+)\\s*;?\\s*""",
    Pattern.CASE_INSENSITIVE)
  // ANALYZE is vanilla grammar — claimed ONLY for graft targets, where
  // Spark's own command would mis-measure (its file listing sees dead
  // files, masks and staged writes under the table location; the
  // manifest is the truth). Non-matching ANALYZE forms and non-graft
  // targets keep Spark's path.
  private val AnalyzeRe = Pattern.compile(
    s"""\\s*ANALYZE\\s+TABLE\\s+$Target\\s+COMPUTE\\s+STATISTICS""" +
      """(?:\s+(NOSCAN)|\s+FOR\s+COLUMNS\s+([\w`,\s]+?)|\s+FOR\s+(ALL)\s+COLUMNS)?\s*;?\s*""",
    Pattern.CASE_INSENSITIVE)

  private def unquote(s: String): String = s.replace("`", "")

  // the statement's target by PREFIX only — consulted when the full
  // grammar does NOT match, so a statement in another provider's WIDER
  // grammar (e.g. Delta's `OPTIMIZE t FULL`) can be recognized as
  // foreign and delegated instead of shadowed by our grammar error
  private val LooseTargetRe = Pattern.compile(
    s"""\\s*(?:OPTIMIZE|VACUUM|RESTORE)\\s+(?:TABLE\\s+)?$Target\\b.*""",
    Pattern.CASE_INSENSITIVE | Pattern.DOTALL)

  private def looseTargetOf(sqlText: String): Option[String] = {
    val m = LooseTargetRe.matcher(sqlText)
    if (m.matches()) Some(Option(m.group(1)).getOrElse(unquote(m.group(2))))
    else None
  }

  /** Does the identifier resolve to an EXISTING catalog table of some
    * OTHER provider? Such a target belongs to that provider's extension
    * (e.g. Delta sitting behind this parser in the delegate chain) —
    * claiming its OPTIMIZE/VACUUM/RESTORE here would shadow it with a
    * bogus "not a graft catalog table" error. Unknown names stay OURS:
    * delegating a typo'd graft-table name would surface as Spark's
    * misleading "syntax error at OPTIMIZE" instead of our named error. */
  private def foreignCatalogTable(session: SparkSession, target: String): Boolean = {
    if (target.contains("/")) return false // quoted paths are always ours
    val parts = target.split('.').toSeq
    if (graftCatalogDir(session, parts).isDefined) return false
    val catalog = session.sessionState.catalog
    val ident = parts match {
      case Seq(t) => TableIdentifier(t)
      case Seq(db, t) => TableIdentifier(t, Some(db))
      case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
        TableIdentifier(t, Some(db))
      case _ => return false
    }
    if (catalog.isTempView(parts)) return false
    scala.util.Try(catalog.getTableMetadata(ident)).toOption
      .exists(!_.provider.exists(_.equalsIgnoreCase("graft")))
  }

  /** Some(command) when the statement is one of ours; None delegates.
    * A statement that LEADS with our keyword but doesn't match the
    * grammar throws here with the grammar in the message — handing it
    * to Spark would produce a misleading "syntax error at OPTIMIZE" —
    * UNLESS its target resolves to another provider's catalog table,
    * which delegates (that extension's parser owns the statement). */
  private[connector] def parse(sqlText: String, session: SparkSession,
                               delegate: ParserInterface): Option[LogicalPlan] = {
    val lead = sqlText.stripLeading()
    val head = lead.takeWhile(!_.isWhitespace).toUpperCase(Locale.ROOT)
    head match {
      case "ALTER" =>
        def graftTarget(raw: String, quoted: String): Option[String] = {
          val target = Option(raw).getOrElse(unquote(quoted))
          val parts = target.split('.').toSeq
          if (target.contains("/") ||
              graftCatalogDir(session, parts).isDefined ||
              v2CatalogDir(session, parts).isDefined)
            Some(target)
          else None // non-graft ALTER keeps Spark's path
        }
        val mAdd = AlterAddRe.matcher(sqlText)
        if (mAdd.matches())
          return graftTarget(mAdd.group(1), mAdd.group(2)).map(t =>
            GraftAddColumnsCommand(t, delegate.parseTableSchema(mAdd.group(3))))
        val mRen = AlterRenameRe.matcher(sqlText)
        if (mRen.matches())
          return graftTarget(mRen.group(1), mRen.group(2)).map(t =>
            GraftRenameColumnCommand(t, unquote(mRen.group(3)),
              unquote(mRen.group(4))))
        val mDrop = AlterDropRe.matcher(sqlText)
        if (mDrop.matches())
          return graftTarget(mDrop.group(1), mDrop.group(2)).map(t =>
            GraftDropColumnCommand(t, unquote(mDrop.group(3))))
        val mTyp = AlterTypeRe.matcher(sqlText)
        if (mTyp.matches())
          return graftTarget(mTyp.group(1), mTyp.group(2)).map(t =>
            GraftAlterColumnTypeCommand(t, unquote(mTyp.group(3)),
              delegate.parseDataType(mTyp.group(4))))
        val mBr = AlterBranchRe.matcher(sqlText)
        if (mBr.matches())
          return graftTarget(mBr.group(1), mBr.group(2)).map(t =>
            GraftBranchCommand(t, mBr.group(3).toUpperCase(Locale.ROOT),
              mBr.group(4)))
        None // every other ALTER form is Spark's
      case "OPTIMIZE" =>
        val m = OptimizeRe.matcher(sqlText)
        if (!m.matches() &&
            looseTargetOf(sqlText).exists(foreignCatalogTable(session, _)))
          return None // another provider's wider OPTIMIZE grammar: theirs
        require(m.matches(),
          "graft OPTIMIZE: expected OPTIMIZE <table|'path'> [WHERE <pred>] " +
            "[TARGET <n> MB] [ZORDER BY (x, y[, ...]) | CLUSTER BY c] " +
            s"(clauses in exactly this order), got: $sqlText")
        val target = Option(m.group(1)).getOrElse(unquote(m.group(2)))
        if (foreignCatalogTable(session, target)) return None
        val zorder = Option(m.group(5)).toSeq
          .flatMap(_.split(',')).map(c => unquote(c.trim)).filter(_.nonEmpty)
        require(m.group(5) == null || zorder.size >= 2,
          s"graft OPTIMIZE ZORDER BY takes at least two columns, got: " +
            zorder.mkString(", "))
        Some(GraftOptimizeCommand(target,
          where = Option(m.group(3)).map(_.trim),
          targetMb = Option(m.group(4)).map(_.toLong),
          zorder = zorder,
          clusterBy = Option(m.group(6)).map(unquote)))
      case "VACUUM" =>
        val m = VacuumRe.matcher(sqlText)
        if (!m.matches() &&
            looseTargetOf(sqlText).exists(foreignCatalogTable(session, _)))
          return None // e.g. Delta's `VACUUM t DRY RUN`: theirs
        require(m.matches(),
          "graft VACUUM: expected VACUUM <table|'path'> [RETAIN <n> HOURS], " +
            s"got: $sqlText")
        val target = Option(m.group(1)).getOrElse(unquote(m.group(2)))
        if (foreignCatalogTable(session, target)) return None
        Some(GraftVacuumCommand(target,
          retainHours = Option(m.group(3)).map(_.toLong)))
      case "RESTORE" =>
        val m = RestoreRe.matcher(sqlText)
        if (!m.matches() &&
            looseTargetOf(sqlText).exists(foreignCatalogTable(session, _)))
          return None // another provider's RESTORE variant: theirs
        require(m.matches(),
          "graft RESTORE: expected RESTORE [TABLE] <table|'path'> [TO] " +
            "VERSION AS OF <n>|'tag' | TIMESTAMP AS OF '<ts>', got: " + sqlText)
        val target = Option(m.group(1)).getOrElse(unquote(m.group(2)))
        if (foreignCatalogTable(session, target)) return None
        Some(GraftRestoreCommand(target,
          version = Option(m.group(3)).map(_.toLong),
          tag = Option(m.group(4)),
          timestamp = Option(m.group(5))))
      case "ANALYZE" =>
        val m = AnalyzeRe.matcher(sqlText)
        if (!m.matches()) return None // wider ANALYZE grammar is Spark's
        val target = Option(m.group(1)).getOrElse(unquote(m.group(2)))
        val isGraft = target.contains("/") ||
          graftCatalogDir(session, target.split('.').toSeq).isDefined ||
          v2CatalogDir(session, target.split('.').toSeq).isDefined
        if (!isGraft) return None // non-graft targets keep Spark's ANALYZE
        Some(GraftAnalyzeCommand(target,
          columns = Option(m.group(4)).map(_.split(',').toSeq
            .map(c => unquote(c.trim)).filter(_.nonEmpty)),
          allColumns = m.group(5) != null))
      case _ => None
    }
  }

  /** (table dir, catalog identity to refresh) for a maintenance target:
    * a quoted path must BE a graft table (hold a snapshot log), an
    * identifier must name a graft-provider catalog table. */
  private[connector] def resolveTarget(spark: SparkSession, target: String)
      : (String, Option[TableIdentifier]) =
    if (target.contains("/")) {
      require(SnapshotLog.currentSnapshotId(spark, target).isDefined,
        s"not a graft table (no snapshot log): $target")
      (target, None)
    } else {
      val parts = target.split('.').toSeq
      graftCatalogDir(spark, parts).map { case (ident, dir) => (dir, Some(ident)) }
        .orElse(v2CatalogDir(spark, parts).map(dir => (dir, None)))
        .getOrElse(throw new IllegalArgumentException(
          s"$target is not a graft catalog table (OPTIMIZE/VACUUM apply " +
            "only to tables created USING graft, to a graft V2 catalog's " +
            "cat.table name, or to a quoted table path)"))
    }

  /** Register any VISIBLE column the registry doesn't know yet (columns
    * introduced by drift-bearing writes after bootstrap): their physical
    * name is their own (the writeData collision guard refused anything
    * ambiguous), so `add` records them verbatim and later renames/drops
    * can address them. */
  private[connector] def syncRegistry(reg: graft.table.FieldRegistry,
      visibleNames: Seq[String]): graft.table.FieldRegistry = {
    val unknown = visibleNames.filter(n => reg.physicalOf(n).isEmpty)
    if (unknown.isEmpty) reg else reg.add(unknown)._1
  }

  /** The one registry-mutation commit shape shared by RENAME and DROP:
    * resolve (or bootstrap) the registry at the pinned snapshot, sync in
    * drift columns, apply the change, commit it as a file-less `schema`
    * snapshot at exactly the successor id (a racing commit throws — the
    * registry must never fork), then refresh the catalog's schema. */
  private[connector] def commitRegistryChange(spark: SparkSession, dir: String,
      ident: Option[TableIdentifier], note: Map[String, String])(
      change: graft.table.FieldRegistry => graft.table.FieldRegistry): Long = {
    val baseId = SnapshotLog.currentSnapshotId(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"not a graft table: $dir"))
    val visible = GraftDataSource.visibleState(spark, dir, None)._3
    val reg = SnapshotLog.registryAt(spark, dir, Some(baseId))
      .getOrElse(graft.table.FieldRegistry.bootstrap(visible.fieldNames.toSeq))
    val updated = change(syncRegistry(reg, visible.fieldNames.toSeq))
    val id = SnapshotLog.commitAt(spark, dir, baseId + 1, "schema",
      Seq.empty, Seq.empty,
      note + (graft.table.FieldRegistry.SummaryKey -> updated.toJson))
    if (ident.isEmpty) // V2-name / path target: no entry to refresh
      spark.sessionState.catalog.invalidateAllCachedTables()
    ident.foreach { tid =>
      val after = GraftDataSource.visibleState(spark, dir, None)._3
      // the SessionCatalog face refuses any change that removes a column
      // NAME (renames and drops both do); the external catalog applies
      // the log-derived truth directly — reads would otherwise refuse on
      // a stored-vs-actual schema mismatch
      try spark.sharedState.externalCatalog.alterTableDataSchema(
        tid.database.getOrElse(spark.sessionState.catalog.getCurrentDatabase),
        tid.table, after)
      catch { case scala.util.control.NonFatal(_) => () }
      spark.sessionState.catalog.refreshTable(tid)
    }
    id
  }

  /** One zero-row parquet data file whose FOOTER declares `schema` — the
    * carrier ADD COLUMNS and ALTER COLUMN TYPE commit: the epoch-merging
    * read folds it into the visible schema (null-filling or LUB-widening
    * older epochs), so schema changes never rewrite a data byte. Written
    * directly because writeData's per-file stats aggregate records only
    * row-bearing files. */
  private[connector] def writeSchemaCarrier(spark: SparkSession, dir: String,
      schema: StructType): SnapshotLog.DataFile = {
    val uuid = java.util.UUID.randomUUID().toString
    val dst = s"$dir/data/$uuid"
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .repartition(1).write.parquet(dst)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dst + "/"), spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(dst)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .maxBy(_.getLen)
    SnapshotLog.DataFile(part.getPath.toUri.getPath, 0L, part.getLen)
  }

  /** The table dir behind a `cat.name` target when `cat` is a CONFIGURED
    * graft V2 catalog ([[GraftCatalog]]) holding that table — so every
    * maintenance statement (OPTIMIZE / VACUUM / RESTORE / ANALYZE /
    * ALTER / branch DDL) and TVF accepts V2 catalog names exactly like
    * V1 idents and quoted paths. Resolution reads the CONF alone
    * (`spark.sql.catalog.<cat>` must name GraftCatalog, the warehouse
    * key supplies the root): going through CatalogManager would
    * INSTANTIATE whatever plugin the name matches — Spark's
    * isCatalogRegistered is try{catalog(name)} — and parsing a
    * maintenance statement must never initialize a foreign catalog as a
    * side effect. No V1 TableIdentifier exists for these (the commands
    * invalidate the relation cache instead of refreshing one entry). */
  private[connector] def v2CatalogDir(session: SparkSession,
      parts: Seq[String]): Option[String] = parts match {
    case Seq(cat, name) =>
      session.conf.getOption(s"spark.sql.catalog.$cat")
        .filter(_ == classOf[GraftCatalog].getName)
        .flatMap(_ => session.conf.getOption(s"spark.sql.catalog.$cat.warehouse"))
        .filter(_ => name.matches("[A-Za-z0-9._-]{1,128}") && !name.contains(".."))
        .map(wh => s"$wh/$name")
        .filter(dir => SnapshotLog.currentSnapshotId(session, dir).isDefined)
    case _ => None
  }

  /** Post-commit catalog hygiene for the maintenance commands — the
    * twin of [[GraftDml.refreshAfter]]: a catalog-backed target
    * refreshes its own entry; an ident-less target (V2 catalog name,
    * quoted path) invalidates the session relation cache so a V1
    * catalog table over the same directory can't keep serving its
    * cached point-in-time file list. */
  private[connector] def refreshAfter(spark: SparkSession,
      ident: Option[TableIdentifier]): Unit = ident match {
    case Some(id) => spark.sessionState.catalog.refreshTable(id)
    case None => spark.sessionState.catalog.invalidateAllCachedTables()
  }

  /** (identifier, table dir) when the name resolves to a graft catalog
    * table — temp views and every other provider return None. Shared by
    * the time-travel rule and the maintenance commands. */
  private[connector] def graftCatalogDir(session: SparkSession,
      parts: Seq[String]): Option[(TableIdentifier, String)] = {
    val catalog = session.sessionState.catalog
    val ident = parts match {
      case Seq(t) => TableIdentifier(t)
      case Seq(db, t) => TableIdentifier(t, Some(db))
      case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
        TableIdentifier(t, Some(db))
      case _ => return None
    }
    if (catalog.isTempView(parts)) return None
    scala.util.Try(catalog.getTableMetadata(ident)).toOption.flatMap { meta =>
      if (!meta.provider.exists(_.equalsIgnoreCase("graft"))) None
      else meta.storage.properties.get("path")
        .orElse(meta.storage.locationUri.map(_.getPath))
        .map(ident -> _)
    }
  }
}

/** `OPTIMIZE` — [[graft.cdc.Compaction.compactDir]] under the SQL face:
  * bin-pack by default (O(debt)); `CLUSTER BY`/`ZORDER BY (a, b[, …])`
  * (N-dimensional Morton interleave — per-dim bit budget shrinks as
  * dimensions grow so the z-value stays in one long) force the
  * layout-restoring full rewrite; pending merge-on-read masks always
  * route through the materializing rewrite (read amplification returns
  * to zero, and SQL DML — which refuses masked tables — works again).
  * `WHERE <pred>` scopes the bin-pack candidate set through the same
  * manifest zone/bloom/partition pruning the reader uses — "compact the
  * hot partition" never lists the cold petabytes as candidates; scoped
  * CLUSTER/Z-order or masked rewrites refuse (one logical layout/mask
  * fold must not fracture across commits). */
final case class GraftOptimizeCommand(target: String, where: Option[String],
    targetMb: Option[Long], zorder: Seq[String], clusterBy: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("files_before", IntegerType, nullable = false)(),
    AttributeReference("files_after", IntegerType, nullable = false)(),
    AttributeReference("rows", LongType, nullable = false)(),
    AttributeReference("bytes", LongType, nullable = false)())

  private def split(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      split(l) ++ split(r)
    case x => Seq(x)
  }

  override def run(spark: SparkSession): Seq[Row] = {
    targetMb.foreach(mb => require(mb >= 1,
      s"graft OPTIMIZE: TARGET must be at least 1 MB, got $mb"))
    val (dir, ident) = GraftMaintenance.resolveTarget(spark, target)
    val scope = where.map { predText =>
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      val schema = GraftDataSource.visibleState(spark, dir, None)._3
      val raw = split(spark.sessionState.sqlParser.parseExpression(predText))
      val unknown = raw.flatMap(_.collect {
        case u: UnresolvedAttribute => u.name
      }).distinct.filterNot(n => schema.fieldNames.exists(_.equalsIgnoreCase(n)))
      require(unknown.isEmpty,
        s"graft OPTIMIZE WHERE references unknown column(s) " +
          s"${unknown.mkString(", ")} of $target (has: " +
          s"${schema.fieldNames.mkString(", ")})")
      // canonicalize attribute case to the schema's exact names:
      // manifest zone/bloom/partition keys are stored case-sensitively,
      // so `WHERE ID < 9` must constrain column `id`, not silently
      // match nothing and unscope the compaction
      val conjuncts = raw.map(_.transform {
        case u: UnresolvedAttribute =>
          UnresolvedAttribute.quoted(
            schema.fieldNames.find(_.equalsIgnoreCase(u.name)).getOrElse(u.name))
      })
      val cs = graft.table.Constraints.from(conjuncts)
      (f: graft.table.SnapshotLog.DataFile) => cs.keeps(f)
    }
    val r = graft.cdc.Compaction.compactDir(spark, dir,
      targetBytes = targetMb.map(_ * 1024 * 1024).getOrElse(128L * 1024 * 1024),
      clusterBy = clusterBy, clusterZOrder = zorder, label = target,
      scope = scope)
    GraftMaintenance.refreshAfter(spark, ident)
    Seq(Row(r.table, r.filesBefore, r.filesAfter, r.rows, r.bytes))
  }
}

/** `ALTER TABLE t ADD COLUMNS (c TYPE, …)` — schema evolution through
  * SQL, committed as a zero-row SCHEMA-CARRIER parquet file under a
  * metadata-only `schema` commit: the widened schema lives in a real
  * file footer (durable through retention, compaction and rewrites —
  * any full rewrite materializes it via the Evolution merge), old files
  * are never touched (reads null-fill the declared column, parquet's
  * own schema-evolution semantics), and the fast scan path survives
  * because the carrier adds columns without changing any bearing
  * epoch's types. Time travel BEFORE the commit shows the old schema.
  * Duplicate column names refuse; only widening-by-addition is offered
  * (type changes go through a drift-bearing write, the Evolution
  * lattice's job). */
final case class GraftAddColumnsCommand(target: String, cols: StructType)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    require(cols.nonEmpty, "graft ALTER TABLE ADD COLUMNS: empty column list")
    val (dir, ident) = GraftMaintenance.resolveTarget(spark, target)
    val baseId = SnapshotLog.currentSnapshotId(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"not a graft table: $dir"))
    val visible = GraftDataSource.visibleState(spark, dir, None)._3
    val dup = cols.fieldNames.filter(n =>
      visible.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(dup.isEmpty, s"graft table $dir: column(s) " +
      s"${dup.mkString(", ")} already exist")
    val widened = cols.fields.foldLeft(visible)((s, f) =>
      s.add(f.name, f.dataType, nullable = true))
    // on a registry table the new fields REGISTER (fresh ids; physical
    // names disambiguated against every name ever used, so re-adding a
    // dropped column's name can never resurrect old bytes) and the
    // carrier is written in PHYSICAL space like every data file
    val reg = SnapshotLog.registryAt(spark, dir, Some(baseId))
    val (reg2, physNames) = reg match {
      case Some(r0) =>
        val r1 = GraftMaintenance.syncRegistry(r0, visible.fieldNames.toSeq)
        val (r2, ps) = r1.add(cols.fieldNames.toSeq)
        (Some(r2), ps)
      case None => (None, cols.fieldNames.toSeq)
    }
    val carrierSchema = reg2 match {
      case Some(r) =>
        val physVisible = StructType(visible.fields.map(f =>
          f.copy(name = r.physicalOf(f.name).getOrElse(f.name))))
        cols.fields.zip(physNames).foldLeft(physVisible) {
          case (s, (f, p)) => s.add(p, f.dataType, nullable = true) }
      case None => widened
    }
    // the carrier: one empty parquet file whose FOOTER declares the
    // widened schema
    val carrier = GraftMaintenance.writeSchemaCarrier(spark, dir, carrierSchema)
    SnapshotLog.commitAt(spark, dir, baseId + 1, "schema", Seq(carrier),
      Seq.empty, Map("add_columns" -> cols.fieldNames.mkString(",")) ++
        reg2.map(r => graft.table.FieldRegistry.SummaryKey -> r.toJson))
    if (ident.isEmpty)
      spark.sessionState.catalog.invalidateAllCachedTables()
    ident.foreach { id =>
      // keep DESCRIBE in sync with the log-derived truth
      try spark.sessionState.catalog.alterTableDataSchema(id, widened)
      catch { case scala.util.control.NonFatal(_) => () }
      spark.sessionState.catalog.refreshTable(id)
    }
    Seq.empty
  }
}

/** `ALTER TABLE t RENAME COLUMN a TO b` — METADATA-ONLY: one `schema`
  * commit carrying the updated field registry; zero data files touched
  * (the Delta column-mapping / Iceberg field-id school). The field keeps
  * its id and its PHYSICAL name (what every existing file's footer and
  * manifest stats are recorded under); only the LOGICAL name changes.
  * Reads resolve per snapshot, so time travel before the commit shows
  * the old name; writes after it accept the new name and translate back
  * at the writeData chokepoint. The first rename BOOTSTRAPS the registry
  * as identity over the current visible schema. */
final case class GraftRenameColumnCommand(target: String, from: String,
    to: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    val (dir, ident) = GraftMaintenance.resolveTarget(spark, target)
    // a renamed bucket column orphans the durable bucketCol declaration:
    // the layout LAPSES (scan stops reporting, the next OPTIMIZE retires
    // the per-file keys) — loud, because the user likely wants to
    // redeclare under the new name
    if (graft.table.SnapshotLog.tableProps(spark, dir).exists {
        case (k, v) => k.equalsIgnoreCase("bucketCol") &&
          v.equalsIgnoreCase(from) })
      System.err.println(s"[graft] WARNING: '$from' is $target's declared " +
        s"bucket column — the storage-partitioned layout lapses with this " +
        s"rename; SET TBLPROPERTIES ('bucketCol'='$to') to redeclare it")
    GraftMaintenance.commitRegistryChange(spark, dir, ident,
      Map("rename_column" -> s"$from->$to"))(_.rename(from, to))
    Seq.empty
  }
}

/** `ALTER TABLE t DROP COLUMN c` — METADATA-ONLY tombstone: the field's
  * entry stays in the registry marked dropped, its physical columns stay
  * in old files (invisible to every read face) and its manifest zone/
  * bloom/partition entries stop participating in pruning — which is what
  * keeps a later `ADD COLUMNS (c …)` safe: the namesake is a NEW field
  * with fresh physical storage, and the old zones can never prune (or
  * resurrect) against it. Storage is reclaimed lazily by the next full
  * rewrite (OPTIMIZE), never eagerly. */
final case class GraftDropColumnCommand(target: String, column: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    val (dir, ident) = GraftMaintenance.resolveTarget(spark, target)
    GraftMaintenance.commitRegistryChange(spark, dir, ident,
      Map("drop_column" -> column))(_.drop(column))
    Seq.empty
  }
}

/** `ALTER TABLE t ALTER COLUMN c TYPE <dataType>` — WIDENING-ONLY,
  * METADATA-ONLY: one `schema` commit adding a zero-row carrier file
  * whose footer declares the widened type; the epoch-merging read
  * ([[graft.schema.Evolution]]'s LUB lattice — the machinery that
  * already serves write-time drift) then widens every older file's
  * narrow values at scan time, so no data byte is rewritten — the
  * Delta type-widening / Iceberg schema-evolution school. Narrowing or
  * off-lattice changes refuse loudly (they would corrupt, not widen);
  * time travel to a pre-widening snapshot shows the narrow type.
  * Manifest zone stats stay exact: the byte<short<int<long chain
  * shares the manifests' long domain, so pruning and the metadata-only
  * aggregates keep working across the widening epoch. */
final case class GraftAlterColumnTypeCommand(target: String, column: String,
    newType: DataType) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq.empty
  override def run(spark: SparkSession): Seq[Row] = {
    val (dir, ident) = GraftMaintenance.resolveTarget(spark, target)
    val baseId = SnapshotLog.currentSnapshotId(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"not a graft table: $dir"))
    val visible = GraftDataSource.visibleState(spark, dir, None)._3
    val f = visible.fields.find(_.name.equalsIgnoreCase(column)).getOrElse(
      throw new IllegalArgumentException(s"graft table $dir: no such column " +
        s"'$column' (has: ${visible.fieldNames.mkString(", ")})"))
    require(f.dataType != newType,
      s"graft table $dir: column '$column' already has type ${newType.sql}")
    require(graft.schema.Evolution.widen(f.dataType, newType).contains(newType),
      s"graft ALTER COLUMN TYPE is widening-only: ${f.dataType.sql} -> " +
        s"${newType.sql} is not a lossless widening (allowed: the " +
        "byte<short<int<long chain, float<double, decimal precision/scale " +
        "growth, integral->decimal)")
    val widened = StructType(visible.fields.map(x =>
      if (x.name.equalsIgnoreCase(column)) x.copy(dataType = newType,
        nullable = true)
      else x))
    // registry tables carry the widening in PHYSICAL space like any file
    val reg = SnapshotLog.registryAt(spark, dir, Some(baseId))
      .filterNot(_.isIdentity)
    val carrierSchema = reg match {
      case Some(r) => StructType(widened.fields.map(x =>
        x.copy(name = r.physicalOf(x.name).getOrElse(x.name))))
      case None => widened
    }
    val carrier = GraftMaintenance.writeSchemaCarrier(spark, dir, carrierSchema)
    SnapshotLog.commitAt(spark, dir, baseId + 1, "schema", Seq(carrier),
      Seq.empty, Map("widen_column" -> s"$column:${newType.sql}"))
    if (ident.isEmpty)
      spark.sessionState.catalog.invalidateAllCachedTables()
    ident.foreach { id =>
      try spark.sessionState.catalog.alterTableDataSchema(id, widened)
      catch { case scala.util.control.NonFatal(_) => () }
      spark.sessionState.catalog.refreshTable(id)
    }
    Seq.empty
  }
}

/** `ALTER TABLE t CREATE|PUBLISH|DROP BRANCH b` — the SQL face of
  * [[graft.table.Branch]] (Iceberg's CREATE/DROP BRANCH grammar;
  * PUBLISH is the fast-forward): CREATE forks at the current snapshot,
  * PUBLISH replays the staged chain onto main (OCC-classified against
  * every interleaved main commit), DROP abandons. Branch WRITES stay on
  * the Scala face (`Branch.commitTo`) — staging is a programmatic
  * pipeline concern; reads compose via the `graft_branch` /
  * `graft_branches` TVFs. */
final case class GraftBranchCommand(target: String, action: String,
    branch: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("branch", StringType, nullable = false)(),
    AttributeReference("snapshot", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (dir, ident) = GraftMaintenance.resolveTarget(spark, target)
    action match {
      case "CREATE" =>
        Seq(Row(branch, graft.table.Branch.create(spark, dir, branch)))
      case "DROP" =>
        graft.table.Branch.drop(spark, dir, branch)
        Seq(Row(branch, -1L))
      case "PUBLISH" =>
        val id = graft.table.Branch.publish(spark, dir, branch)
        GraftMaintenance.refreshAfter(spark, ident)
        Seq(Row(branch, id))
    }
  }
}

/** `RESTORE [TABLE] t [TO] VERSION AS OF n | 'tag' | TIMESTAMP AS OF ts`
  * — [[SnapshotLog.rollback]] under the SQL face (the Delta RESTORE
  * statement): ONE metadata commit re-pointing the live set at the
  * target snapshot's file list; no data moves, history stays intact
  * (the rolled-back snapshots remain time-travelable until expiry). */
final case class GraftRestoreCommand(target: String, version: Option[Long],
    tag: Option[String], timestamp: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_to", LongType, nullable = false)(),
    AttributeReference("new_snapshot", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (dir, ident) = GraftMaintenance.resolveTarget(spark, target)
    val toSnapshot = version.getOrElse {
      tag.map(SnapshotLog.snapshotForTag(spark, dir, _)).getOrElse(
        SnapshotLog.snapshotAsOfTimestamp(spark, dir,
          GraftDataSource.parseTimestampMs(timestamp.get)))
    }
    val newId = SnapshotLog.rollback(spark, dir, toSnapshot)
    if (ident.isEmpty) // V2-name / path target: no entry to refresh
      spark.sessionState.catalog.invalidateAllCachedTables()
    ident.foreach { tid =>
      // RESTORE restores the schema too (dropped schema carriers, reverted
      // registries): re-derive the catalog's stored schema from the
      // restored log state or every later read refuses on the mismatch
      val after = GraftDataSource.visibleState(spark, dir, None)._3
      try spark.sharedState.externalCatalog.alterTableDataSchema(
        tid.database.getOrElse(spark.sessionState.catalog.getCurrentDatabase),
        tid.table, after)
      catch { case scala.util.control.NonFatal(_) => () }
      spark.sessionState.catalog.refreshTable(tid)
    }
    Seq(Row(toSnapshot, newId))
  }
}

/** `VACUUM` — [[SnapshotLog.expireSnapshots]] under the SQL face. With
  * no RETAIN clause, history beyond the last 2 snapshots expires; with
  * `RETAIN n HOURS`, only snapshots BOTH beyond the current one AND
  * older than the cutoff expire (the Iceberg `expire_snapshots`
  * composition). Tagged snapshots are always exempt, and the orphan
  * sweep keeps its concurrency grace gate. */
final case class GraftVacuumCommand(target: String, retainHours: Option[Long])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("snapshots_expired", IntegerType, nullable = false)(),
    AttributeReference("data_files_deleted", IntegerType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (dir, ident) = GraftMaintenance.resolveTarget(spark, target)
    val (manifests, dataFiles) = SnapshotLog.expireSnapshots(spark, dir,
      retainLast = if (retainHours.isDefined) 1 else 2,
      olderThanMs = retainHours.map(h =>
        System.currentTimeMillis() - h * 3600L * 1000L))
    GraftMaintenance.refreshAfter(spark, ident)
    Seq(Row(manifests, dataFiles))
  }
}

/** `ANALYZE TABLE t COMPUTE STATISTICS [NOSCAN | FOR COLUMNS c, … | FOR
  * ALL COLUMNS]` on a graft table — CBO statistics from the MANIFEST,
  * not a file listing. Spark's own AnalyzeTableCommand sizes a table by
  * listing its location, which over a graft directory counts dead
  * (superseded) files, equality-delete masks and invisibly staged
  * writes; here `sizeInBytes` is the manifest-summed LIVE data bytes
  * and `row_count` the manifest row sum — metadata-only, no scan, at
  * any table size (COMPUTE STATISTICS and NOSCAN are therefore the same
  * operation). A table with pending masks counts through the masked
  * read instead (manifests alone can't know the logical count) — the
  * usual mask debt, repaid by consolidate/materialize.
  *
  * `FOR COLUMNS` adds per-column NDV (approx, the HLL sketch Spark's
  * own ANALYZE uses), null count, min/max (lossless-stringable types),
  * and avg/max byte lengths in ONE aggregation pass over the logical
  * read — stored as [[CatalogColumnStat]]s so `spark.sql.cbo.enabled`
  * join reordering and selectivity estimation see a graft table exactly
  * like an analyzed parquet one. Catalog-backed targets persist the
  * stats; a quoted-path target just returns the report row (no catalog
  * entry to store into). */
final case class GraftAnalyzeCommand(target: String,
                                     columns: Option[Seq[String]],
                                     allColumns: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("row_count", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("live_files", IntegerType, nullable = false)(),
    AttributeReference("analyzed_columns", IntegerType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val (dir, ident) = GraftMaintenance.resolveTarget(spark, target)
    val files = SnapshotLog.filesAt(spark, dir)
    val (masks, data) = files.partition(SnapshotLog.isMask)
    val sizeBytes = data.map(_.bytes).sum
    lazy val df = spark.read.format("graft").load(dir)
    val rowCount =
      if (masks.isEmpty) data.map(_.rows).sum
      else df.count()

    def losslessMinMax(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | BooleanType | _: DecimalType => true
      case _ => false
    }
    val wanted: Seq[StructField] =
      if (allColumns) df.schema.fields.toSeq
      else columns.getOrElse(Nil).map { c =>
        df.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"ANALYZE … FOR COLUMNS: $target has no column '$c' " +
              s"(has: ${df.schema.fieldNames.mkString(", ")})"))
      }
    val colStats: Map[String, CatalogColumnStat] =
      if (wanted.isEmpty) Map.empty
      else {
        val aggs = wanted.flatMap { f =>
          val c = col(f.name)
          Seq(approx_count_distinct(c).as(s"ndv_${f.name}"),
            count(when(c.isNull, lit(1))).as(s"null_${f.name}")) ++
            (if (losslessMinMax(f.dataType))
              Seq(min(c).cast(StringType).as(s"min_${f.name}"),
                max(c).cast(StringType).as(s"max_${f.name}"))
            else Seq.empty) ++
            (f.dataType match {
              case StringType | BinaryType =>
                val len = length(c).cast(LongType)
                Seq(ceil(avg(len)).cast(LongType).as(s"avg_${f.name}"),
                  max(len).as(s"max_len_${f.name}"))
              case _ => Seq.empty
            })
        }
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        def opt[T](name: String)(get: Int => T): Option[T] = {
          val i = r.fieldIndex(name)
          if (r.isNullAt(i)) None else Some(get(i))
        }
        wanted.map { f =>
          val fixedLen: Option[Long] = f.dataType match {
            case StringType | BinaryType => None
            case dt => Some(dt.defaultSize.toLong)
          }
          f.name -> CatalogColumnStat(
            distinctCount = opt(s"ndv_${f.name}")(i => BigInt(r.getLong(i))),
            min = if (losslessMinMax(f.dataType))
              opt(s"min_${f.name}")(r.getString) else None,
            max = if (losslessMinMax(f.dataType))
              opt(s"max_${f.name}")(r.getString) else None,
            nullCount = opt(s"null_${f.name}")(i => BigInt(r.getLong(i))),
            avgLen = fixedLen.orElse(opt(s"avg_${f.name}")(r.getLong)),
            maxLen = fixedLen.orElse(opt(s"max_len_${f.name}")(r.getLong)))
        }.toMap
      }
    ident.foreach { tid =>
      spark.sessionState.catalog.alterTableStats(tid, Some(
        CatalogStatistics(BigInt(sizeBytes), Some(BigInt(rowCount)), colStats)))
      spark.sessionState.catalog.refreshTable(tid)
    }
    Seq(Row(rowCount, sizeBytes, data.size, wanted.size))
  }
}
