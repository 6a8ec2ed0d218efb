package graft.connector

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualNullSafe, EqualTo, Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{coalesce, col, count, input_file_name, lit, monotonically_increasing_id, when}
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.types._

import graft.table.{Constraints, Merge, SnapshotLog}
import graft.table.SnapshotLog.DataFile

/** SQL row-level DML for graft tables — `DELETE FROM`, `UPDATE`,
  * `MERGE INTO` — the analyzer-rule school published by Delta Lake
  * (DeltaAnalysis → Delete/Update/MergeIntoCommand): Spark's parser and
  * analyzer fully RESOLVE these statements against a V1 relation (target
  * relation, conditions, assignments, star-expansion — verified against
  * this build), and only the planner refuses them as "v2 only"; this
  * rule intercepts the resolved plans first and lowers them onto the
  * snapshot log's copy-on-write commit protocol.
  *
  * All three execute against the CURRENT snapshot with the same pinned
  * base-id discipline as [[Merge.applyChanges]], committed through
  * [[SnapshotLog.commitPinned]]: a lost id race REBASES when every
  * interleaved commit is provably outside the statement's read footprint
  * (decided from manifest metadata — the Delta ConflictChecker school),
  * and throws with the conflicting commit named otherwise — never a
  * silent merge. All three are O(touched files + source), never
  * O(table):
  *
  *  - DELETE/UPDATE prune candidate files driver-side against manifest
  *    zones/blooms/partition values ([[graft.table.Constraints]] — the
  *    same core every read face prunes through), then one filtered pass
  *    per candidate set finds the files that ACTUALLY hold matching
  *    rows; only those rewrite, everything else carries by reference.
  *    `DELETE FROM t` with no predicate is metadata-only (no reads, no
  *    writes — one commit removing every live file, every prior
  *    snapshot intact).
  *  - MERGE prunes by the ON clause's target-key equality through
  *    [[Merge.pruneTouched]] (driver array ≤100 k keys, distributed
  *    broadcast join beyond), then resolves clause semantics row-wise
  *    over ONE full-outer join of the touched subset against the source.
  *
  * Row lineage: when the table's history carries lineage-stamped commits
  * ([[Merge.LineageCol]]), rewrites route through the lineage-preserving
  * read — carried rows keep their stamps, updated/inserted rows stamp
  * the new snapshot id — so [[SnapshotLog.changes]] stays derivable
  * across SQL DML exactly as across `applyChanges(lineage = true)`.
  * A table with no lineage history can DECLARE one — `CREATE TABLE …
  * OPTIONS (lineageKey 'id')` — and its first DML bootstraps the
  * stamps (carried rows inherit their file seq), so a pure-SQL table
  * is feed-derivable from snapshot 1. Without either, the commits are
  * honest opaque upserts (the change feed refuses the range rather
  * than guessing).
  *
  * Deliberate refusals (loud, with the road forward in the message):
  * subqueries and non-deterministic predicates (each predicate is
  * evaluated twice — touch detection, then rewrite), nested-field
  * assignments, `WITH SCHEMA EVOLUTION`, DML over time-travel
  * relations, and tables with pending merge-on-read masks (a COW
  * rewrite would detach them — run maintenance first, the
  * [[Merge.applyChanges]] contract).
  */
final class GraftDmlRule extends Rule[LogicalPlan] {
  import GraftDml._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case d @ DeleteFromTable(target, cond) if d.resolved =>
      dmlTarget(target).fold[LogicalPlan](d)(t => GraftDeleteCommand(t, cond))
    case u @ UpdateTable(target, assignments, cond) if u.resolved =>
      dmlTarget(target).fold[LogicalPlan](u)(t =>
        GraftUpdateCommand(t, assignments, cond))
    case m: MergeIntoTable if m.resolved =>
      dmlTarget(m.targetTable) match {
        case None => m
        case Some(t) =>
          require(!m.withSchemaEvolution, s"graft table ${t.dir}: MERGE " +
            "WITH SCHEMA EVOLUTION is not supported through SQL — evolve " +
            "the schema with a drift-bearing merge (Merge.applyChanges) first")
          GraftMergeCommand(t, m.sourceTable, m.mergeCondition,
            m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions)
      }
  }
}

final case class GraftDeleteCommand(t: GraftDml.DmlTarget, cond: Expression)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftDml.delete(spark, t, cond)
    GraftDml.refreshAfter(spark, t)
    Seq.empty
  }
}

final case class GraftUpdateCommand(t: GraftDml.DmlTarget,
    assignments: Seq[Assignment], cond: Option[Expression])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftDml.update(spark, t, assignments, cond)
    GraftDml.refreshAfter(spark, t)
    Seq.empty
  }
}

final case class GraftMergeCommand(t: GraftDml.DmlTarget, source: LogicalPlan,
    onCond: Expression, matched: Seq[MergeAction], notMatched: Seq[MergeAction],
    notMatchedBySource: Seq[MergeAction]) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    GraftDml.merge(spark, t, source, onCond, matched, notMatched,
      notMatchedBySource)
    GraftDml.refreshAfter(spark, t)
    Seq.empty
  }
}

object GraftDml {

  /** A resolved graft DML target: table dir, the relation's output
    * attributes (the coordinate system every resolved condition/
    * assignment references), whether the relation was time-travel
    * pinned, the catalog identity to refresh after the commit, and the
    * table's DECLARED lineage key (the `lineageKey` CREATE TABLE option)
    * when one was given. */
  final case class DmlTarget(dir: String, output: Seq[Attribute],
                             timeTravel: Boolean,
                             catalogIdent: Option[TableIdentifier],
                             declaredKey: Option[String] = None,
                             posDeletes: Boolean = false)

  /** Post-commit catalog hygiene: a catalog-backed target refreshes its
    * own entry; a target WITHOUT a known ident (the V2 TableCatalog
    * face, or a path-addressed relation) invalidates the session
    * catalog's whole relation cache instead — a V1 catalog table over
    * the same directory would otherwise keep serving its cached
    * (point-in-time) file list and read STALE data after the commit.
    * The cache repopulates lazily; re-resolution is manifest-metadata
    * cheap next to any commit. */
  private[connector] def refreshAfter(spark: SparkSession, t: DmlTarget): Unit =
    t.catalogIdent match {
      case Some(ident) => spark.sessionState.catalog.refreshTable(ident)
      case None => spark.sessionState.catalog.invalidateAllCachedTables()
    }

  private[connector] def dmlTarget(plan: LogicalPlan): Option[DmlTarget] =
    plan match {
      case SubqueryAlias(_, child) => dmlTarget(child)
      // the DataSourceV2 catalog face (r12): UPDATE / MERGE / arbitrary-
      // predicate DELETE against `cat.t` lower onto the SAME commands as
      // the V1 face — the V2 table contributes only (dir, output attrs);
      // filter-convertible DELETEs on sessions WITHOUT the graft
      // extensions still work through SupportsDelete (the engine
      // contract), this rule just claims them first when injected
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table match {
          case g: GraftV2Table =>
            Some(DmlTarget(g.tableDir, r.output, g.pinnedAsOf.isDefined, None))
          case _ => None
        }
      case lr: LogicalRelation =>
        val ident = lr.catalogTable.map(_.identifier)
        // the declared lineage key reads from CREATE TABLE OPTIONS
        // (storage.properties) or TBLPROPERTIES (properties) — the
        // latter lets an EXISTING table enable lineage through vanilla
        // `ALTER TABLE t SET TBLPROPERTIES ('lineageKey' = 'id')`
        val declared = lr.catalogTable.flatMap(m =>
          (m.storage.properties ++ m.properties)
            .collectFirst { case (k, v) if k.equalsIgnoreCase("lineageKey") => v })
        // `posDeletes true` (OPTIONS or TBLPROPERTIES) opts the table's
        // SQL DELETE into positional deletion vectors — zero rewrites
        val posDv = lr.catalogTable.exists(m =>
          (m.storage.properties ++ m.properties).exists { case (k, v) =>
            k.equalsIgnoreCase("posDeletes") && v.equalsIgnoreCase("true") })
        lr.relation match {
          case h: HadoopFsRelation => h.location match {
            case g: GraftFileIndex =>
              Some(DmlTarget(g.tableDir, lr.output, g.pinnedAsOf.isDefined,
                ident, declared, posDv))
            case _ => None
          }
          case c: GraftComputedRelation =>
            Some(DmlTarget(c.tableDir, lr.output, !c.insertable, ident,
              declared, posDv))
          case _ => None
        }
      case _ => None
    }

  // markers this module reserves inside its own joins; never written
  private val TMark = "_g_dml_t"
  private val SMark = "_g_dml_s"
  private val TId = "_g_dml_tid"
  private val Tag = "_g_dml_act"

  private def column(e: Expression): Column = GraftSqlShim.column(e)

  /** Rebind a resolved expression's target references onto `df`'s own
    * attributes (by name) — the bridge from the analyzed statement's
    * coordinate system to the rewrite's fresh scan. References outside
    * `from` (the MERGE source side) pass through untouched. */
  private def rebind(e: Expression, from: Seq[Attribute], df: DataFrame): Column = {
    val m = from.map(a =>
      a.exprId -> GraftSqlShim.expression(df.col(a.name))).toMap
    column(e.transform {
      case a: AttributeReference if m.contains(a.exprId) => m(a.exprId)
    })
  }

  private def checkExpr(e: Expression, what: String): Unit = {
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      s"graft $what does not support subqueries — rewrite the predicate " +
        "as a MERGE source join, or use the Scala Merge API")
    require(e.deterministic,
      s"graft $what predicates and values must be deterministic (each is " +
        "evaluated once to find touched files and once to rewrite them)")
  }

  private def schemaOf(t: DmlTarget): StructType =
    StructType(t.output.map(a => StructField(a.name, a.dataType, a.nullable)))

  /** Pin the snapshot this DML derives from; refuse time travel, empty
    * tables pass back None, pending masks refuse (the COW-vs-mask
    * hazard [[Merge.applyChanges]] documents). */
  private def pinned(spark: SparkSession, t: DmlTarget,
                     what: String): Option[(Long, Seq[DataFile],
                       Option[graft.table.FieldRegistry])] = {
    require(!t.timeTravel, s"graft table ${t.dir}: cannot run $what " +
      "against a time-travel (versionAsOf/timestampAsOf/tagAsOf) relation " +
      "— DML always applies to the current snapshot")
    SnapshotLog.currentSnapshotId(spark, t.dir).map { baseId =>
      val (files, reg0) = SnapshotLog.stateAt(spark, t.dir, Some(baseId))
      // DML speaks LOGICAL names end to end: file metadata translates
      // here for candidate pruning, raw file reads project via toLogical
      // in readFiles/touchDetect, and writeData translates the rewritten
      // frame back to physical — renames stay metadata-only under DML
      val reg = reg0.filterNot(_.isIdentity)
      val (masks, live) = reg.map(r => files.map(r.translateMeta))
        .getOrElse(files).partition(SnapshotLog.isMask)
      require(masks.isEmpty, s"graft table ${t.dir} has ${masks.size} " +
        s"pending delete mask file(s); consolidate/materializeDeletes " +
        s"before SQL $what (a copy-on-write rewrite would detach the masks)")
      (baseId, live, reg)
    }
  }

  /** Case-insensitive durable-property lookup — the V1 catalog path
    * matches property KEYS with equalsIgnoreCase, so the durable-log
    * path must too or the two faces would make different decisions for
    * one declaration. */
  private[connector] def propCI(props: Map[String, String],
                                key: String): Option[String] =
    props.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }

  /** History-carried lineage key, the table's DECLARED one (`CREATE
    * TABLE … OPTIONS (lineageKey 'id')`), the declaration PERSISTED in
    * the log at creation ([[SnapshotLog.LineageDeclaredKey]]), or a
    * durable `lineageKey` table property — the declaration lets a
    * pure-SQL table BOOTSTRAP row lineage on its first DML (carried rows
    * stamp from their file seq via the lineage-preserving read), so its
    * change feed is derivable from snapshot 1 without ever touching the
    * Scala API. The log-persisted forms exist because the
    * catalog-carried declaration is invisible to faces that bypass the
    * session catalog (the V2 TableCatalog): without them, a V2 UPDATE on
    * a declared-but-not-yet-bootstrapped table would silently commit a
    * lineage-less rewrite and downgrade the feed. All log scans ride ONE
    * redefinition-bounded [[SnapshotLog.durableMeta]] pass — REPLACE
    * TABLE kills older declarations, so a replaced table's DML never
    * trips over a column the old schema had. A declared key that names
    * no column throws — a typo must not silently disable lineage. */
  private def effectiveLineage(spark: SparkSession, t: DmlTarget): Option[String] = {
    val (history, logDeclared, props) = SnapshotLog.durableMeta(spark, t.dir)
    def asColumn(k: String): Option[String] =
      t.output.find(_.name.equalsIgnoreCase(k)).map(_.name)
    history.orElse(
      // a LIVE catalog-carried declaration that names no column throws —
      // it is current config, and a typo must not silently disable
      // lineage. A LOG-carried declaration whose column no longer exists
      // (schema-changing overwrite, DROP COLUMN of the key) is DEAD and
      // lapses instead: the commits it produced are honest opaque
      // upserts, and the feed reports the range loudly when consumed —
      // throwing here would make the stale history brick every DML
      // forever (nothing but REPLACE TABLE can clear the old summary).
      t.declaredKey.orElse(propCI(props, "lineageKey")) match {
        // LIVE, correctable config (catalog OPTIONS / TBLPROPERTIES —
        // removable via UNSET): a typo throws, never silently disables
        case Some(k) => Some(asColumn(k).getOrElse(
          throw new IllegalArgumentException(
            s"graft table ${t.dir}: declared lineageKey '$k' is not a " +
              s"column (has: ${t.output.map(_.name).mkString(", ")})")))
        // the immutable log-carried creation declaration: lapses when
        // its column no longer exists (nothing but REPLACE could clear
        // it — throwing would brick every DML forever)
        case None => logDeclared.flatMap(asColumn)
      })
  }

  /** Align a scanned-files frame with the RELATION's schema: null-fill
    * any column the files don't carry yet (files older than an `ALTER
    * TABLE ADD COLUMNS`), and upcast any column the files carry NARROWER
    * than declared (files older than an `ALTER COLUMN … TYPE` widening —
    * a DML rewrite touching only pre-widening files would otherwise
    * rewrite, and overflow-cast assigned values, in the dead narrow
    * type). Exactly the LUB the epoch-merging read applies at scan time;
    * column order is untouched. */
  private def aligned(df: DataFrame, t: DmlTarget): DataFrame = {
    val resolver = org.apache.spark.sql.catalyst.analysis.caseInsensitiveResolution
    val have = df.schema.fields
    schemaOf(t).fields.foldLeft(df) { (d, f) =>
      have.find(x => resolver(x.name, f.name)) match {
        case None => d.withColumn(f.name, lit(null).cast(f.dataType))
        case Some(x) if x.dataType != f.dataType =>
          d.withColumn(x.name, d.col(x.name).cast(f.dataType))
        case _ => d
      }
    }
  }

  private def readFiles(spark: SparkSession, t: DmlTarget,
                        files: Seq[DataFile], lineage: Boolean,
                        reg: Option[graft.table.FieldRegistry]): DataFrame = {
    def logical(df: DataFrame): DataFrame =
      reg.map(_.toLogical(df)).getOrElse(df)
    if (files.isEmpty)
      // the empty frame must still carry the lineage column when the
      // table is lineage-stamped: a MERGE inserting into zero touched
      // files otherwise writes unstamped rows under a lineage=true
      // summary, and the change feed would throw at read time
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        if (lineage) schemaOf(t).add(Merge.LineageCol, LongType) else schemaOf(t))
    else if (lineage)
      aligned(logical(Merge.readTouchedLineage(spark, files)), t)
    else aligned(logical(SnapshotLog.readEpochSafe(spark, files)), t)
  }

  private def split(e: Expression): Seq[Expression] = e match {
    case And(l, r) => split(l) ++ split(r)
    case x => Seq(foldLiteralCasts(x))
  }

  /** Fold analyzer-inserted casts AROUND literals (`id >= 1000` on a
    * BIGINT column resolves as `id >= cast(1000 as bigint)`): the
    * [[Constraints]] core and [[Covers]] speak `Literal` directly, and
    * without the fold every int-literal predicate over a long column
    * silently loses zone pruning AND the metadata-drop proof — exactly
    * the retention-DELETE shape. Only foldable literal casts evaluate;
    * everything else passes through untouched. */
  private def foldLiteralCasts(e: Expression): Expression = e.transform {
    case c: org.apache.spark.sql.catalyst.expressions.Cast
        if c.child.isInstanceOf[Literal] && c.foldable =>
      Literal.create(c.eval(null), c.dataType)
  }

  /** MUST-match (coverage) analysis — the dual of [[Constraints]]' MAY-
    * match pruning: `from` returns the accepted CLOSED interval per
    * column when EVERY conjunct of the predicate is a recognized
    * zone-domain comparison against a literal (anything else — an OR, a
    * function, a string comparison, an IN with gaps — returns None: a
    * file can then never be PROVEN all-matching, only tested row-wise).
    * `covered(f)` then holds when each constrained column's zone lies
    * entirely inside its interval AND the manifest proves the file has
    * ZERO nulls in it (zones describe only non-null values, and SQL
    * comparisons never match null — a covered-looking file with nulls
    * must keep those rows). Old manifests without null counts are never
    * covered — conservative, like every pruning decision here. */
  private[connector] object Covers {
    def from(conjuncts: Seq[Expression]): Option[Map[String, (Long, Long)]] =
      // `<=>` stays outside the coverage proof; every other conjunct
      // must be a comparison the core maps to a zone interval
      if (conjuncts.nonEmpty && conjuncts.forall(c =>
          !c.isInstanceOf[EqualNullSafe] && Constraints.interval(c).isDefined))
        Some(Constraints.from(conjuncts).ranges)
      else None

    def covered(f: DataFile, intervals: Map[String, (Long, Long)]): Boolean =
      intervals.forall { case (c, (lo, hi)) =>
        f.stats.get(c).exists { case (mn, mx) => mn >= lo && mx <= hi } &&
          f.nulls.get(c).contains(0L)
      }
  }

  /** One filtered pass over the candidates, aggregated per file
    * (metadata-sized result): the files that ACTUALLY hold matching
    * rows, plus the matched-row count for the commit summary. */
  private def touchDetect(spark: SparkSession, t: DmlTarget,
                          candidates: Seq[DataFile], cond: Expression,
                          reg: Option[graft.table.FieldRegistry])
      : (Seq[DataFile], Long) = {
    if (candidates.isEmpty) return (Nil, 0L)
    val raw = SnapshotLog.readEpochSafe(spark, candidates)
    val base = aligned(reg.map(_.toLogical(raw)).getOrElse(raw), t)
    val perFile = base.filter(rebind(cond, t.output, base))
      .groupBy(input_file_name().as("f")).agg(count(lit(1)).as("n"))
      .collect()
    val paths = perFile.map(r => new java.net.URI(r.getString(0)).getPath).toSet
    (candidates.filter(f => paths(f.path)), perFile.map(_.getLong(1)).sum)
  }

  /** Rewritten files inherit the table's recorded pruning metadata
    * (zones/bloom/partition values), so DML never decays the layout's
    * indexability — the [[GraftDataSource.inheritedMeta]] contract the
    * SQL INSERT path already follows. Metadata keys derive from the
    * PINNED live set and the frame translates through the PINNED
    * registry (rawPhysical): the whole rewrite — read, prune, write,
    * commit — shares one registry epoch, so an interleaved RENAME/DROP
    * can never split the coordinate system (the guard's
    * registrySensitive aborts the rebase in that case anyway; this
    * keeps the written bytes consistent even before the race is
    * decided). */
  private def writeInherited(spark: SparkSession, dir: String,
                             df: DataFrame, live: Seq[DataFile],
                             reg: Option[graft.table.FieldRegistry])
      : Seq[DataFile] = {
    val present = df.columns.map(c => c.toLowerCase(java.util.Locale.ROOT)).toSet
    def keep(k: String) = present(k.toLowerCase(java.util.Locale.ROOT))
    val data = live.filter(_.kind == "data")
    val stats = data.flatMap(_.stats.keys).distinct.filter(keep)
    val bloom = data.flatMap(_.blooms.keys).distinct.filter(keep).headOption
    val parts0 = data.flatMap(_.parts.keys).distinct
      .filterNot(SnapshotLog.BucketKeyPattern.matches).filter(keep)
    def phys(c: String) = reg.flatMap(_.physicalOf(c)).getOrElse(c)
    // the DECLARED bucket layout (durable props, resolved against the
    // frame's logical columns) both re-ARRANGES the rewrite — touched
    // rows of several files would otherwise land in one mixed-id output
    // and flip the storage-partitioned-join proof off — and re-records
    // its canonical key; stale (undeclared) keys retire with the rewrite
    val bucketSpec: Option[(String, Int)] = {
      val props = SnapshotLog.tableProps(spark, dir)
      def prop(k: String) = props.collectFirst {
        case (kk, v) if kk.equalsIgnoreCase(k) => v }
      for {
        c0 <- prop("bucketCol")
        n <- prop("bucketCount").flatMap(_.toIntOption)
        c <- df.columns.find(_.equalsIgnoreCase(c0))
      } yield (c, n)
    }
    val parts = parts0 ++ bucketSpec.map { case (c, n) =>
      SnapshotLog.bucketPartKey(n, c) }
    val arranged = bucketSpec
      .map { case (c, n) => SnapshotLog.bucketArrange(df, c, n) }
      .getOrElse(df)
    SnapshotLog.writeData(reg.map(_.toPhysical(arranged)).getOrElse(arranged), dir,
      statsCols = stats.map(phys), bloomCol = bloom.map(phys),
      partitionCols = parts.map {
        case SnapshotLog.BucketKeyPattern(n, inner) =>
          SnapshotLog.bucketPartKey(n.toInt, phys(inner))
        case c => phys(c)
      }, rawPhysical = true,
      // bucketArrange leaves each partition (= file) key-ascending
      sortedBy = bucketSpec.map { case (c, _) => phys(c) })
  }

  private def lineageSummary(lin: Option[String],
      reg: Option[graft.table.FieldRegistry]): Map[String, String] =
    // the summary key is what cowChanges joins the RAW (physical-space)
    // rewritten files on — record the physical name; the feed's final
    // registry projection hands consumers the logical one
    lin.map { k =>
      val phys = reg.flatMap(_.physicalOf(k)).getOrElse(k)
      Map("lineage" -> "true", "key" -> phys)
    }.getOrElse(Map.empty)

  // ---------------------------------------------------------------- DELETE

  def delete(spark: SparkSession, t: DmlTarget, cond: Expression): Unit = {
    checkExpr(cond, "DELETE")
    // opt-in DELETION VECTORS (`posDeletes true`): a predicate DELETE
    // commits (file, row-ordinal) pairs instead of rewriting files —
    // and because positions compose with EXISTING masks of both kinds
    // (re-masking a hidden row is a no-op), this path works on masked
    // tables the COW path refuses, so repeated deletes never force a
    // materialization between them. Unconditional DELETE stays on the
    // cheaper metadata truncation below.
    // the posDeletes opt-in binds to the TABLE: the catalog-carried
    // property (V1 OPTIONS/TBLPROPERTIES) or the log-persisted durable
    // property (V2 CTAS TBLPROPERTIES / ALTER … SET TBLPROPERTIES) —
    // both faces must make the same storage-strategy decision, with the
    // same case-insensitive key matching the V1 catalog path uses
    lazy val posDv = t.posDeletes ||
      propCI(SnapshotLog.durableMeta(spark, t.dir)._3, "posDeletes")
        .exists(_.equalsIgnoreCase("true"))
    cond match {
      case Literal(true, BooleanType) => ()
      case _ if posDv =>
        require(!t.timeTravel, s"graft table ${t.dir}: cannot DELETE " +
          "against a time-travel relation")
        graft.table.Merge.deleteWhereFn(spark, t.dir,
          df => coalesce(rebind(cond, t.output, df), lit(false)),
          summary = Map("sql" -> "delete-posdv"))
        return
      case _ => ()
    }
    val (baseId, live, reg) = pinned(spark, t, "DELETE").getOrElse(return)
    if (live.isEmpty) return
    val lin = effectiveLineage(spark, t)
    removeSliceCommit(spark, t, cond, baseId, live, reg, lin,
      added = Seq.empty, mode = "delete-sql", extra = Map.empty,
      idStamped = false)
  }

  /** The shared SLICE-REMOVAL commit — the core of predicate DELETE and
    * of replaceWhere (which rides it with `added` = the replacement
    * files and `idStamped` when those rows carry lineage stamps):
    *
    *  - unconditional (`cond` = TRUE): metadata-only truncation — every
    *    live file out, `added` in, bytes untouched, history intact. The
    *    read footprint is the whole table, so ANY interleaved add
    *    conflicts — never a silent rebase that leaves "removed" rows
    *    live.
    *  - predicate: zone/bloom/partition candidate pruning, FILE-LEVEL
    *    metadata drops for provably-covered candidates (the Delta/
    *    Iceberg school: zone ⊆ predicate interval ∧ zero recorded
    *    nulls), touch detection, and a survivors rewrite of only the
    *    boundary files (rows where cond is NULL are KEPT — SQL removes
    *    only where TRUE). A lost race rebases when every interleaved
    *    commit is provably outside the footprint (dmlGuard), and
    *    idStamped commits always abort instead of re-numbering their
    *    embedded lineage stamps. */
  private def removeSliceCommit(spark: SparkSession, t: DmlTarget,
      cond: Expression, baseId: Long, live: Seq[DataFile],
      reg: Option[graft.table.FieldRegistry], lin: Option[String],
      added: Seq[DataFile], mode: String, extra: Map[String, String],
      idStamped: Boolean): Unit = cond match {
    case Literal(true, BooleanType) =>
      SnapshotLog.commitPinned(spark, t.dir, baseId, "upsert", added,
        live.map(_.path), Map("mode" -> mode,
          "rows_deleted" -> live.map(_.rows).sum.toString,
          "files_touched" -> live.size.toString) ++ extra ++
          lineageSummary(lin, reg),
        guard = SnapshotLog.ConflictGuard(mayReadAdded = Some(fs => fs),
          idStamped = idStamped))
      ()
    case _ =>
      val cs = Constraints.from(split(cond))
      val candidates = live.filter(cs.keeps)
      val coverIv = Covers.from(split(cond))
      val (dropped, boundary) = coverIv match {
        case Some(iv) => candidates.partition(Covers.covered(_, iv))
        case None => (Seq.empty[DataFile], candidates)
      }
      val (touched, nMatched) = touchDetect(spark, t, boundary, cond, reg)
      if (dropped.isEmpty && touched.isEmpty && added.isEmpty)
        return // nothing matched, nothing to add
      val written =
        if (touched.isEmpty) Seq.empty
        else {
          val tDf = readFiles(spark, t, touched, lin.isDefined, reg)
          writeInherited(spark, t.dir, tDf.filter(
            !coalesce(rebind(cond, t.output, tDf), lit(false))), live, reg)
        }
      SnapshotLog.commitPinned(spark, t.dir, baseId, "upsert",
        written ++ added, (dropped ++ touched).map(_.path),
        Map("mode" -> mode,
          "rows_deleted" -> (dropped.map(_.rows).sum + nMatched).toString,
          "files_touched" -> touched.size.toString,
          "files_dropped_metadata" -> dropped.size.toString,
          "files_untouched" ->
            (live.size - touched.size - dropped.size).toString) ++ extra ++
          lineageSummary(lin, reg),
        guard = dmlGuard(cs, candidates, dropped ++ touched, reg,
          idStamped = idStamped))
      ()
  }

  /** The current-snapshot DML target of a table DIRECTORY — how the V2
    * faces (SupportsDelete, filtered overwrite) borrow the V1 relation's
    * resolved output as the predicate coordinate system. */
  private[connector] def v1Target(spark: SparkSession, dir: String): DmlTarget =
    dmlTarget(spark.read.format("graft").load(dir).queryExecution.analyzed)
      .getOrElse(throw new IllegalStateException(
        s"graft table $dir: could not resolve the DML target relation"))

  /** sources.Filter → a Catalyst predicate over `out` — shared by the V2
    * SupportsDelete face and the V2 filtered-overwrite (replaceWhere)
    * face, so both lower onto the same row-level machinery as SQL DML,
    * and by the V2 scan's file pruning ([[GraftV2BatchScan.constraints]]). */
  private[connector] def sourceFilterExpr(f: org.apache.spark.sql.sources.Filter,
      out: Seq[Attribute]): Option[Expression] = {
    import org.apache.spark.sql.{sources => sf}
    import org.apache.spark.sql.catalyst.{expressions => ce}
    def attr(name: String): Option[Attribute] =
      out.find(_.name.equalsIgnoreCase(name))
    def lit(v: Any): ce.Literal = ce.Literal(v)
    f match {
      case sf.AlwaysTrue() => Some(ce.Literal.TrueLiteral)
      case sf.AlwaysFalse() => Some(ce.Literal.FalseLiteral)
      case sf.EqualTo(c, v) => attr(c).map(a => ce.EqualTo(a, lit(v)))
      case sf.EqualNullSafe(c, v) =>
        attr(c).map(a => ce.EqualNullSafe(a, lit(v)))
      case sf.GreaterThan(c, v) => attr(c).map(a => ce.GreaterThan(a, lit(v)))
      case sf.GreaterThanOrEqual(c, v) =>
        attr(c).map(a => ce.GreaterThanOrEqual(a, lit(v)))
      case sf.LessThan(c, v) => attr(c).map(a => ce.LessThan(a, lit(v)))
      case sf.LessThanOrEqual(c, v) =>
        attr(c).map(a => ce.LessThanOrEqual(a, lit(v)))
      case sf.In(c, vs) => attr(c).map(a => ce.In(a, vs.toSeq.map(lit)))
      case sf.IsNull(c) => attr(c).map(ce.IsNull)
      case sf.IsNotNull(c) => attr(c).map(ce.IsNotNull)
      case sf.StringStartsWith(c, p) =>
        attr(c).map(a => ce.StartsWith(a, lit(p)))
      case sf.StringEndsWith(c, p) => attr(c).map(a => ce.EndsWith(a, lit(p)))
      case sf.StringContains(c, p) => attr(c).map(a => ce.Contains(a, lit(p)))
      case sf.And(l, r) =>
        for (le <- sourceFilterExpr(l, out); re <- sourceFilterExpr(r, out))
          yield ce.And(le, re)
      case sf.Or(l, r) =>
        for (le <- sourceFilterExpr(l, out); re <- sourceFilterExpr(r, out))
          yield ce.Or(le, re)
      case sf.Not(c) => sourceFilterExpr(c, out).map(ce.Not)
      case _ => None
    }
  }

  /** Delta-style `replaceWhere`: ONE atomic commit that deletes every
    * row matching the predicate and adds the incoming data — the
    * idempotent partition-reload pattern
    * (`df.write.format("graft").mode("overwrite")
    *    .option("replaceWhere", "ds = '2026-01-01'").save(dir)`).
    * Every incoming row must satisfy the predicate (loud refusal
    * otherwise — a silent mismatch would scatter rows outside the slice
    * being replaced). The delete side reuses the SQL DELETE machinery:
    * zone/bloom/partition candidate pruning, metadata-provable file
    * drops, boundary-file rewrites keeping non-matching rows — O(touched
    * + incoming), never O(table). On lineage-stamped tables the incoming
    * rows stamp the commit id (idStamped guard: a lost race aborts
    * instead of rebasing stamps onto a different id), so the change feed
    * derives the swap as deletes + inserts. Tables with pending masks
    * refuse (the [[pinned]] contract); `replaceWhere 'true'` degrades to
    * the full atomic overwrite. */
  def replaceWhere(spark: SparkSession, dir: String, data0: DataFrame,
                   predText: String,
                   arrange: DataFrame => DataFrame = identity,
                   explicitMeta: Option[(Seq[String], Option[String],
                     Seq[String])] = None,
                   extraSummary: Map[String, String] = Map.empty): Unit = {
    import org.apache.spark.sql.functions.expr
    // resolve predicate AND target from ONE analyzed plan, so the
    // condition's attributes are the relation's own output
    val analyzed = spark.read.format("graft").load(dir)
      .filter(expr(predText)).queryExecution.analyzed
    val fNode = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }
      .getOrElse(throw new IllegalArgumentException(
        s"replaceWhere: could not resolve predicate '$predText'"))
    val t = dmlTarget(fNode.child).getOrElse(
      throw new IllegalStateException(
        s"replaceWhere: $dir did not resolve to a graft relation"))
    replaceWhereCond(spark, dir, data0, fNode.condition, t, predText,
      arrange, explicitMeta, extraSummary)
  }

  /** The resolved-condition core of [[replaceWhere]] — also the landing
    * point for the V2 `writeTo(...).overwrite(condition)` contract,
    * whose filters arrive already bound to the relation's output. */
  private[connector] def replaceWhereCond(spark: SparkSession, dir: String,
      data0: DataFrame, cond: Expression, t: DmlTarget, predLabel: String,
      arrange: DataFrame => DataFrame = identity,
      explicitMeta: Option[(Seq[String], Option[String],
        Seq[String])] = None,
      extraSummary: Map[String, String] = Map.empty): Unit = {
    import org.apache.spark.sql.functions.not
    checkExpr(cond, "replaceWhere")
    // byName alignment to the table's visible schema (replaceWhere
    // predicates speak column names, so the write does too)
    val visible = schemaOf(t)
    require(data0.columns.length == visible.length &&
      visible.fieldNames.forall(n =>
        data0.columns.exists(_.equalsIgnoreCase(n))),
      s"replaceWhere into $dir needs exactly the table's columns " +
        s"(${visible.fieldNames.mkString(", ")}), got " +
        s"(${data0.columns.mkString(", ")})")
    // the incoming frame is consumed TWICE (predicate validation, then
    // the write) — persist it so an expensive source query computes
    // once and a non-deterministic one cannot write rows the validation
    // pass never saw; freed deterministically below
    val aligned = data0.select(visible.fields.map(f =>
      col(data0.columns.find(_.equalsIgnoreCase(f.name)).get)
        .cast(f.dataType).as(f.name)).toSeq: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // every incoming row must satisfy the predicate — the written
      // slice IS the slice being replaced, nothing may leak outside it.
      // The condition rebinds onto the ALIGNED frame by name (the V2
      // filters and the text face both speak the table's column names).
      require(aligned
          .filter(not(coalesce(rebind(cond, t.output, aligned), lit(false))))
          .isEmpty,
        s"replaceWhere '$predLabel': the written data contains rows that " +
          "do NOT satisfy the predicate — they would land outside the " +
          "slice being replaced")
      val (baseId, live, reg) = pinned(spark, t, "replaceWhere").getOrElse(
        throw new IllegalArgumentException(s"not a graft table: $dir"))
      // a lineageKey declaration RIDING THIS COMMIT (the writer option's
      // extraSummary) must bootstrap THIS commit's own rows — it is not
      // in the log yet when effectiveLineage scans, so feed it forward
      // as a live declaration
      val tEff = extraSummary.get(SnapshotLog.LineageDeclaredKey) match {
        case Some(k) => t.copy(declaredKey = t.declaredKey.orElse(Some(k)))
        case None => t
      }
      val lin = effectiveLineage(spark, tEff)
      val stamped = lin.fold(aligned: DataFrame)(_ =>
        aligned.withColumn(Merge.LineageCol, lit(baseId + 1)))
      val arrangedDf = arrange(stamped)
      val added = explicitMeta match {
        case Some((st, bl, pc)) => SnapshotLog.writeData(arrangedDf, dir,
          statsCols = st, bloomCol = bl, partitionCols = pc)
        case None => writeInherited(spark, dir, arrangedDf, live, reg)
      }
      removeSliceCommit(spark, t, cond, baseId, live, reg, lin,
        added = added, mode = "replace-where",
        extra = Map("predicate" -> predLabel) ++ extraSummary,
        idStamped = lin.isDefined)
    } finally aligned.unpersist()
    refreshAfter(spark, t)
  }

  /** The commit half of the REAL-V2 replaceWhere (r15): the incoming
    * slice was already written by the engine-planned batch write (inline
    * stats, per-row predicate validation in the tasks), so all that
    * remains is the same predicate-scoped slice swap the V1 face runs —
    * metadata-covered file drops, boundary rewrites, one pinned commit.
    * Lineage-stamped tables never reach here (the capability gate routes
    * them to the V1 stamping path); the require is the backstop. */
  private[connector] def replaceWhereFiles(spark: SparkSession, dir: String,
      added: Seq[DataFile], filters: Array[org.apache.spark.sql.sources.Filter],
      predLabel: String): Unit = {
    val t = v1Target(spark, dir)
    val cond = filters.toSeq
      .map(f => sourceFilterExpr(f, t.output).getOrElse(
        throw new UnsupportedOperationException(
          s"graft table $dir: cannot overwrite by filter $f")))
      .reduceOption[Expression](And)
      .getOrElse(Literal.TrueLiteral)
    checkExpr(cond, "replaceWhere")
    val (baseId, live, reg) = pinned(spark, t, "replaceWhere").getOrElse(
      throw new IllegalArgumentException(s"not a graft table: $dir"))
    val lin = effectiveLineage(spark, t)
    require(lin.isEmpty,
      s"graft table $dir: the real-V2 replaceWhere cannot stamp lineage " +
        "— this table's plan must not have declared OVERWRITE_BY_FILTER")
    removeSliceCommit(spark, t, cond, baseId, live, reg, lin,
      added = added, mode = "replace-where",
      extra = Map("predicate" -> predLabel), idStamped = false)
    refreshAfter(spark, t)
  }

  /** The conflict guard a predicate-scoped DML rewrite hands
    * [[SnapshotLog.commitPinned]]: interleaved ADDED files prune against
    * the same zone/bloom/partition constraints that picked the
    * candidates (metadata keys translated when the table has a live
    * column mapping — interleaved writers record PHYSICAL names), and
    * every candidate this pass read without rewriting joins the
    * read-set. */
  private def dmlGuard(cs: Constraints, candidates: Seq[DataFile],
                       touched: Seq[DataFile],
                       reg: Option[graft.table.FieldRegistry],
                       idStamped: Boolean): SnapshotLog.ConflictGuard = {
    val touchedPaths = touched.map(_.path).toSet
    SnapshotLog.ConflictGuard(
      mayReadAdded = Some(fs => fs.filter(f =>
        cs.keeps(reg.map(_.translateMeta(f)).getOrElse(f)))),
      readPaths = candidates.map(_.path).toSet -- touchedPaths,
      // the rewrite read, pruned AND wrote in the pinned registry's
      // coordinate system — an interleaved RENAME/DROP would leave the
      // rewritten files speaking a dead name space (a dropped column's
      // values staying visible, a re-added name resurrecting them), so
      // any schema/registry commit aborts the rebase
      registrySensitive = true,
      idStamped = idStamped)
  }

  // ---------------------------------------------------------------- UPDATE

  def update(spark: SparkSession, t: DmlTarget,
             assignments: Seq[Assignment], condOpt: Option[Expression]): Unit = {
    val cond = condOpt.getOrElse(Literal.TrueLiteral)
    checkExpr(cond, "UPDATE")
    assignments.foreach(a => checkExpr(a.value, "UPDATE"))
    val byName: Seq[(String, Expression)] = assignments.map { a =>
      a.key match {
        case ar: AttributeReference => ar.name -> a.value
        case other => throw new UnsupportedOperationException(
          s"graft UPDATE supports only top-level column assignments, got: " +
            other.sql)
      }
    }
    val resolver = org.apache.spark.sql.catalyst.analysis.caseInsensitiveResolution
    val (baseId, live, reg) = pinned(spark, t, "UPDATE").getOrElse(return)
    if (live.isEmpty) return
    val cs = Constraints.from(split(cond))
    val candidates = live.filter(cs.keeps)
    val (touched, nMatched) = touchDetect(spark, t, candidates, cond, reg)
    if (touched.isEmpty) return
    val lin = effectiveLineage(spark, t)
    val intendedId = baseId + 1
    val tDf = readFiles(spark, t, touched, lin.isDefined, reg)
    // every assignment evaluates against the PRE-update row (standard SQL:
    // `SET a = b, b = a` swaps); one simultaneous select guarantees it
    val hit = coalesce(rebind(cond, t.output, tDf), lit(false))
    val outCols = tDf.schema.fields.map { f =>
      byName.find { case (n, _) => resolver(n, f.name) } match {
        case Some((_, v)) =>
          when(hit, rebind(v, t.output, tDf).cast(f.dataType))
            .otherwise(tDf.col(f.name)).as(f.name)
        case None if lin.isDefined && f.name == Merge.LineageCol =>
          when(hit, lit(intendedId)).otherwise(tDf.col(f.name)).as(f.name)
        case None => tDf.col(f.name)
      }
    }
    val written = writeInherited(spark, t.dir, tDf.select(outCols.toSeq: _*),
      live, reg)
    // same rebase discipline as DELETE; a lineage UPDATE stamped
    // intendedId into the rewritten rows, so it refuses any other id
    SnapshotLog.commitPinned(spark, t.dir, baseId, "upsert", written,
      touched.map(_.path), Map("mode" -> "update-sql",
        "rows_updated" -> nMatched.toString,
        "files_touched" -> touched.size.toString,
        "files_untouched" -> (live.size - touched.size).toString) ++
        lineageSummary(lin, reg),
      guard = dmlGuard(cs, candidates, touched, reg, idStamped = lin.isDefined))
    ()
  }

  // ----------------------------------------------------------------- MERGE

  /** Types whose manifest pruning domains are consistent between zone
    * recording and [[SnapshotLog.keyAsLong]] probing — timestamps/dates
    * are excluded (their zones are micros/days, keyAsLong is seconds;
    * probing across domains would prune files that DO hold keys). */
  private def prunableKeyType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** The ON clause's `target.key = <source expr>` equality conjunct, when
    * one exists with a pruning-consistent key type — the handle that
    * bounds MERGE cost to O(touched + source). Absent one, every live
    * file is touched (correct, documented, and exactly what an
    * arbitrary-ON merge means). */
  private def extractKeyEq(onCond: Expression, targetOut: Seq[Attribute])
      : Option[(AttributeReference, Expression)] = {
    val tids = targetOut.map(_.exprId).toSet
    def sourceOnly(e: Expression): Boolean =
      e.deterministic && e.references.forall(r => !tids.contains(r.exprId))
    split(onCond).collectFirst {
      case EqualTo(a: AttributeReference, rhs)
          if tids(a.exprId) && sourceOnly(rhs) && prunableKeyType(a.dataType) =>
        (a, rhs)
      case EqualTo(lhs, a: AttributeReference)
          if tids(a.exprId) && sourceOnly(lhs) && prunableKeyType(a.dataType) =>
        (a, lhs)
    }
  }

  private def assignmentsOf(a: MergeAction): Seq[Assignment] = a match {
    case u: UpdateAction => u.assignments
    case i: InsertAction => i.assignments
    case _ => Seq.empty
  }

  def merge(spark: SparkSession, t: DmlTarget, sourcePlan: LogicalPlan,
            onCond: Expression, matched: Seq[MergeAction],
            notMatched: Seq[MergeAction], nmbs: Seq[MergeAction]): Unit = {
    checkExpr(onCond, "MERGE")
    (matched ++ notMatched ++ nmbs).foreach { a =>
      require(a.isInstanceOf[UpdateAction] || a.isInstanceOf[InsertAction] ||
        a.isInstanceOf[DeleteAction],
        s"graft MERGE: unsupported clause action ${a.getClass.getSimpleName}")
      a.condition.foreach(checkExpr(_, "MERGE"))
      assignmentsOf(a).foreach { as =>
        checkExpr(as.value, "MERGE")
        require(as.key.isInstanceOf[AttributeReference],
          s"graft MERGE supports only top-level column assignments, got: " +
            as.key.sql)
      }
    }
    val (baseId, live, reg) = pinned(spark, t, "MERGE").getOrElse(
      throw new IllegalArgumentException(
        s"MERGE target ${t.dir} is not an existing graft table"))
    val intendedId = baseId + 1
    val resolver = org.apache.spark.sql.catalyst.analysis.caseInsensitiveResolution

    // a non-deterministic source would diverge between the pruning pass,
    // the cardinality check and the rewrite — materialize it once
    val sDf0 = {
      val raw = GraftSqlShim.ofRows(spark, sourcePlan)
      if (sourcePlan.exists(_.expressions.exists(!_.deterministic)))
        raw.localCheckpoint(true)
      else raw
    }

    // file pruning by the ON equality; NOT MATCHED BY SOURCE semantics
    // ranges over EVERY target row, so its presence forces a full touch
    val keyEq = extractKeyEq(onCond, t.output)
    val (touched, untouched) =
      if (nmbs.nonEmpty || keyEq.isEmpty || live.isEmpty) (live, Seq.empty[DataFile])
      else Merge.pruneTouched(spark, keyEq.get._1.name, live,
        sDf0.select(column(keyEq.get._2).as("_gk")))
    if (touched.isEmpty && notMatched.isEmpty) return // no matches possible, nothing to insert

    val lin = effectiveLineage(spark, t)
    val tBase = readFiles(spark, t, touched, lin.isDefined, reg)
    val tDf = tBase.withColumn(TMark, lit(true))
      .withColumn(TId, monotonically_increasing_id())
    val sDf = sDf0.withColumn(SMark, lit(true))
    val joined = tDf.join(sDf, rebind(onCond, t.output, tDf), "full_outer")

    // SQL cardinality rule: a target row matched by >1 source row with
    // matched actions present is an error, never a silent double-apply
    if (matched.nonEmpty && touched.nonEmpty) {
      val dup = joined
        .filter(col(TMark).isNotNull && col(SMark).isNotNull)
        .groupBy(col(TId)).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).limit(1).count() > 0
      if (dup) throw new UnsupportedOperationException(
        s"MERGE into graft table ${t.dir}: cardinality violation — a " +
          "target row matches more than one source row; deduplicate the " +
          "source on the ON key first")
    }

    // first-applicable-clause action tag, the standard WHEN evaluation
    // order: matched → 100+i (else 0 = carry), source-only → 200+i
    // (else -1 = drop), target-only → 300+i (else 0 = carry)
    def condCol(c: Option[Expression]): Column =
      c.map(e => coalesce(rebind(e, t.output, tDf), lit(false))).getOrElse(lit(true))
    def fold(actions: Seq[MergeAction], base: Int, default: Column): Column =
      actions.zipWithIndex.foldRight(default) { case ((a, i), els) =>
        when(condCol(a.condition), lit(base + i)).otherwise(els)
      }
    val isMatched = col(TMark).isNotNull && col(SMark).isNotNull
    val tag = when(isMatched, fold(matched, 100, lit(0)))
      .when(col(TMark).isNull, fold(notMatched, 200, lit(-1)))
      .otherwise(fold(nmbs, 300, lit(0)))
    // an insert-only merge (no matched / by-source clauses) never changes
    // an existing row: touched files STAY LIVE and only the unmatched
    // source rows are written — the "insert if not exists" idiom costs
    // O(inserts + one probe read), zero rewrite amplification
    val rewriteTouched = matched.nonEmpty || nmbs.nonEmpty
    val dropTags: Seq[Any] = -1 +:
      (matched.zipWithIndex.collect { case (_: DeleteAction, i) => 100 + i } ++
        nmbs.zipWithIndex.collect { case (_: DeleteAction, i) => 300 + i })
    val kept = joined.withColumn(Tag, tag)
      .filter(if (rewriteTouched) !col(Tag).isin(dropTags: _*)
        else col(Tag) >= 200)

    val changedTags =
      (matched.zipWithIndex.collect { case (_: UpdateAction, i) => 100 + i } ++
        notMatched.zipWithIndex.collect { case (_: InsertAction, i) => 200 + i } ++
        nmbs.zipWithIndex.collect { case (_: UpdateAction, i) => 300 + i })
        .map(x => x: Any)
    val outCols = tBase.schema.fields.map { f =>
      def assigned(a: MergeAction): Option[Column] =
        assignmentsOf(a).find(as => resolver(
          as.key.asInstanceOf[AttributeReference].name, f.name))
          .map(as => rebind(as.value, t.output, tDf))
      val carried = tDf.col(f.name)
      if (lin.isDefined && f.name == Merge.LineageCol)
        (if (changedTags.isEmpty) carried
         else when(col(Tag).isin(changedTags: _*), lit(intendedId))
           .otherwise(carried)).as(f.name)
      else {
        val branches: Seq[(Int, Column)] =
          matched.zipWithIndex.collect { case (u: UpdateAction, i) =>
            100 + i -> assigned(u).getOrElse(carried) } ++
          notMatched.zipWithIndex.collect { case (ins: InsertAction, i) =>
            200 + i -> assigned(ins).getOrElse(lit(null)) } ++
          nmbs.zipWithIndex.collect { case (u: UpdateAction, i) =>
            300 + i -> assigned(u).getOrElse(carried) }
        branches.foldRight(carried) { case ((tg, v), els) =>
          when(col(Tag) === tg, v).otherwise(els)
        }.cast(f.dataType).as(f.name)
      }
    }
    val written = writeInherited(spark, t.dir, kept.select(outCols.toSeq: _*),
      live, reg)
    // rebase footprint: with an ON-key equality the same zone-∧-bloom
    // probe that picked `touched` decides whether an interleaved ADDED
    // file may hold one of the source's keys (translated to physical
    // metadata space when a column mapping is live); an arbitrary-ON or
    // BY SOURCE merge ranges over every row, so any append conflicts.
    // An insert-only merge leaves the probed files live — they join the
    // read-set so a commit that removed one aborts the rebase.
    val mergeGuard = SnapshotLog.ConflictGuard(
      mayReadAdded = Some { fs =>
        if (nmbs.nonEmpty || keyEq.isEmpty) fs
        else {
          val logical = fs.map(f => reg.map(_.translateMeta(f)).getOrElse(f))
          Merge.pruneTouched(spark, keyEq.get._1.name, logical,
            sDf0.select(column(keyEq.get._2).as("_gk")))._1
        }
      },
      readPaths =
        if (rewriteTouched) Set.empty else touched.map(_.path).toSet,
      // same pinned-registry discipline as dmlGuard: the merge's reads
      // and writes share the baseId registry, so interleaved
      // schema/registry commits must abort the rebase
      registrySensitive = true,
      idStamped = lin.isDefined && changedTags.nonEmpty)
    SnapshotLog.commitPinned(spark, t.dir, baseId, "upsert", written,
      if (rewriteTouched) touched.map(_.path) else Seq.empty,
      Map("mode" -> "merge-sql",
        "files_touched" -> (if (rewriteTouched) touched.size else 0).toString,
        "files_untouched" ->
          (if (rewriteTouched) untouched.size
           else touched.size + untouched.size).toString) ++
        // the feed key is the table's LINEAGE key (row-unique by the
        // declared/established contract), never the ON-clause column —
        // an ON key like `bucket` need not identify rows, and cowChanges'
        // removed-minus-added anti-join would silently drop delete events
        // for partially-deleted groups. Recorded whenever stamps were
        // written (keyEq or not), so an arbitrary-ON merge on a lineage
        // table stays feed-derivable instead of wasting its stamps.
        lineageSummary(lin, reg),
      guard = mergeGuard)
    ()
  }
}
