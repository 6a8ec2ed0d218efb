package graft.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.table.SnapshotLog.DataFile

/** METADATA-ONLY aggregate answering for graft tables — the Delta
  * `OptimizeMetadataOnlyDeltaQuery` / Iceberg manifest-metrics school:
  * an UNFILTERED, UNGROUPED `count(*)` / `min(col)` / `max(col)` over a
  * fast-path graft relation is fully determined by the manifest — every
  * live file's row count is recorded at commit time, and every zone
  * column's per-file [min, max] is the exact aggregate of its non-null
  * values — so the whole query collapses to a [[LocalRelation]] holding
  * one precomputed row. The plan then contains NO scan node at all: at
  * 100 TB, `SELECT count(*) FROM t` is a driver-side metadata fold over
  * a few thousand manifest entries instead of a full-table pass.
  *
  * Strict preconditions (each one load-bearing for exactness; anything
  * short of all of them leaves the plan untouched — this rule may only
  * substitute a provably identical answer, never an estimate):
  *
  *  - the child is the graft FAST-PATH relation (`HadoopFsRelation` over
  *    [[GraftFileIndex]]) with no Filter anywhere below the Aggregate:
  *    a masked (merge-on-read) snapshot plans the computed relation
  *    instead and is therefore never matched — which is what makes
  *    manifest row counts EQUAL logical row counts here (no mask ever
  *    subtracts rows from a fast-path snapshot). Drifted epochs do
  *    match: the integral widening chain shares the zones' long domain;
  *    a column an older row-bearing file lacks has no zone there;
  *  - `count` only as `count(*)`/`count(<non-null literal>)`, never
  *    `count(col)` (null-skipping needs the data), never DISTINCT,
  *    never FILTER (WHERE …);
  *  - `min`/`max` only on a bare column whose type round-trips the zone
  *    long domain losslessly (integrals; DATE as epoch days; TIMESTAMP
  *    as epoch micros — the exact domains [[graft.table.SnapshotLog
  *    .writeData]] records) and only when EVERY row-bearing live file
  *    recorded a zone for it: one stats-less file (written without
  *    `statsCols`, or holding only nulls — writeData records no entry
  *    then) makes the manifest answer a bound, not the value, so the
  *    plan falls back to the scan. Zero-row schema-carrier files (ALTER
  *    TABLE ADD COLUMNS) are vacuous for min/max and exempt.
  *
  * Doubles/strings are deliberately OUT: float zones are not recorded
  * (no lossless long domain exists) and string columns record no zone
  * at all.
  */
final class GraftMetadataAggRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg: Aggregate if agg.groupingExpressions.isEmpty &&
        agg.aggregateExpressions.nonEmpty =>
      relationOf(agg.child) match {
        case Some(files) => rewrite(agg, files).getOrElse(agg)
        case None => agg
      }
  }

  /** The graft fast-path relation's pinned file list, when the child is
    * exactly that relation (modulo attribute-only Projects / aliases) —
    * any Filter, join, or other operator in between bails. */
  private def relationOf(p: LogicalPlan): Option[Seq[DataFile]] = p match {
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location match {
        case g: GraftFileIndex => Some(g.liveDataFiles)
        case _ => None
      }
      case _ => None
    }
    case Project(projs, child)
        if projs.forall(_.isInstanceOf[AttributeReference]) =>
      relationOf(child)
    case SubqueryAlias(_, child) => relationOf(child)
    case _ => None
  }

  private def rewrite(agg: Aggregate, files: Seq[DataFile]): Option[LogicalPlan] = {
    // zero-row files (schema carriers) contribute nothing to any of the
    // supported aggregates; min/max exactness is required of the rest
    val bearing = files.filter(_.rows > 0)
    val values = agg.aggregateExpressions.map(answer(_, files, bearing))
    if (values.exists(_.isEmpty)) None
    else Some(LocalRelation(agg.aggregateExpressions.map(_.toAttribute),
      Seq(InternalRow.fromSeq(values.map(_.get)))))
  }

  /** The internal-row value of one output expression, when it is a
    * supported aggregate (None = not answerable; the whole rewrite
    * bails). */
  private def answer(ne: NamedExpression, all: Seq[DataFile],
                     bearing: Seq[DataFile]): Option[Any] = ne match {
    case Alias(ae: AggregateExpression, _) => answerAgg(ae, all, bearing)
    case ae: AggregateExpression => answerAgg(ae, all, bearing)
    case _ => None
  }

  private def answerAgg(ae: AggregateExpression, all: Seq[DataFile],
                        bearing: Seq[DataFile]): Option[Any] = {
    if (ae.isDistinct || ae.filter.isDefined) return None
    ae.aggregateFunction match {
      case c: Count if c.children.forall {
        case Literal(v, _) => v != null
        case _ => false
      } => Some(all.map(_.rows).sum)
      case Min(a: AttributeReference) => zoneAnswer(a, bearing, isMin = true)
      case Max(a: AttributeReference) => zoneAnswer(a, bearing, isMin = false)
      case _ => None
    }
  }

  /** Exact min/max from the per-file zones: answerable only when every
    * row-bearing file has a recorded zone for the column and the type's
    * long-domain encoding is lossless (the zoneExpr cast domains). An
    * empty bearing set answers SQL's empty-input NULL. */
  private def zoneAnswer(a: AttributeReference, bearing: Seq[DataFile],
                         isMin: Boolean): Option[Any] = {
    if (!losslessZoneType(a.dataType)) return None
    if (bearing.isEmpty) return Some(null)
    val zones = bearing.map(_.stats.get(a.name))
    if (zones.exists(_.isEmpty)) return None
    val v = if (isMin) zones.map(_.get._1).min else zones.map(_.get._2).max
    internalValue(a.dataType, v)
  }

  private def losslessZoneType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         DateType | TimestampType => true
    case _ => false
  }

  /** Internal (Catalyst) representation of a zone long for the column's
    * type — dates are Int days, timestamps Long micros, exactly how the
    * zones were recorded. */
  private def internalValue(dt: DataType, v: Long): Option[Any] = dt match {
    case ByteType => Some(v.toByte)
    case ShortType => Some(v.toShort)
    case IntegerType => Some(v.toInt)
    case LongType => Some(v)
    case DateType => Some(v.toInt)
    case TimestampType => Some(v)
    case _ => None
  }
}
