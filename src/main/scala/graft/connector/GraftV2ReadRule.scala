package graft.connector

import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Batch `spark.read.format("graft")` reads of a general-path snapshot
  * (pending position or equality masks, drifted epochs, a live field
  * registry) resolve onto [[GraftV2Table]]'s scan instead of the DSv1
  * Row bridge: the rule swaps the [[GraftComputedRelation]] for a
  * `DataSourceV2Relation` over the relation's own pinned table, so the
  * read is the vectorized masked scan with manifest file pruning on
  * pushed filters (and the scan's own [[GraftBridgeScan]] past the
  * mask budget). The relation's output attributes are REUSED (same
  * exprIds), exactly as [[org.apache.spark.sql.graftshim.GraftStreamingTableRule]]
  * does, so every reference already resolved against it stays valid.
  *
  * Kept on their V1 resolution:
  *  - INSERT targets and DELETE/UPDATE/MERGE targets — [[GraftInsertRule]]
  *    and [[GraftDmlRule]] lower those onto log commits (and DML's
  *    pending-mask refusal) from the V1 relation;
  *  - the batch change feed and empty snapshots (they carry no table);
  *  - session-catalog tables, whose cached relation the catalog's
  *    `refreshTable(ident)` contract addresses by identifier;
  *  - streaming relations.
  *
  * `GraftDataSource` stays a V1 `RelationProvider` on purpose: as a
  * `TableProvider`, `df.write.format("graft").save(dir)` would route
  * through V2, which refuses the default `ErrorIfExists` save mode. */
final class GraftV2ReadRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val targets = plan.collect {
      case i: InsertIntoStatement => i.table
      case d: DeleteFromTable => d.table
      case u: UpdateTable => u.table
      case m: MergeIntoTable => m.targetTable
    }.flatMap(_.collectLeaves())
    plan.resolveOperators {
      case lr @ LogicalRelation(c: GraftComputedRelation, output, None, false, _)
          if c.v2Table.isDefined && !targets.exists(_ eq lr) =>
        DataSourceV2Relation(c.v2Table.get, output, None, None,
          CaseInsensitiveStringMap.empty(), None)
    }
  }
}
