package graft.connector

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._

import graft.table.Constraints
import graft.table.SnapshotLog.DataFile

/** The [[FileIndex]] behind `spark.read.format("graft")` — the piece that
  * turns the snapshot log's manifest metadata into Spark's own scan
  * planning, the Delta-Lake `TahoeFileIndex` school: the log (not a
  * directory listing) enumerates the live files of the pinned snapshot,
  * and the query's own `WHERE` clause prunes them driver-side against the
  * per-file zone maps, manifest blooms and partition-value sets BEFORE a
  * single task launches. Everything downstream is stock Spark — the
  * parquet reader, predicate pushdown into row groups, column pruning,
  * whole-stage codegen — because the relation this index feeds is an
  * ordinary `HadoopFsRelation`.
  *
  * Pruning here is an optimization, never a filter: a file is skipped
  * only when its metadata PROVES no qualifying row can live in it
  * (zone interval misses, bloom answers definitely-absent, recorded
  * partition-value set disjoint). Spark still applies the full predicate
  * to every surviving row, so a conservative keep costs I/O, not
  * correctness — the same [[Constraints]] contract every pruning face
  * shares.
  *
  * The index is pinned to ONE resolved snapshot (the file list is
  * captured at construction): a concurrent append/compact/expire after
  * the DataFrame was planned cannot change what it reads — the
  * snapshot-isolation face of the table format.
  */
final class GraftFileIndex(
    val tableDir: String,
    files: Seq[DataFile],
    /** The explicit time-travel pin the relation was resolved with, when
      * one was given — DML (which always executes against the CURRENT
      * snapshot) refuses relations carrying one, so `DELETE FROM view`
      * over a `versionAsOf` read fails loudly instead of silently
      * mutating the present. */
    val pinnedAsOf: Option[Long] = None) extends FileIndex {

  /** Deliberately EMPTY — the one consumer that matters is Spark's stock
    * `InsertIntoHadoopFsRelationCommand` conversion, which would write
    * raw parquet into (and on OVERWRITE, first DELETE) `rootPaths.head`,
    * destroying the snapshot log. DataSource.resolveRelation REBUILDS a
    * plain `HadoopFsRelation` around this index for catalog tables (so a
    * marker-subclass relation cannot intercept), which leaves two
    * defenses: [[GraftInsertRule]] (installed by GraftExtensions)
    * rewrites SQL inserts to log commits, and this empty root-path list
    * makes the stock conversion fail LOUDLY in extension-less sessions
    * instead of silently clobbering the table. Read planning never
    * consults rootPaths (listFiles drives the scan); the loss is
    * cosmetic (the scan's "Location" metadata string). */
  override def rootPaths: Seq[Path] = Seq.empty

  /** The pinned snapshot's live data files with their manifest stats —
    * the metadata [[GraftMetadataAggRule]] answers unfiltered aggregates
    * from (the fast path never carries eqdelete masks, so these rows ARE
    * the logical rows). */
  private[connector] def liveDataFiles: Seq[DataFile] = files

  override def partitionSchema: StructType = new StructType()

  override def inputFiles: Array[String] = files.map(_.path).toArray

  override def sizeInBytes: Long = math.max(1L, files.map(_.bytes).sum)

  override def refresh(): Unit = () // pinned snapshot: nothing to refresh

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val cs = Constraints.from(dataFilters)
    val statuses = files.filter(cs.keeps).map { f =>
      new FileStatus(f.bytes, false, 1, 128L << 20, 0L, new Path(f.path))
    }
    Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
  }
}
