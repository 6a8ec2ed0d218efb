package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.{Constraints, FieldRegistry, Merge, SnapshotLog}

/** Field-id column mapping: `ALTER TABLE … RENAME/DROP COLUMN` as
  * METADATA-ONLY commits (Delta column-mapping / Iceberg field-id
  * school). Pins the load-bearing properties: zero data files touched by
  * a rename, reads across rename epochs resolve by id, time travel shows
  * epoch-correct names, a dropped-then-re-added column can never
  * resurrect old bytes nor be pruned by the tombstoned field's zones,
  * post-rename writes/merges/DML translate through the one writeData
  * chokepoint, and OPTIMIZE's materializing rewrite resets the registry
  * and restores the connector fast path.
  */
class SchemaRegistrySpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local("4", "schema-registry-spec")

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-reg-$tag").toString + "/t"

  private def fileScanOf(df: DataFrame): Option[FileSourceScanExec] = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    val effective = plan.collectFirst {
      case a: AdaptiveSparkPlanExec => a.executedPlan
    }.getOrElse(plan)
    effective.collectFirst { case f: FileSourceScanExec => f }
  }

  private def seed(tag: String, name: String): String = {
    val dir = tmp(tag)
    spark.range(100).select(col("id"), (col("id") * 2).as("v"),
        concat(lit("c"), pmod(col("id"), lit(4))).as("cat"))
      .write.format("graft").option("statsCols", "id,v").save(dir)
    spark.sql(s"CREATE TABLE $name USING graft OPTIONS (path '$dir')")
    dir
  }

  test("RENAME COLUMN is metadata-only; reads resolve across the epoch") {
    val dir = seed("ren", "reg_ren")
    try {
      val filesBefore = SnapshotLog.filesAt(spark, dir).map(_.path).toSet
      spark.sql("ALTER TABLE reg_ren RENAME COLUMN v TO val")
      // zero data files moved: the commit is op=schema with no files
      assert(SnapshotLog.filesAt(spark, dir).map(_.path).toSet === filesBefore)
      val c = SnapshotLog.commits(spark, dir).last
      assert(c.op === "schema" && c.added.isEmpty && c.removed.isEmpty)
      assert(c.summary.contains(FieldRegistry.SummaryKey))
      // the data reads under the NEW name, values intact
      val back = spark.read.format("graft").load(dir)
      assert(back.columns.toSeq === Seq("id", "val", "cat"))
      assert(back.agg(sum("val")).head.getLong(0) === (0L until 100).map(_ * 2).sum)
      // SQL face agrees
      assert(spark.sql("SELECT sum(val) FROM reg_ren").head.getLong(0) ===
        (0L until 100).map(_ * 2).sum)
      // time travel BEFORE the rename shows the old name (per-snapshot
      // registry resolution)
      val old = spark.read.format("graft").option("versionAsOf", "1").load(dir)
      assert(old.columns.toSeq === Seq("id", "v", "cat"))
    } finally spark.sql("DROP TABLE reg_ren")
  }

  test("post-rename INSERT/append writes translate; zone pruning follows the logical name") {
    val dir = seed("renw", "reg_renw")
    try {
      spark.sql("ALTER TABLE reg_renw RENAME COLUMN v TO val")
      // an INSERT through SQL (positional) after the rename
      spark.range(100, 200).select(col("id"), (col("id") * 2).as("val"),
          concat(lit("c"), pmod(col("id"), lit(4))).as("cat"))
        .createOrReplaceTempView("reg_renw_src")
      spark.sql("INSERT INTO reg_renw SELECT * FROM reg_renw_src")
      // and an append through the writer face, under the new name
      spark.range(200, 300).select(col("id"), (col("id") * 2).as("val"),
          concat(lit("c"), pmod(col("id"), lit(4))).as("cat"))
        .write.format("graft").mode("append").save(dir)
      val back = spark.read.format("graft").load(dir)
      assert(back.count() === 300)
      assert(back.agg(sum("val")).head.getLong(0) === (0L until 300).map(_ * 2).sum)
      // BOTH epochs' files store the field under ONE physical name — the
      // post-rename files did not fork the storage name
      val schemas = SnapshotLog.filesAt(spark, dir).filter(_.rows > 0)
        .map(f => spark.read.parquet(f.path).schema.fieldNames.toSeq).distinct
      assert(schemas === Seq(Seq("id", "v", "cat")),
        s"all files must share the physical schema, got $schemas")
      // pruning speaks LOGICAL: the renamed column's zones still engage
      val (kept, skipped) = SnapshotLog.pruneCounts(spark, dir,
        Constraints(ranges = Map("val" -> (0L, 50L))))
      assert(skipped > 0, "renamed column's zones must still prune")
      assert(kept < kept + skipped)
      // and the pruned read face returns exactly the right rows
      val pruned = SnapshotLog.readPruned(spark, dir,
          Constraints(ranges = Map("val" -> (0L, 50L)))).get
        .filter(col("val").between(0, 50))
      assert(pruned.count() === 26)
    } finally spark.sql("DROP TABLE reg_renw")
  }

  test("DROP COLUMN tombstones; re-added namesake never resurrects old bytes or zones") {
    val dir = seed("drop", "reg_drop")
    try {
      spark.sql("ALTER TABLE reg_drop DROP COLUMN v")
      val back = spark.read.format("graft").load(dir)
      assert(back.columns.toSeq === Seq("id", "cat"))
      // the tombstoned field's manifest zones stop participating: a
      // probe on a NEW column named v finds no metadata (conservative
      // keep), never the dead field's [0, 198] interval
      // re-add the NAME: a brand-new field
      spark.sql("ALTER TABLE reg_drop ADD COLUMNS (v BIGINT)")
      val readded = spark.read.format("graft").load(dir)
      assert(readded.columns.toSeq === Seq("id", "cat", "v"))
      // old rows answer NULL — the old bytes (0..198 doubles of id) are
      // unreachable under the new field
      assert(readded.filter(col("v").isNotNull).count() === 0)
      // write rows carrying the NEW v; its physical storage is disjoint
      spark.range(1000, 1100).select(col("id"), lit("cX").as("cat"),
          (col("id") * 7).as("v")).coalesce(1)
        .write.format("graft").mode("append").option("statsCols", "id,v").save(dir)
      val after = spark.read.format("graft").load(dir)
      assert(after.filter(col("v").isNotNull).count() === 100)
      assert(after.agg(sum("v")).head.getLong(0) === (1000L until 1100).map(_ * 7).sum)
      // zone pruning on the re-added v uses ONLY the new field's zones:
      // the old files carry no metadata for it (kept conservatively),
      // the new file's zone [7000, 7693] skips for a miss-range probe
      val (kept, skipped) = SnapshotLog.pruneCounts(spark, dir,
        Constraints(ranges = Map("v" -> (0L, 100L))))
      assert(skipped === 1, "the new-field file must skip by its own zone")
      // and rows of the seed files still surface (id pruning intact)
      assert(after.filter(col("v") < 100).count() === 0,
        "no old-field value may leak through the re-added namesake")
    } finally spark.sql("DROP TABLE reg_drop")
  }

  test("merge and SQL DML on a renamed table; change feed speaks logical names") {
    val dir = seed("dml", "reg_dml")
    try {
      spark.sql("ALTER TABLE reg_dml RENAME COLUMN v TO val")
      // copy-on-write merge by the RENAMED key space, with lineage
      val delta = spark.range(50, 150).select(col("id"),
        (col("id") * 10).as("val"), lit("up").as("cat"))
      val r = Merge.applyChanges(spark, dir, delta, "id",
        deleteCol = None, lineage = true)
      assert(r.rowsWritten > 0)
      val merged = spark.read.format("graft").load(dir)
      assert(merged.count() === 150)
      assert(merged.filter(col("id") === 60).head.getLong(1) === 600L)
      // the change feed of the merge reports LOGICAL columns
      val feed = SnapshotLog.changes(spark, dir, from = 2L).get
      assert(feed.columns.contains("val") && !feed.columns.contains("v"))
      assert(feed.filter(col("_change_op") === "upsert").count() === 100)
      // SQL UPDATE under the new name
      spark.sql("UPDATE reg_dml SET val = val + 1 WHERE id < 10")
      assert(spark.sql("SELECT sum(val) FROM reg_dml WHERE id < 10")
        .head.getLong(0) === (0L until 10).map(_ * 2).sum + 10)
      // SQL DELETE prunes + rewrites in the same logical space
      spark.sql("DELETE FROM reg_dml WHERE id >= 140")
      assert(spark.sql("SELECT count(*) FROM reg_dml").head.getLong(0) === 140)
    } finally spark.sql("DROP TABLE reg_dml")
  }

  test("OPTIMIZE materializes logical names, resets the registry, restores the fast path") {
    val dir = seed("opt", "reg_opt")
    try {
      spark.sql("ALTER TABLE reg_opt RENAME COLUMN v TO val")
      spark.sql("ALTER TABLE reg_opt DROP COLUMN cat")
      // non-identity: the connector plans the computed path (no file scan)
      assert(fileScanOf(spark.read.format("graft").load(dir)).isEmpty,
        "a live mapping must route through the computed relation")
      // plain OPTIMIZE on a mapped table IS the materializing rewrite
      spark.sql("OPTIMIZE reg_opt")
      // the registry reset to identity; the new files store LOGICAL names
      val reg = SnapshotLog.registryAt(spark, dir)
      assert(reg.exists(_.isIdentity), s"registry must reset, got $reg")
      val live = SnapshotLog.filesAt(spark, dir).filter(_.rows > 0)
      assert(live.map(f => spark.read.parquet(f.path).schema.fieldNames.toSeq)
        .distinct === Seq(Seq("id", "val")),
        "materialized files must carry the logical names; dropped bytes gone")
      // fast path is back
      assert(fileScanOf(spark.read.format("graft").load(dir)).isDefined)
      // values survived the materialization
      val back = spark.read.format("graft").load(dir)
      assert(back.agg(sum("val")).head.getLong(0) === (0L until 100).map(_ * 2).sum)
      // time travel BEFORE everything still shows the original shape
      val v1 = spark.read.format("graft").option("versionAsOf", "1").load(dir)
      assert(v1.columns.toSeq === Seq("id", "v", "cat"))
    } finally spark.sql("DROP TABLE reg_opt")
  }

  test("registry survives checkpoints and rides VACUUM's horizon anchors") {
    val dir = seed("ckpt", "reg_ckpt")
    try {
      spark.sql("ALTER TABLE reg_ckpt RENAME COLUMN v TO val")
      // push past the checkpoint interval so resolution anchors on a
      // checkpoint that must carry the registry
      for (i <- 0 until 12)
        spark.range(100 + i * 10, 110 + i * 10)
          .select(col("id"), (col("id") * 2).as("val"),
            concat(lit("c"), pmod(col("id"), lit(4))).as("cat"))
          .write.format("graft").mode("append").save(dir)
      assert(SnapshotLog.lastCheckpointId(spark, dir).exists(_ >= 10))
      val back = spark.read.format("graft").load(dir)
      assert(back.columns.toSeq === Seq("id", "val", "cat"))
      assert(back.count() === 220)
      // expire history; the fresh horizon anchor must still resolve the
      // mapping (a lost registry would resurrect the physical name)
      spark.sql("VACUUM 'dir'".replace("dir", dir))
      val after = spark.read.format("graft").load(dir)
      assert(after.columns.toSeq === Seq("id", "val", "cat"))
      assert(SnapshotLog.registryAt(spark, dir).exists(!_.isIdentity))
    } finally spark.sql("DROP TABLE reg_ckpt")
  }

  test("graft_schema_log: rename history is queryable table metadata") {
    val dir = seed("log", "reg_log")
    try {
      spark.sql("ALTER TABLE reg_log RENAME COLUMN v TO val")
      spark.sql("ALTER TABLE reg_log DROP COLUMN cat")
      spark.sql("ALTER TABLE reg_log ADD COLUMNS (note STRING)")
      val log = spark.sql(s"SELECT * FROM graft_schema_log('$dir')")
      // one column's biography: field v (#2) was born 'v', renamed to
      // 'val', physical name fixed forever
      val vRows = log.filter(col("field_id") === 2)
        .orderBy(col("snapshot_id"))
        .select(col("physical_name"), col("logical_name")).collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(vRows.head === (("v", "val")))
      assert(vRows.forall(_._1 == "v"), "physical name never changes")
      // the drop shows as a dead row in later registry states
      assert(log.filter(col("logical_name") === "cat" && !col("live"))
        .count() > 0)
      // the re-registered ADD appears with a fresh id
      assert(log.filter(col("logical_name") === "note" && col("live"))
        .count() > 0)
    } finally spark.sql("DROP TABLE reg_log")
  }

  test("rename refusals: unknown column, collision; non-graft ALTER delegates") {
    val dir = seed("ref", "reg_ref")
    try {
      val e1 = intercept[Exception] {
        spark.sql("ALTER TABLE reg_ref RENAME COLUMN nope TO x") }
      assert(e1.getMessage.contains("no such column"))
      val e2 = intercept[Exception] {
        spark.sql("ALTER TABLE reg_ref RENAME COLUMN v TO id") }
      assert(e2.getMessage.contains("already exists"))
      val e3 = intercept[Exception] {
        spark.sql("ALTER TABLE reg_ref DROP COLUMN nope") }
      assert(e3.getMessage.contains("no such column"))
      // a non-graft table's RENAME goes to Spark's own path (whose v1
      // error mentions its own vocabulary, not graft's)
      spark.range(3).write.saveAsTable("reg_plain_tbl")
      try {
        val e4 = intercept[Exception] {
          spark.sql("ALTER TABLE reg_plain_tbl RENAME COLUMN id TO x") }
        assert(!e4.getMessage.contains("graft"))
      } finally spark.sql("DROP TABLE reg_plain_tbl")
    } finally spark.sql("DROP TABLE reg_ref")
  }
}
