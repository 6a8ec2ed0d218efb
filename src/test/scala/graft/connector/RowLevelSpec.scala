package graft.connector

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Sessions
import graft.table.SnapshotLog

/** SupportsRowLevelOperations (r14) — the delta-based DELETE / UPDATE /
  * MERGE face a VANILLA Spark session (no graft extensions) plans
  * through the engine's own RewriteDeleteFromTable / RewriteUpdateTable
  * / RewriteMergeIntoTable rules: deletes land as positional masks,
  * updates as delete+insert, one guarded `rowdelta` commit, zero data
  * files rewritten. Sessions WITH the extensions take [[GraftDmlRule]]
  * instead (pinned elsewhere); this spec drives a genuinely
  * extension-free session sharing the same SparkContext. */
class RowLevelSpec extends AnyFunSuite {

  lazy val main: SparkSession = Sessions.local("4", "row-level-spec")
  /** An extension-free session on the shared context — what a user of
    * any stock Spark distribution gets. */
  lazy val vanilla: SparkSession = {
    val s = org.apache.spark.sql.graftshim.GraftSqlShim.vanillaSession(main.sparkContext)
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  private def freshTable(tag: String, rows: Long = 1000): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft-rls-$tag").toString
    for (s <- Seq(vanilla, main)) {
      s.conf.set(s"spark.sql.catalog.grl_$tag", classOf[GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.grl_$tag.warehouse", wh)
    }
    main.range(0, rows).selectExpr("id AS k", "id * 2 AS v")
      .coalesce(2).write.format("graft")
      .option("statsCols", "k").save(s"$wh/t")
    (s"grl_$tag.t", s"$wh/t")
  }

  test("vanilla-session DELETE plans WriteDelta and records positional masks") {
    val (t, dir) = freshTable("del")
    // a NON-filter-convertible predicate, so neither canDeleteWhere nor
    // the metadata-only optimizer rule can serve it — the delta path is
    // the only road
    val df = vanilla.sql(s"DELETE FROM $t WHERE k % 10 = 3")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WriteDelta"),
      s"the vanilla DELETE must plan the delta write:\n$plan")
    val c = SnapshotLog.commits(vanilla, dir).last
    assert(c.op === "rowdelta", c.toString)
    assert(c.summary.get("mode").contains("v2-row-delta"), c.summary)
    assert(c.added.forall(_.kind == "posdelete"),
      "a pure DELETE adds only positional masks")
    assert(c.added.map(_.rows).sum === 100)
    assert(vanilla.sql(s"SELECT count(*) FROM $t").head.getLong(0) === 900)
    assert(vanilla.sql(s"SELECT count(*) FROM $t WHERE k % 10 = 3")
      .head.getLong(0) === 0)
    // the masked table still reads identically through the MAIN session
    assert(main.read.format("graft").load(dir).count() === 900)
  }

  test("vanilla-session UPDATE arrives as delete+insert; values exact") {
    val (t, dir) = freshTable("upd")
    vanilla.sql(s"UPDATE $t SET v = v + 1000000 WHERE k % 7 = 0")
    val c = SnapshotLog.commits(vanilla, dir).last
    assert(c.op === "rowdelta", c.toString)
    val (masks, data) = c.added.partition(_.kind == "posdelete")
    assert(masks.map(_.rows).sum === 143, "one mask entry per updated row")
    assert(data.map(_.rows).sum === 143, "one re-inserted row per update")
    // inline stats rode the insert side (inherited statsCols=k)
    assert(data.filter(_.rows > 0).forall(_.stats.contains("k")),
      data.map(_.stats).toString)
    val r = vanilla.sql(
      s"SELECT sum(v) AS s, count(*) AS n FROM $t").head
    val expected = (0L until 1000L)
      .map(k => k * 2 + (if (k % 7 == 0) 1000000L else 0L)).sum
    assert(r.getLong(1) === 1000)
    assert(r.getLong(0) === expected)
  }

  test("vanilla-session MERGE: delete, update and insert clauses compose") {
    val (t, dir) = freshTable("mrg")
    vanilla.range(0, 1500).selectExpr("id AS k", "id * 10 AS v")
      .filter(col("k") % 2 === 0)
      .createOrReplaceTempView("rls_merge_src")
    vanilla.sql(
      s"""MERGE INTO $t tgt USING rls_merge_src src
         |ON tgt.k = src.k
         |WHEN MATCHED AND src.k % 10 = 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = src.v
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.v)
         |""".stripMargin)
    val c = SnapshotLog.commits(vanilla, dir).last
    assert(c.op === "rowdelta", c.toString)
    // declarative twin over the raw input
    val expected = ((0L until 1000L).flatMap { k =>
      if (k % 2 == 0) {
        if (k % 10 == 0) None // matched + %10 → deleted
        else Some((k, k * 10)) // matched → updated
      } else Some((k, k * 2)) // untouched
    } ++ (1000L until 1500L).filter(_ % 2 == 0).map(k => (k, k * 10)))
      .sortBy(_._1)
    val got = vanilla.sql(s"SELECT k, v FROM $t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === expected)
  }

  test("convertible DELETE still answers exactly (metadata or delta — engine's pick)") {
    val (t, _) = freshTable("conv")
    vanilla.sql(s"DELETE FROM $t WHERE k < 100")
    assert(vanilla.sql(s"SELECT count(*), min(k) FROM $t").head.toSeq ===
      Seq(900L, 100L))
  }

  test("metadata columns: _graft_file/_graft_pos select like Iceberg's _file/_pos") {
    val (t, _) = freshTable("meta", rows = 100)
    val rows = vanilla.sql(
      s"SELECT k, _graft_file, _graft_pos FROM $t WHERE k < 5 ORDER BY k")
      .collect()
    assert(rows.length === 5)
    assert(rows.forall(_.getString(1).endsWith(".parquet")))
    assert(rows.forall(!_.isNullAt(2)))
    // SELECT * must NOT leak them (metadata columns are opt-in)
    assert(vanilla.sql(s"SELECT * FROM $t").columns.toSeq === Seq("k", "v"))
    // and the extensions session reads them identically
    assert(main.sql(
      s"SELECT _graft_file FROM $t WHERE k = 1").head.getString(0)
      .endsWith(".parquet"))
  }

  test("row-level ops on a bucketed table keep the layout on the insert side") {
    val wh = java.nio.file.Files.createTempDirectory("graft-rls-bkt").toString
    vanilla.conf.set("spark.sql.catalog.grl_bkt", classOf[GraftCatalog].getName)
    vanilla.conf.set("spark.sql.catalog.grl_bkt.warehouse", wh)
    main.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")
      .write.format("graft").option("bucketBy", "4,k")
      .option("statsCols", "k").save(s"$wh/t")
    vanilla.sql("UPDATE grl_bkt.t SET v = 0 WHERE k % 13 = 0")
    val c = SnapshotLog.commits(vanilla, s"$wh/t").last
    val data = c.added.filter(f => f.kind == "data" && f.rows > 0)
    val key = SnapshotLog.bucketPartKey(4, "k")
    assert(data.nonEmpty &&
      data.forall(_.parts.get(key).exists(_.size == 1)),
      s"delta inserts must keep the bucket singleton proof: " +
        data.map(_.parts).toString)
    assert(vanilla.sql(
      "SELECT count(*) FROM grl_bkt.t WHERE v = 0 AND k <> 0")
      .head.getLong(0) === 76)
  }

  test("row-id scans ride the vectorized batch scan, not the Row bridge (r15)") {
    val (t, dir) = freshTable("vecpos")
    // plan face: metadata-column projection keeps the columnar fast path
    val df = vanilla.sql(s"SELECT k, _graft_file, _graft_pos FROM $t")
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("rowIds=true"),
      s"row-id read must be the batch scan:\n$plan")
    assert(GraftV2BatchScan.readsColumnar(plan),
      s"no Row bridge under a row-id projection:\n$plan")
    val scans = plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
      "the row-id scan must read columnar")
    // value face: (_graft_file, _graft_pos, k) triples must be
    // byte-identical to the engine's own _metadata read of the same
    // files — the row-id contract the posdelete entries depend on
    val got = df.collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(0))).sorted.toSeq
    val files = SnapshotLog.filesAt(vanilla, dir)
      .filter(f => f.kind == "data" && f.rows > 0).map(_.path)
    val expected = main.read.parquet(files: _*)
      .select(col("_metadata.file_path"), col("_metadata.row_index"), col("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(got === expected)
    // masked row-id read: surviving rows keep their ORIGINAL ordinals
    vanilla.sql(s"DELETE FROM $t WHERE k % 10 = 3")
    val after = vanilla.sql(s"SELECT k, _graft_file, _graft_pos FROM $t")
    assert(after.queryExecution.executedPlan.toString.contains("rowIds=true"))
    val afterRows = after.collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(0))).sorted.toSeq
    assert(afterRows === expected.filterNot(_._3 % 10 == 3),
      "masked row-id reads must keep original file ordinals")
    // and a second DML on the masked table still lands exactly
    vanilla.sql(s"DELETE FROM $t WHERE k % 10 = 4")
    assert(vanilla.sql(s"SELECT count(*) FROM $t").head.getLong(0) === 800)
  }

  test("the columnar batch-scan plan check fails on the V1 Row path") {
    val (_, dir) = freshTable("rowpath")
    graft.table.Merge.deleteWhere(main, dir, col("k") % 10 === 3)
    // a masked V1 format("graft") read without the extensions answers
    // through GraftComputedRelation's Row scan: the check must refuse it
    val v1 = vanilla.read.format("graft").load(dir)
    assert(v1.count() === 900)
    val v1Plan = v1.queryExecution.executedPlan
    assert(!GraftV2BatchScan.readsColumnar(v1Plan), s"V1 Row path:\n$v1Plan")
    // the same read with the extensions is rewritten to the batch scan
    val v2 = main.read.format("graft").load(dir)
    assert(v2.count() === 900)
    assert(GraftV2BatchScan.readsColumnar(v2.queryExecution.executedPlan),
      v2.queryExecution.executedPlan.toString)
  }

  test("vanilla-session DML on a RENAMED table stays exact (registry row-id scan, r15)") {
    val (t, dir) = freshTable("ren")
    main.sql(s"CREATE TABLE grlren_wh USING graft OPTIONS (path '$dir')")
    try main.sql("ALTER TABLE grlren_wh RENAME COLUMN v TO w")
    finally main.sql("DROP TABLE grlren_wh")
    // the vanilla UPDATE's source scan reads the renamed schema with
    // row ids — vectorized (registry + row-id composition)
    val upd = vanilla.sql(s"UPDATE $t SET w = w + 5 WHERE k % 4 = 1")
    val plan = upd.queryExecution.executedPlan
    assert(plan.toString.contains("rowIds=true") &&
      GraftV2BatchScan.readsColumnar(plan),
      s"the renamed row-id scan must vectorize:\n$plan")
    val r = vanilla.sql(s"SELECT sum(w) AS s, count(*) AS n FROM $t").head
    val expected = (0L until 1000L)
      .map(k => k * 2 + (if (k % 4 == 1) 5 else 0)).sum
    assert(r.getLong(1) === 1000 && r.getLong(0) === expected)
  }

  test("vanilla-session DML on an EQ-masked table: row-id scan stays vectorized (r15)") {
    val (t, dir) = freshTable("eqrid")
    // the upsert-ingest MOR state: an equality delete of 100 keys
    graft.table.Merge.mergeOnRead(main, dir,
      main.range(0, 1000).filter(col("id") % 10 === 6)
        .selectExpr("id AS k", "id * 2 AS v")
        .withColumn("_del", lit(true)), "k", deleteCol = Some("_del"))
    // the row-id + eq-mask composition must stay columnar — the scan
    // every vanilla DELETE/UPDATE/MERGE on this table reads through
    val probe = vanilla.sql(s"SELECT k, _graft_file, _graft_pos FROM $t")
    val pplan = probe.queryExecution.executedPlan
    assert(pplan.toString.contains("rowIds=true") &&
      pplan.toString.contains("eqMaskRows=100") &&
      GraftV2BatchScan.readsColumnar(pplan),
      s"the eq-masked row-id scan must vectorize:\n$pplan")
    val scans = pplan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
    assert(scans.nonEmpty && scans.forall(_.supportsColumnar),
      "the eq-masked row-id scan must read columnar")
    // surviving rows keep ORIGINAL ordinals even under the eq filter
    // (posdelete entries written against them must address the file)
    val trip = probe.collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(0))).sorted.toSeq
    val files = SnapshotLog.filesAt(vanilla, dir)
      .filter(f => f.kind == "data" && f.rows > 0).map(_.path)
    val expected = main.read.parquet(files: _*)
      .select(col("_metadata.file_path"), col("_metadata.row_index"), col("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .filterNot(_._3 % 10 == 6).sorted.toSeq
    assert(trip === expected,
      "eq-filtered row ids must keep original file ordinals")
    // the DML itself: a positional DELETE lands ON TOP of the eq mask
    vanilla.sql(s"DELETE FROM $t WHERE k % 9 = 4")
    val c = SnapshotLog.commits(vanilla, dir).last
    assert(c.op === "rowdelta", c.toString)
    val live = (0L until 1000L).filter(k => k % 10 != 6 && k % 9 != 4)
    val r = vanilla.sql(s"SELECT count(*) AS n, sum(v) AS s FROM $t").head
    assert((r.getLong(0), r.getLong(1)) === ((live.size.toLong, live.map(_ * 2).sum)))
    // and an UPDATE composes on the same state
    vanilla.sql(s"UPDATE $t SET v = 0 WHERE k % 7 = 1")
    val r2 = vanilla.sql(s"SELECT sum(v) AS s FROM $t").head
    assert(r2.getLong(0) === live.filterNot(_ % 7 == 1).map(_ * 2).sum)
  }

  test("mask load memoizes per posdelete set: re-planning runs zero jobs (r15)") {
    // masks load in the reading task, so no plan needs a memo: the
    // FIRST plan of a freshly DELETEd (positional) snapshot and of a
    // freshly mergeOnRead (equality) one runs zero jobs, and so does
    // re-planning either with a different query
    val (t, _) = freshTable("posplan")
    vanilla.sql(s"DELETE FROM $t WHERE k % 9 = 2")
    val (te, dire) = freshTable("eqplan")
    graft.table.Merge.mergeOnRead(main, dire,
      main.range(0, 1000).filter(col("id") % 10 === 6)
        .selectExpr("id AS k", "id * 2 AS v")
        .withColumn("_del", lit(true)), "k", deleteCol = Some("_del"))
    val sc = vanilla.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(j.stageInfos.map(si =>
            si.name + "@" + si.details.linesIterator.take(3).mkString("|"))
            .mkString(";")))
    }
    // one tagged job; the bus is FIFO, so once its start is seen every
    // earlier job's start has been delivered too
    def marker(tag: String): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1)).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!seen.contains(tag) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(seen.contains(tag), s"listener never saw the $tag marker")
    }
    sc.addSparkListener(listener)
    try {
      marker("before-plan")
      seen.clear()
      // first plans of each masked snapshot, the row-id face included,
      // then a re-plan of the positional one
      val plans = Seq(s"SELECT k FROM $t WHERE k < 10",
        s"SELECT v FROM $te WHERE k > 500",
        s"SELECT k, _graft_file, _graft_pos FROM $te",
        s"SELECT v FROM $t WHERE k > 500")
        .map(q => vanilla.sql(q).queryExecution.executedPlan)
      marker("after-plan")
      assert(seen.toArray.toSeq === Seq("after-plan"),
        "planning a masked read must run no Spark job (jobs: " +
          s"${seen.toArray.mkString(", ")})")
      // ...and each plan is the vectorized masked scan, not the bridge
      plans.foreach(p => assert(p.toString.contains("GraftBatchScan(") &&
        p.toString.contains("MaskFiles=") && GraftV2BatchScan.readsColumnar(p),
        p))
    } finally sc.removeSparkListener(listener)
    assert(vanilla.sql(s"SELECT count(*) FROM $t").head.getLong(0) ===
      (0L until 1000L).count(_ % 9 != 2))
    assert(vanilla.sql(s"SELECT count(*) FROM $te").head.getLong(0) === 900)
  }
}
