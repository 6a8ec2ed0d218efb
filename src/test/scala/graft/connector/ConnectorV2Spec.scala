package graft.connector

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.scalatest.funsuite.AnyFunSuite

import graft.Sessions
import graft.table.{Merge, SnapshotLog}

/** DataSourceV2 catalog face ([[GraftCatalog]]): TableCatalog lifecycle
  * (SHOW TABLES / SHOW CREATE / CREATE / RENAME / DROP), reads through
  * the vectorized batch scan (masks of any equality-key type, drifted
  * epochs), manifest FILE PRUNING from pushed V2 filters, and
  * COMPLETE aggregate pushdown answered from manifests alone — the
  * engine-contract replacement for the injected GraftMetadataAggRule
  * ordering dependence. Both faces share one log: a V1 `format("graft")`
  * writer lands commits the V2 catalog reads without coordination. */
class ConnectorV2Spec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local("4", "connector-v2-spec")

  private def freshWarehouse(tag: String): String = {
    val wh = java.nio.file.Files
      .createTempDirectory(s"graft-v2-$tag").toString
    spark.conf.set(s"spark.sql.catalog.gv2_$tag",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.gv2_$tag.warehouse", wh)
    wh
  }

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).select(col("id"), (col("id") * 2).as("v"))

  test("TableCatalog lifecycle: list, read, SHOW CREATE, create, rename, drop") {
    val wh = freshWarehouse("cat")
    rows(0, 100).coalesce(1).write.format("graft")
      .option("statsCols", "id").save(s"$wh/t1")
    assert(spark.sql("SHOW TABLES IN gv2_cat").collect()
      .map(_.getString(1)).toSet === Set("t1"))
    assert(spark.sql("SELECT * FROM gv2_cat.t1").count() === 100)
    assert(spark.sql("SELECT v FROM gv2_cat.t1 WHERE id = 7")
      .head.getLong(0) === 14)
    val ddl = spark.sql("SHOW CREATE TABLE gv2_cat.t1").head.getString(0)
    assert(ddl.contains("graft"), ddl)
    // CREATE through the catalog: empty, immediately readable, and the
    // V1 writer face lands commits the catalog sees (one shared log)
    spark.sql("CREATE TABLE gv2_cat.t2 (id BIGINT, v DOUBLE)")
    assert(spark.sql("SELECT count(*) FROM gv2_cat.t2").head.getLong(0) === 0)
    rows(0, 5).select(col("id"), col("v").cast("double").as("v"))
      .write.format("graft").mode("append").save(s"$wh/t2")
    assert(spark.sql("SELECT count(*) FROM gv2_cat.t2").head.getLong(0) === 5)
    intercept[Exception] { spark.sql("CREATE TABLE gv2_cat.t2 (x INT)") }
    // RENAME refuses loudly: manifests hold ABSOLUTE file paths, so a
    // directory move would strand every reference — a naive fs rename
    // left a table that listed but threw PATH_NOT_FOUND on first read
    val eRen = intercept[Exception] {
      spark.sql("ALTER TABLE gv2_cat.t2 RENAME TO t3") }
    assert(eRen.getMessage.contains("absolute data-file paths"),
      eRen.getMessage)
    assert(spark.sql("SELECT count(*) FROM gv2_cat.t2").head.getLong(0) === 5,
      "the refused rename must leave the table fully readable")
    // a path-escaping identifier must refuse before any fs operation
    val eEsc = intercept[Exception] {
      spark.sql("DROP TABLE gv2_cat.`../escape`") }
    assert(eEsc.getMessage.contains("must be 1-128 chars"), eEsc.getMessage)
    spark.sql("DROP TABLE gv2_cat.t2")
    assert(spark.sql("SHOW TABLES IN gv2_cat").collect()
      .map(_.getString(1)).toSet === Set("t1"))
  }

  test("complete aggregate pushdown: count/min/max from manifests, no data scan") {
    val wh = freshWarehouse("agg")
    rows(10, 1010).coalesce(2).write.format("graft")
      .option("statsCols", "id").save(s"$wh/t")
    val df = spark.sql(
      "SELECT count(*) AS n, min(id) AS lo, max(id) AS hi FROM gv2_agg.t")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftMetadataAggRelation"),
      s"aggregate must plan as the metadata scan, got:\n$plan")
    assert(!plan.toLowerCase.contains("parquet"), s"no file scan:\n$plan")
    val r = df.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((1000L, 10L, 1009L)))
    // a FILTERED aggregate must NOT push (residual filters bail) …
    val filtered = spark.sql(
      "SELECT count(*) FROM gv2_agg.t WHERE id < 500")
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("GraftMetadataAggRelation"))
    assert(filtered.head.getLong(0) === 490)
    // … and a MASKED table must not either (manifest rows ≠ logical rows)
    Merge.deleteWhere(spark, s"$wh/t", col("id") < 15)
    val masked = spark.sql("SELECT count(*) AS n, max(id) AS hi FROM gv2_agg.t")
    assert(!masked.queryExecution.executedPlan.toString
      .contains("GraftMetadataAggRelation"))
    assert((masked.head.getLong(0), masked.head.getLong(1)) === ((995L, 1009L)))
  }

  test("registry tables answer complete aggregate pushdown too (r15)") {
    val wh = freshWarehouse("regagg")
    val dir = s"$wh/t"
    rows(10, 1010).coalesce(2).write.format("graft")
      .option("statsCols", "id,v").save(dir)
    spark.sql(s"CREATE TABLE gv2regagg_wh USING graft OPTIONS (path '$dir')")
    try spark.sql("ALTER TABLE gv2regagg_wh RENAME COLUMN v TO w")
    finally spark.sql("DROP TABLE gv2regagg_wh")
    // min/max on the RENAMED column: file metadata keys are physical
    // (`v`), the aggregate speaks logical (`w`) — the answer must come
    // from manifests alone, translated through the pinned registry
    val df = spark.sql(
      "SELECT count(*) AS n, min(w) AS lo, max(w) AS hi FROM gv2_regagg.t")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftMetadataAggRelation"),
      s"renamed-table aggregate must plan as the metadata scan:\n$plan")
    val r = df.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((1000L, 20L, 2018L)))
    // a re-added NAMESAKE must NOT answer from the dead column's zones
    spark.sql(s"CREATE TABLE gv2regagg_wh2 USING graft OPTIONS (path '$dir')")
    try {
      spark.sql("ALTER TABLE gv2regagg_wh2 DROP COLUMN w")
      spark.sql("ALTER TABLE gv2regagg_wh2 ADD COLUMNS (w BIGINT)")
    } finally spark.sql("DROP TABLE gv2regagg_wh2")
    val r2 = spark.sql("SELECT count(*) AS n, max(w) AS hi FROM gv2_regagg.t").head
    assert(r2.getLong(0) === 1000 && r2.isNullAt(1),
      "the re-added namesake has no values — max must be NULL, never 2018")
  }

  test("pushed V2 filters prune files from manifest zones; results stay exact") {
    val wh = freshWarehouse("prune")
    val dir = s"$wh/t"
    // 4 range-clustered files with disjoint id zones
    for (b <- 0 until 4)
      rows(b * 1000L, (b + 1) * 1000L).coalesce(1).write.format("graft")
        .mode(if (b == 0) "error" else "append")
        .option("statsCols", "id").save(dir)
    // unit face: the builder's pruning decision is observable
    val sb = new GraftScanBuilder(spark, dir)
    sb.pushFilters(Array(
      sources.GreaterThanOrEqual("id", 2100L),
      sources.LessThan("id", 2200L)))
    sb.build() match {
      // mask-free single-epoch: the r13 FAST path — a real vectorized
      // parquet Batch, statically pruned from manifest zones
      case b: GraftV2BatchScan =>
        assert(b.description().contains("files=1"), b.description())
        assert(b.description().contains("pruned=3"), b.description())
      case other => fail(s"expected the batch scan, got $other")
    }
    // SQL face: same predicate, exact rows through the columnar scan
    val df = spark.sql("SELECT count(*) FROM gv2_prune.t " +
      "WHERE id >= 2100 AND id < 2200")
    assert(df.queryExecution.executedPlan.toString
      .contains("BatchScan"), df.queryExecution.executedPlan.toString)
    assert(df.head.getLong(0) === 100)
    // masks apply through the V2 read too
    Merge.mergeOnRead(spark, dir,
      spark.range(2100, 2105).select(col("id"), lit(true).as("del")),
      "id", deleteCol = Some("del"))
    assert(spark.sql("SELECT count(*) FROM gv2_prune.t " +
      "WHERE id >= 2100 AND id < 2200").head.getLong(0) === 95)
  }

  test("pushed timestamp filters before 1582 keep their file: literals convert calendar-exact") {
    val wh = freshWarehouse("oldts")
    // the writer records the zone in proleptic micros; Spark hands the
    // V2 filter a hybrid-calendar java.sql.Timestamp for the same instant
    spark.sql("SELECT 1L AS id, TIMESTAMP '1000-01-01 00:00:00' AS ts")
      .coalesce(1).write.format("graft").option("statsCols", "ts").save(s"$wh/t")
    val got = spark.sql("SELECT id FROM gv2_oldts.t " +
      "WHERE ts = TIMESTAMP '1000-01-01 00:00:00'")
    assert(got.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(got.collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("runtime filtering: a filtered dim join prunes fact FILES at execution") {
    val wh = freshWarehouse("dpp")
    import spark.implicits._
    // fact: 4 single-bucket files, each recording its partition-value set
    val fact = spark.range(0, 4000)
      .selectExpr("id", "CAST(id DIV 1000 AS STRING) AS bucket", "id * 2 AS v")
    for (b <- 0 until 4)
      fact.filter(col("bucket") === b.toString).coalesce(1)
        .write.format("graft").mode(if (b == 0) "error" else "append")
        .option("statsCols", "id").option("partitionCols", "bucket")
        .save(s"$wh/fact")
    Seq(("1", "busy"), ("0", "quiet"), ("2", "quiet"), ("3", "quiet"))
      .toDF("bucket", "tier").write.format("graft").save(s"$wh/dim")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = spark.sql(
        """SELECT f.bucket, count(*) AS n, sum(f.v) AS total
          |FROM gv2_dpp.fact f JOIN gv2_dpp.dim d ON f.bucket = d.bucket
          |WHERE d.tier = 'busy' GROUP BY f.bucket""".stripMargin)
      val plan = df.queryExecution.executedPlan
      // the fact's BatchScan carries a dynamic pruning subquery fed by
      // the dim's broadcast — the V2 SupportsRuntimeFiltering contract
      assert(plan.toString.toLowerCase.contains("dynamicpruning"),
        s"expected a runtime filter on the fact scan:\n$plan")
      val rows = df.collect()
      assert(rows.length === 1 &&
        rows.head.getString(0) === "1" && rows.head.getLong(1) === 1000L)
      // and it PRUNED: only the busy bucket's file was read
      val scans = plan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan }
        .collect { case g: GraftV2BatchScan => g }
      val factScan = scans.find(_.keptFiles.exists(_.rows >= 1000)).get
      assert(factScan.keptFiles.size === 1,
        s"runtime filter should keep 1 of 4 files: ${factScan.description()}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("V2 point lookup prunes files through manifest blooms") {
    val wh = freshWarehouse("vbloom")
    val dir = s"$wh/t"
    // 4 round-robin files: every file spans the whole id range (zones
    // can't prune) but each holds a disjoint residue class — only the
    // manifest BLOOM can prove absence
    for (r <- 0 until 4)
      rows(0, 4000).filter(pmod(col("id"), lit(4)) === r).coalesce(1)
        .write.format("graft").mode(if (r == 0) "error" else "append")
        .option("statsCols", "id").option("bloomCol", "id").save(dir)
    val sb = new GraftScanBuilder(spark, dir)
    sb.pushFilters(Array(sources.EqualTo("id", 17L)))
    sb.build() match {
      case b: GraftV2BatchScan =>
        assert(b.keptFiles.size < 4,
          s"bloom should prune zone-blind files: ${b.description()}")
      case other => fail(s"expected the batch scan, got $other")
    }
    assert(spark.sql("SELECT v FROM gv2_vbloom.t WHERE id = 17")
      .head.getLong(0) === 34)
  }

  test("storage-partitioned join: co-bucketed V2 tables join with zero exchange") {
    val wh = freshWarehouse("spj")
    import spark.implicits._
    // two tables bucketed the same way — CTAS face for one, writer
    // option face for the other (both declare durable bucket props)
    spark.sql("CREATE TABLE gv2_spj.a PARTITIONED BY (bucket(4, k)) " +
      "AS SELECT id AS k, id * 2 AS va FROM range(0, 1000)")
    spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS vb")
      .write.format("graft").option("bucketBy", "4,k").save(s"$wh/b")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.sql(
        """SELECT a.k, a.va, b.vb FROM gv2_spj.a a
          |JOIN gv2_spj.b b ON a.k = b.k""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"co-bucketed graft tables must join WITHOUT a shuffle:\n$plan")
      assert(df.count() === 1000)
      assert(df.filter(col("k") === 7).head.getLong(2) === 21)
      // correctness guard: the SPJ answer equals the plain shuffled join
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val shuffled = spark.sql(
        """SELECT a.k, a.va, b.vb FROM gv2_spj.a a
          |JOIN gv2_spj.b b ON a.k = b.k""".stripMargin)
      assert(df.exceptAll(shuffled).isEmpty && shuffled.exceptAll(df).isEmpty)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    // a table whose files DON'T provably hold one residue never reports
    // the layout: plain writes to a third table → UnknownPartitioning
    Seq((1L, 1L)).toDF("k", "v").write.format("graft").save(s"$wh/plain")
    val sb = new GraftScanBuilder(spark, s"$wh/plain")
    sb.build() match {
      case b: GraftV2BatchScan =>
        assert(b.outputPartitioning().isInstanceOf[
          org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning])
      case other => fail(s"expected the batch scan, got $other")
    }
    // SPJ composes with AQE and with a PARTIALLY-populated side: table p
    // holds only one residue class, so whole bucket groups are missing;
    // with pushPartValues the engine aligns/pads groups instead of
    // falling back to a shuffle, and AQE stays on (the production shape)
    spark.range(0, 1000).filter(pmod(col("id"), lit(4)) === 1)
      .selectExpr("id AS k", "id AS vp")
      .write.format("graft").option("bucketBy", "4,k").save(s"$wh/p")
    val confs2 = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev2 = confs2.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs2.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dfp = spark.sql(
        """SELECT a.k, a.va, p.vp FROM gv2_spj.a a
          |JOIN gv2_spj.p p ON a.k = p.k""".stripMargin)
      val rows = dfp.collect()
      assert(rows.length === 250 && rows.forall(_.getLong(0) % 4 == 1))
      val finalPlan = dfp.queryExecution.executedPlan.toString
      assert(!finalPlan.contains("Exchange"),
        s"partially-populated SPJ must not shuffle:\n$finalPlan")
    } finally prev2.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    // CREATE-then-INSERT: the zero-row schema carrier must not break the
    // manifest proof (carriers contribute nothing to any read)
    spark.sql("CREATE TABLE gv2_spj.c (k BIGINT, vc BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO gv2_spj.c SELECT id, id * 5 FROM range(0, 100)")
    new GraftScanBuilder(spark, s"$wh/c").build() match {
      case b: GraftV2BatchScan =>
        assert(b.outputPartitioning().isInstanceOf[
          org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning],
          b.description())
      case other => fail(s"expected the batch scan, got $other")
    }
    // a non-bucketable column type refuses at DECLARATION, both faces
    // (strings bucket through xxhash64 since r14 — doubles still can't)
    val eDecl = intercept[Exception] { spark.sql(
      "CREATE TABLE gv2_spj.bad (s DOUBLE) PARTITIONED BY (bucket(4, s))") }
    assert(eDecl.getMessage.contains("integral"), eDecl.getMessage)
    val eOpt = intercept[Exception] {
      Seq((1.5, 1L)).toDF("s", "v").write.format("graft")
        .option("bucketBy", "4,s").save(s"$wh/bad2") }
    assert(eOpt.getMessage.contains("integral"), eOpt.getMessage)
    // MAINTENANCE must not decay the layout: many small bucketed
    // appends, then OPTIMIZE — files shrink, the key-grouped proof
    // survives (bin-pack merges WITHIN buckets), and a conflicting
    // clusterBy refuses loudly
    for (i <- 0 until 6)
      spark.range(i * 50, (i + 1) * 50).selectExpr("id AS k", "id AS vd")
        .write.format("graft")
        .mode(if (i == 0) "error" else "append")
        .option("bucketBy", "4,k").save(s"$wh/d")
    val before = graft.table.SnapshotLog.filesAt(spark, s"$wh/d")
      .count(_.kind == "data")
    val res = graft.cdc.Compaction.compactDir(spark, s"$wh/d")
    assert(res.filesAfter < before, s"$res vs $before files")
    new GraftScanBuilder(spark, s"$wh/d").build() match {
      case b: GraftV2BatchScan =>
        assert(b.outputPartitioning().isInstanceOf[
          org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning],
          s"OPTIMIZE must keep the bucket proof: ${b.description()}")
      case other => fail(s"expected the batch scan, got $other")
    }
    val eCl = intercept[Exception] {
      graft.cdc.Compaction.compactDir(spark, s"$wh/d",
        clusterBy = Some("vd")) }
    assert(eCl.getMessage.contains("bucket-clustered"), eCl.getMessage)
    // THREE-WAY formula identity: the manifest recording expression,
    // the engine-facing ScalarFunction, and the writer's partitioner
    // all compute one bucket id — drift in any pair silently mis-joins
    // at scale, so pin it over a key grid including negatives
    val fn = GraftBucketFunction.bind(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType))))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
    for (n <- Seq(1, 3, 4, 8, 32)) {
      val keys = Seq(-1000003L, -7L, -1L, 0L, 1L, 17L, 63L, 1000000007L)
      val viaExpr = spark.createDataset(keys)(
          org.apache.spark.sql.Encoders.scalaLong).toDF("k")
        .select(expr(s"pmod(hash(pmod(CAST(k AS LONG), ${n}L)), $n)"))
        .collect().map(_.getInt(0)).toSeq
      val viaFn = keys.map(k => fn.produceResult(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](n, k))).intValue())
      assert(viaExpr == viaFn, s"n=$n expr=$viaExpr fn=$viaFn")
    }
    // COW DML keeps the proof too: the rewrite re-arranges by bucket
    spark.sql("UPDATE gv2_spj.d SET vd = 0 WHERE k = 3")
    assert(spark.sql("SELECT vd FROM gv2_spj.d WHERE k = 3")
      .head.getLong(0) === 0)
    new GraftScanBuilder(spark, s"$wh/d").build() match {
      case b: GraftV2BatchScan =>
        assert(b.outputPartitioning().isInstanceOf[
          org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning],
          s"COW DML must keep the bucket proof: ${b.description()}")
      case other => fail(s"expected the batch scan, got $other")
    }
  }

  test("SPJ survives positional masks: co-bucketed MOR tables join with zero exchange (r15)") {
    val wh = freshWarehouse("spjmor")
    spark.sql("CREATE TABLE gv2_spjmor.a PARTITIONED BY (bucket(4, k)) " +
      "AS SELECT id AS k, id * 2 AS va FROM range(0, 1000)")
    spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS vb")
      .write.format("graft").option("bucketBy", "4,k").save(s"$wh/b")
    // positional masks on BOTH sides — merge-on-read deletes between
    // compactions; membership is a pure function of the key, so the
    // key-grouped proof must survive
    Merge.deleteWhere(spark, s"$wh/a", col("k") % 10 === 3)
    Merge.deleteWhere(spark, s"$wh/b", col("k") % 10 === 7)
    assert(SnapshotLog.filesAt(spark, s"$wh/a").exists(_.kind == "posdelete"),
      "the delete must have landed as a positional mask")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.sql(
        """SELECT a.k, a.va, b.vb FROM gv2_spjmor.a a
          |JOIN gv2_spjmor.b b ON a.k = b.k""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"masked co-bucketed tables must join WITHOUT a shuffle:\n$plan")
      val got = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val expected = (0L until 1000L)
        .filterNot(k => k % 10 == 3 || k % 10 == 7)
        .map(k => (k, k * 2, k * 3)).sorted.toSeq
      assert(got === expected,
        "the zero-exchange join must see exactly the surviving rows")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("SPJ survives equality masks: eq-probed co-bucketed join, zero exchange (r15)") {
    val wh = freshWarehouse("spjeq")
    spark.sql("CREATE TABLE gv2_spjeq.a PARTITIONED BY (bucket(4, k)) " +
      "AS SELECT id AS k, id * 2 AS va FROM range(0, 1000)")
    spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS vb")
      .write.format("graft").option("bucketBy", "4,k").save(s"$wh/b")
    // an EQUALITY delete on one side (the upsert-ingest MOR state),
    // then a later re-insert of half the deleted keys — the seq rule
    // must keep exactly those; eq masks remove rows, never move them,
    // so the key-grouped proof must survive
    Merge.mergeOnRead(spark, s"$wh/a",
      spark.range(0, 1000).filter(col("id") % 10 === 3)
        .selectExpr("id AS k", "id * 2 AS va")
        .withColumn("_del", lit(true)), "k", deleteCol = Some("_del"))
    spark.range(0, 1000).filter(col("id") % 20 === 3)
      .selectExpr("id AS k", "id * 2 AS va")
      .write.format("graft").mode("append")
      .option("bucketBy", "4,k").save(s"$wh/a")
    assert(SnapshotLog.filesAt(spark, s"$wh/a").exists(_.kind == "eqdelete"),
      "the delete-only delta must have landed as an equality mask")
    new GraftScanBuilder(spark, s"$wh/a").build() match {
      case b: GraftV2BatchScan =>
        assert(b.description().contains("eqMaskRows=100"), b.description())
        assert(b.outputPartitioning().isInstanceOf[
          org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning],
          s"eq masks must not disable key-grouped reporting: ${b.description()}")
      case other => fail(s"expected the eq-masked batch scan, got $other")
    }
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.sql(
        """SELECT a.k, a.va, b.vb FROM gv2_spjeq.a a
          |JOIN gv2_spjeq.b b ON a.k = b.k""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"eq-masked co-bucketed tables must join WITHOUT a shuffle:\n$plan")
      val got = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val expected = (0L until 1000L)
        .filter(k => k % 10 != 3 || k % 20 == 3)
        .map(k => (k, k * 2, k * 3)).sorted.toSeq
      assert(got === expected,
        "the zero-exchange eq-probed join must see exactly the survivors")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    // projection that PRUNES the eq key: the bucketed masked read
    // appends the key to the inner scan and drops it after the probe
    val vaOnly = spark.sql("SELECT va FROM gv2_spjeq.a").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(vaOnly === (0L until 1000L)
      .filter(k => k % 10 != 3 || k % 20 == 3).map(_ * 2).sorted.toSeq)
  }

  test("temporal equality keys fold to internal domains and vectorize (r15)") {
    val wh = freshWarehouse("eqts")
    val dir = s"$wh/t"
    // one DATE and one TIMESTAMP column; the eq key is the TIMESTAMP
    spark.range(0, 500)
      .selectExpr("id",
        "date_add(DATE '2024-01-01', CAST(id % 50 AS INT)) AS d",
        "timestamp_seconds(1700000000 + id % 40 * 3600) AS ts")
      .coalesce(1).write.format("graft").option("statsCols", "id").save(dir)
    Merge.mergeOnRead(spark, dir,
      spark.range(0, 500).filter(col("id") % 40 < 5)
        .selectExpr("id",
          "date_add(DATE '2024-01-01', CAST(id % 50 AS INT)) AS d",
          "timestamp_seconds(1700000000 + id % 40 * 3600) AS ts")
        .withColumn("_del", lit(true)), "ts", deleteCol = Some("_del"))
    new GraftScanBuilder(spark, dir).build() match {
      case b: GraftV2BatchScan =>
        assert(b.description().contains("eqMaskRows=5"), b.description())
      case other => fail(s"timestamp eq keys must vectorize, got $other")
    }
    val df = spark.sql("SELECT count(*) AS n, sum(id) AS s FROM gv2_eqts.t")
    val live = (0L until 500L).filterNot(_ % 40 < 5)
    val r = df.collect()(0)
    assert((r.getLong(0), r.getLong(1)) === ((live.size.toLong, live.sum)))
    assert(GraftV2BatchScan.readsColumnar(df.queryExecution.executedPlan))
    // a DATE-keyed mask folds to epoch days the same way
    val dir2 = s"$wh/t2"
    spark.range(0, 300)
      .selectExpr("id", "date_add(DATE '2024-03-01', CAST(id % 30 AS INT)) AS d")
      .coalesce(1).write.format("graft").option("statsCols", "id").save(dir2)
    Merge.mergeOnRead(spark, dir2,
      spark.range(0, 300).filter(col("id") % 30 >= 27)
        .selectExpr("id", "date_add(DATE '2024-03-01', CAST(id % 30 AS INT)) AS d")
        .withColumn("_del", lit(true)), "d", deleteCol = Some("_del"))
    new GraftScanBuilder(spark, dir2).build() match {
      case b: GraftV2BatchScan =>
        assert(b.description().contains("eqMaskRows=3"), b.description())
      case other => fail(s"date eq keys must vectorize, got $other")
    }
    assert(spark.sql("SELECT count(*) FROM gv2_eqts.t2").head.getLong(0)
      === (0L until 300L).count(_ % 30 < 27))
  }

  test("unbucketed INSERT INTO takes the real V2 write: inline stats match the V1 writer (r15)") {
    val wh = freshWarehouse("uw")
    import spark.implicits._
    val dir = s"$wh/t"
    // seed through the V1 writer with the full metadata surface
    spark.range(0, 100).selectExpr("id", "id * 2 AS v",
      "CASE WHEN id < 50 THEN 'a' ELSE 'b' END AS ds")
      .coalesce(1).write.format("graft").option("statsCols", "id,v")
      .option("bloomCol", "id").option("partitionCols", "ds").save(dir)
    // the INSERT INTO through the V2 catalog must be a REAL engine-
    // planned write (AppendDataExec, never the V1 fallback)
    spark.range(100, 200).selectExpr("id", "id * 2 AS v", "'b' AS ds")
      .coalesce(1).createOrReplaceTempView("gv2_uw_src")
    val ins = spark.sql("INSERT INTO gv2_uw.t SELECT * FROM gv2_uw_src")
    val insPlan = ins.queryExecution.executedPlan.toString
    assert(insPlan.contains("GraftBucketWrite") &&
        insPlan.contains("unbucketed") && !insPlan.contains("GraftV1Write"),
      s"unbucketed INSERT must take the real V2 write:\n$insPlan")
    // manifest-stats PARITY: the same single-partition frame written
    // through the V1 path must record byte-identical pruning metadata
    spark.range(100, 200).selectExpr("id", "id * 2 AS v", "'b' AS ds")
      .coalesce(1).write.format("graft").option("statsCols", "id,v")
      .option("bloomCol", "id").option("partitionCols", "ds")
      .mode("append").save(s"$wh/twin")
    def lastAdded(d: String) =
      SnapshotLog.commits(spark, d).last.added.filter(_.rows > 0)
    val (v2f, v1f) = (lastAdded(dir), lastAdded(s"$wh/twin"))
    assert(v2f.size === 1 && v1f.size === 1, (v2f, v1f).toString)
    assert(v2f.head.stats === v1f.head.stats, "zone parity")
    assert(v2f.head.blooms === v1f.head.blooms, "bloom parity")
    assert(v2f.head.parts === v1f.head.parts, "partition-value parity")
    assert(v2f.head.nulls === v1f.head.nulls, "null-count parity")
    assert(v2f.head.rows === 100 && v2f.head.rows === v1f.head.rows)
    // the written table answers exactly, pruning included
    assert(spark.sql("SELECT count(*) FROM gv2_uw.t").head.getLong(0) === 200)
    assert(spark.sql("SELECT v FROM gv2_uw.t WHERE id = 150")
      .head.getLong(0) === 300)
    // V2-native replaceWhere on the unbucketed real-write table: swap
    // the 'a' slice atomically, reject out-of-slice rows in the task
    spark.range(0, 5).selectExpr("id + 5000 AS id", "id AS v", "'a' AS ds")
      .writeTo("gv2_uw.t").overwrite(col("ds") === "a")
    assert(spark.sql("SELECT count(*), min(id) FROM gv2_uw.t WHERE ds = 'a'")
      .head.toSeq === Seq(5L, 5000L))
    val e = intercept[Exception] {
      spark.range(0, 2).selectExpr("id", "id AS v", "'b' AS ds")
        .writeTo("gv2_uw.t").overwrite(col("ds") === "a") }
    assert(e.getMessage.contains("do NOT satisfy"), e.getMessage)
    // zero-row INSERT OVERWRITE still truncates and keeps the schema
    spark.sql("INSERT OVERWRITE gv2_uw.t " +
      "SELECT * FROM gv2_uw_src WHERE id < 0")
    assert(spark.sql("SELECT count(*) FROM gv2_uw.t").head.getLong(0) === 0)
    assert(spark.table("gv2_uw.t").columns.toSeq === Seq("id", "v", "ds"))
  }

  test("decimal zones and date partitions take the real write in CTAS and INSERT") {
    val wh = freshWarehouse("wide")
    val cat = spark.sessionState.catalogManager.catalog("gv2_wide")
      .asInstanceOf[GraftCatalog]
    def src(lo: Long, hi: Long) = spark.range(lo, hi).selectExpr("id",
      "CAST(id * -1.25 AS DECIMAL(12,2)) AS m",
      "date_add(DATE '2024-03-01', CAST(id % 3 AS INT)) AS dt").coalesce(1)
    val props = new java.util.HashMap[String, String]()
    props.put("statsCols", "id,m")
    props.put("partitionCols", "dt")
    // the staged CTAS table declares no V1 write and builds the real one
    val staged = cat.stageCreate(
      org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, "probe"),
      src(0, 1).schema, Array.empty, props)
    try {
      assert(!staged.capabilities().contains(
        org.apache.spark.sql.connector.catalog.TableCapability.V1_BATCH_WRITE))
      val w = staged.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
        .newWriteBuilder(null).build()
      assert(w.toString.contains("GraftBucketWrite"), w.toString)
    } finally staged.abortStagedChanges()
    def lastAdded(d: String) =
      SnapshotLog.commits(spark, d).last.added.filter(_.rows > 0)
    def meta(f: SnapshotLog.DataFile) =
      (f.rows, f.stats.get("id"), f.stats, f.nulls, f.parts, f.blooms)
    // CTAS: manifest metadata equals writeData's for the same frame
    src(0, 100).createOrReplaceTempView("gv2_wide_a")
    spark.sql("CREATE TABLE gv2_wide.t TBLPROPERTIES ('statsCols' = 'id,m', " +
      "'partitionCols' = 'dt') AS SELECT * FROM gv2_wide_a")
    SnapshotLog.commit(spark, s"$wh/twin", "append", SnapshotLog.writeData(
      src(0, 100), s"$wh/twin", statsCols = Seq("id", "m"),
      partitionCols = Seq("dt")))
    val (c2, c1) = (lastAdded(s"$wh/t"), lastAdded(s"$wh/twin"))
    assert(c2.size === 1 && c1.size === 1, (c2, c1).toString)
    assert(meta(c2.head) === meta(c1.head))
    assert(c2.head.stats.get("m") === Some((-123L, 0L)), c2.head.stats.toString)
    assert(c2.head.parts("dt") === Seq("2024-03-01", "2024-03-02", "2024-03-03"))
    // INSERT: the inherited decimal zone and date partition keep the
    // table on the real write (no V1_BATCH_WRITE, no V1 fallback exec)
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, "t")
    assert(!cat.loadTable(ident).capabilities().contains(
      org.apache.spark.sql.connector.catalog.TableCapability.V1_BATCH_WRITE))
    src(100, 200).createOrReplaceTempView("gv2_wide_b")
    val ins = spark.sql("INSERT INTO gv2_wide.t SELECT * FROM gv2_wide_b")
    val insPlan = ins.queryExecution.executedPlan.toString
    assert(insPlan.contains("GraftBucketWrite") && !insPlan.contains("GraftV1Write"),
      s"the INSERT must take the real V2 write:\n$insPlan")
    SnapshotLog.commit(spark, s"$wh/twin", "append", SnapshotLog.writeData(
      src(100, 200), s"$wh/twin", statsCols = Seq("id", "m"),
      partitionCols = Seq("dt")))
    val (i2, i1) = (lastAdded(s"$wh/t"), lastAdded(s"$wh/twin"))
    assert(i2.size === 1 && i1.size === 1, (i2, i1).toString)
    assert(meta(i2.head) === meta(i1.head))
    assert(i2.head.stats.get("m") === Some((-248L, -125L)), i2.head.stats.toString)
    assert(spark.sql("SELECT count(*) FROM gv2_wide.t WHERE dt = DATE '2024-03-02'")
      .head.getLong(0) === (0 until 200).count(_ % 3 == 1))
  }

  test("engine-planned bucket write: INSERT reports the layout, files stay single-id") {
    val wh = freshWarehouse("dwr")
    spark.sql("CREATE TABLE gv2_dwr.t (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    // the write DECLARES clustered(bucket(4, k)): V2Writes resolves the
    // transform through the catalog's bucket function and plans the
    // exchange — the insert's own plan must carry it (no writer-internal
    // repartition anywhere on this path)
    val ins = spark.sql(
      "INSERT INTO gv2_dwr.t SELECT id, id * 7 FROM range(0, 1000)")
    val insPlan = ins.queryExecution.executedPlan.toString
    assert(insPlan.toLowerCase.contains("bucket"),
      s"the insert must shuffle by the DECLARED bucket transform:\n$insPlan")
    // fanout split: every written file provably holds ONE bucket id and
    // is stamped key-sorted; one file per bucket (engine clustered)
    val files = graft.table.SnapshotLog.filesAt(spark, s"$wh/t")
      .filter(f => f.kind == "data" && f.rows > 0)
    val key = graft.table.SnapshotLog.bucketPartKey(4, "k")
    assert(files.nonEmpty && files.forall(_.parts.get(key).exists(_.size == 1)),
      files.map(_.parts).toString)
    assert(files.map(_.parts(key).head).distinct.size === files.size,
      s"engine-clustered insert writes ONE file per bucket: ${files.size}")
    assert(files.forall(_.sortedBy.contains("k")), files.map(_.sortedBy).toString)
    // the layout the write produced is the one the scan reports
    new GraftScanBuilder(spark, s"$wh/t").build() match {
      case b: GraftV2BatchScan =>
        assert(b.outputPartitioning().isInstanceOf[
          org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning],
          b.description())
        assert(b.outputOrdering().nonEmpty,
          "single-file sorted buckets must report ordering")
      case other => fail(s"expected the batch scan, got $other")
    }
    // answers stay exact through the engine-planned path
    assert(spark.sql("SELECT sum(v) FROM gv2_dwr.t").head.getLong(0) ===
      (0L until 1000L).map(_ * 7).sum)
    assert(spark.sql("SELECT v FROM gv2_dwr.t WHERE k = 13").head.getLong(0) === 91)
    // INSERT OVERWRITE rides the same real write: one atomic
    // whole-live-set replacement, the layout intact after the swap
    spark.sql("INSERT OVERWRITE gv2_dwr.t SELECT id, id FROM range(0, 200)")
    assert(spark.sql("SELECT count(*), sum(v) FROM gv2_dwr.t").head.toSeq ===
      Seq(200L, (0L until 200L).sum))
    val owFiles = graft.table.SnapshotLog.filesAt(spark, s"$wh/t")
      .filter(f => f.kind == "data" && f.rows > 0)
    assert(owFiles.nonEmpty &&
      owFiles.forall(_.parts.get(key).exists(_.size == 1)),
      s"the overwrite must keep the bucket layout: ${owFiles.map(_.parts)}")
    // pre-overwrite snapshots stay travelable
    assert(spark.read.format("graft").option("versionAsOf", "2")
      .load(s"$wh/t").count() === 1000)
  }

  test("sorted buckets: the co-located SMJ drops its per-task Sort") {
    val wh = freshWarehouse("sort")
    import spark.implicits._
    spark.range(0, 2000).selectExpr("id AS k", "id * 2 AS va")
      .write.format("graft").option("bucketBy", "4,k").save(s"$wh/a")
    spark.range(0, 2000).selectExpr("id AS k", "id * 3 AS vb")
      .write.format("graft").option("bucketBy", "4,k").save(s"$wh/b")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.sql(
        s"""SELECT a.k, a.va, b.vb FROM gv2_sort.a a
           |JOIN gv2_sort.b b ON a.k = b.k""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"zero-exchange:\n$plan")
      // the r14 claim: manifest-stamped single-file sorted buckets
      // satisfy the SMJ's ordering requirement — NO Sort node at all
      assert(!plan.contains("Sort "),
        s"sorted buckets must drop the per-task Sort:\n$plan")
      assert(df.count() === 2000)
      assert(df.filter(col("k") === 42).head.getLong(2) === 126)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    // a MULTI-file bucket group never claims ordering (concatenation of
    // two sorted files is not sorted): append a second batch to one
    // bucket layout and the ordering report must drop while the
    // key-grouped report survives
    spark.range(2000, 2400).selectExpr("id AS k", "id * 2 AS va")
      .write.format("graft").mode("append")
      .option("bucketBy", "4,k").save(s"$wh/a")
    new GraftScanBuilder(spark, s"$wh/a").build() match {
      case b: GraftV2BatchScan =>
        assert(b.outputPartitioning().isInstanceOf[
          org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning])
        assert(b.outputOrdering().isEmpty,
          "two files per bucket must not report sorted")
      case other => fail(s"expected the batch scan, got $other")
    }
  }

  test("string bucket keys: uuid-keyed tables co-locate; formula identity holds") {
    val wh = freshWarehouse("sbk")
    import spark.implicits._
    // string keys derived from ids (uuid-ish), same key set both sides
    spark.range(0, 1000).selectExpr("concat('user-', id) AS k", "id AS va")
      .write.format("graft").option("bucketBy", "4,k").save(s"$wh/a")
    spark.range(0, 1000).selectExpr("concat('user-', id) AS k", "id * 3 AS vb")
      .write.format("graft").option("bucketBy", "4,k").save(s"$wh/b")
    // every file holds ONE hashed-residue id, stamped sorted by key
    val key = graft.table.SnapshotLog.bucketPartKey(4, "k")
    val files = graft.table.SnapshotLog.filesAt(spark, s"$wh/a")
      .filter(f => f.kind == "data" && f.rows > 0)
    assert(files.nonEmpty && files.forall(_.parts.get(key).exists(_.size == 1)))
    assert(files.forall(_.sortedBy.contains("k")))
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.sql(
        """SELECT a.k, a.va, b.vb FROM gv2_sbk.a a
          |JOIN gv2_sbk.b b ON a.k = b.k""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"),
        s"co-bucketed STRING-keyed tables must join without a shuffle:\n$plan")
      assert(df.count() === 1000)
      assert(df.filter(col("k") === "user-7").head.getLong(2) === 21)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    // THREE-WAY formula identity for the STRING branch: manifest
    // recording expression == ScalarFunction == writer partitioner,
    // including the null key (xxhash64(NULL) = seed 42)
    val fn = GraftBucketFunction.bind(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType))))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
    for (n <- Seq(1, 4, 8, 32)) {
      val keys = Seq("", "a", "user-7", "ед-юникод", "x" * 100)
      val viaExpr = keys.toDF("k")
        .select(expr(s"pmod(hash(pmod(xxhash64(k), ${n}L)), $n)"))
        .collect().map(_.getInt(0)).toSeq
      val viaFn = keys.map(k => fn.produceResult(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](n, org.apache.spark.unsafe.types.UTF8String.fromString(k))))
        .intValue())
      assert(viaExpr == viaFn, s"n=$n expr=$viaExpr fn=$viaFn")
      val nullViaExpr = spark.sql(
        s"SELECT pmod(hash(pmod(xxhash64(CAST(NULL AS STRING)), ${n}L)), $n)")
        .head.getInt(0)
      val nullViaFn = fn.produceResult(
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](n, null))).intValue()
      assert(nullViaExpr === nullViaFn, s"null key at n=$n")
    }
  }

  test("multi-level namespaces: lifecycle, nested tables, flat tables unchanged") {
    val wh = freshWarehouse("ns")
    // flat table at the root — must stay reachable throughout
    rows(0, 5).write.format("graft").save(s"$wh/flat")
    assert(spark.sql("SELECT count(*) FROM gv2_ns.flat").head.getLong(0) === 5)
    spark.sql("CREATE NAMESPACE gv2_ns.raw")
    spark.sql("CREATE NAMESPACE gv2_ns.raw.events")
    assert(spark.sql("SHOW NAMESPACES IN gv2_ns").collect()
      .map(_.getString(0)).toSet === Set("raw"))
    assert(spark.sql("SHOW NAMESPACES IN gv2_ns.raw").collect()
      .map(_.getString(0)).contains("raw.events"))
    // tables nest: CTAS into a namespace, listed there, DML works
    spark.sql("CREATE TABLE gv2_ns.raw.orders AS SELECT id, id * 2 AS v " +
      "FROM range(0, 10)")
    assert(spark.sql("SHOW TABLES IN gv2_ns.raw").collect()
      .map(_.getString(1)).toSet === Set("orders"))
    spark.sql("INSERT INTO gv2_ns.raw.orders VALUES (10, 20)")
    spark.sql("DELETE FROM gv2_ns.raw.orders WHERE id = 0")
    assert(spark.sql("SELECT count(*) FROM gv2_ns.raw.orders")
      .head.getLong(0) === 10)
    // the root listing shows only root tables (namespaces are not tables)
    assert(spark.sql("SHOW TABLES IN gv2_ns").collect()
      .map(_.getString(1)).toSet === Set("flat"))
    // a table in a non-existent namespace refuses loudly
    val eNs = intercept[Exception] {
      spark.sql("CREATE TABLE gv2_ns.nope.t (x INT)") }
    assert(eNs.getMessage.contains("does not exist") ||
      eNs.getMessage.toLowerCase.contains("namespace"), eNs.getMessage)
    // COLLISION gates: a table can never occupy a namespace directory
    // (DROP TABLE would recursively delete the subtree) and vice versa
    val eTbl = intercept[Exception] {
      spark.sql("CREATE TABLE gv2_ns.raw (x INT)") }
    assert(eTbl.getMessage.contains("NAMESPACE"), eTbl.getMessage)
    val eTbl2 = intercept[Exception] {
      spark.sql("CREATE TABLE gv2_ns.raw AS SELECT 1 AS x") }
    assert(eTbl2.getMessage.contains("NAMESPACE"), eTbl2.getMessage)
    val eNs2 = intercept[Exception] {
      spark.sql("CREATE NAMESPACE gv2_ns.flat") }
    assert(eNs2.getMessage.contains("TABLE"), eNs2.getMessage)
    // a typo'd namespace is an ERROR, not an empty listing
    intercept[Exception] { spark.sql("SHOW TABLES IN gv2_ns.nope") }
    // DROP refuses while non-empty, cascades when asked
    intercept[Exception] { spark.sql("DROP NAMESPACE gv2_ns.raw") }
    spark.sql("DROP NAMESPACE gv2_ns.raw CASCADE")
    assert(spark.sql("SHOW NAMESPACES IN gv2_ns").collect().isEmpty)
    assert(spark.sql("SELECT count(*) FROM gv2_ns.flat").head.getLong(0) === 5)
  }

  test("V2 time travel: VERSION AS OF id and tag pin the snapshot") {
    val wh = freshWarehouse("tt")
    val dir = s"$wh/t"
    rows(0, 50).coalesce(1).write.format("graft")
      .option("statsCols", "id").save(dir)
    SnapshotLog.tag(spark, dir, "first", 1L)
    rows(50, 80).coalesce(1).write.format("graft").mode("append")
      .option("statsCols", "id").save(dir)
    assert(spark.sql("SELECT count(*) FROM gv2_tt.t").head.getLong(0) === 80)
    assert(spark.sql("SELECT count(*) FROM gv2_tt.t VERSION AS OF 1")
      .head.getLong(0) === 50)
    assert(spark.sql("SELECT count(*) FROM gv2_tt.t VERSION AS OF 'first'")
      .head.getLong(0) === 50)
    assert(spark.sql(
      "SELECT count(*) FROM gv2_tt.t TIMESTAMP AS OF '2099-01-01 00:00:00'")
      .head.getLong(0) === 80)
  }

  test("LIMIT prunes files by manifest row counts on mask-free tables") {
    val wh = freshWarehouse("limit")
    val dir = s"$wh/t"
    for (b <- 0 until 4)
      rows(b * 1000L, (b + 1) * 1000L).coalesce(1).write.format("graft")
        .mode(if (b == 0) "error" else "append")
        .option("statsCols", "id").save(dir)
    val sb = new GraftScanBuilder(spark, dir)
    assert(!sb.pushLimit(10), "partial pushdown: the engine keeps its Limit")
    sb.build() match {
      case b: GraftV2BatchScan =>
        assert(b.description().contains("files=1"), b.description())
        assert(b.description().contains("pruned=3"), b.description())
      case other => fail(s"expected the batch scan, got $other")
    }
    assert(spark.sql("SELECT * FROM gv2_limit.t LIMIT 10").count() === 10)
    assert(spark.sql("SELECT count(*) FROM (SELECT * FROM gv2_limit.t LIMIT 3500) s")
      .head.getLong(0) === 3500, "a limit spanning files keeps enough of them")
    // masked tables never limit-prune (manifest rows ≠ logical rows):
    // since r14 a positional mask stays on the batch scan, but the
    // LIMIT must not have dropped files
    Merge.deleteWhere(spark, dir, col("id") < 5)
    val sb2 = new GraftScanBuilder(spark, dir)
    sb2.pushLimit(10)
    sb2.build() match {
      case b: GraftV2BatchScan =>
        assert(b.description().contains("files=4"), b.description())
        assert(b.description().contains("pruned=0"), b.description())
        assert(b.description().contains("posMaskRows=5"), b.description())
      case other => fail(s"expected the masked batch scan, got $other")
    }
    assert(spark.sql("SELECT count(*) FROM (SELECT * FROM gv2_limit.t LIMIT 4000) s")
      .head.getLong(0) === 3995, "the limit-capped masked read sees logical rows")
  }

  test("vectorized masked read: positional masks stay on the columnar fast path") {
    val wh = freshWarehouse("mor")
    val dir = s"$wh/t"
    // 4 range-clustered files; positions will mask rows in TWO of them
    for (b <- 0 until 4)
      rows(b * 1000L, (b + 1) * 1000L).coalesce(1).write.format("graft")
        .mode(if (b == 0) "error" else "append")
        .option("statsCols", "id").save(dir)
    Merge.deleteWhere(spark, dir, col("id") % 10 === 3 && col("id") < 2000)
    // builder face: the scan is the BATCH scan with per-file masks, not
    // the Row bridge — the r13 `weak` flag's exact fix
    val sb = new GraftScanBuilder(spark, dir)
    sb.build() match {
      case b: GraftV2BatchScan =>
        assert(b.description().contains("filesWithMasks=2"), b.description())
        assert(b.description().contains("posMaskRows=200"), b.description())
        val st = b.estimateStatistics()
        assert(st.numRows().getAsLong === 3800,
          "CBO rows = manifest rows minus recorded mask debt")
      case other => fail(s"expected the masked batch scan, got $other")
    }
    // plan face: a real columnar BatchScan (ColumnarToRow on top)
    val df = spark.sql(
      "SELECT count(*) AS n, sum(id) AS s FROM gv2_mor.t")
    val expectedSum = (0L until 4000L)
      .filterNot(i => i % 10 == 3 && i < 2000).sum
    val r = df.collect()(0) // collect (not head): finalizes the AQE plan
    assert((r.getLong(0), r.getLong(1)) === ((3800L, expectedSum)))
    // the EXECUTED (AQE-final) plan: a real columnar BatchScan consumed
    // through ColumnarToRow
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("ColumnarToRow"),
      s"masked read must stay columnar:\n$plan")
    assert(GraftV2BatchScan.readsColumnar(plan), s"no Row path:\n$plan")
    // column pruning + residual filters compose with the mask filter
    val f = spark.sql("SELECT v FROM gv2_mor.t WHERE id >= 1990 AND id < 2010")
    assert(f.collect().map(_.getLong(0)).sorted.toSeq ===
      (1990L until 2010L).filterNot(i => i % 10 == 3 && i < 2000)
        .map(_ * 2).sorted.toSeq)
    // a RE-INSERT after the delete is untouched: positions address the
    // files they were recorded against, never the new file
    rows(3, 4).coalesce(1).write.format("graft").mode("append")
      .option("statsCols", "id").save(dir)
    assert(spark.sql("SELECT count(*) FROM gv2_mor.t WHERE id = 3")
      .head.getLong(0) === 1)
    // an ALL-ROWS-MASKED file still reads correctly (empty batches)
    Merge.deleteWhere(spark, dir, col("id") >= 3000 && col("id") < 4000)
    assert(spark.sql("SELECT count(*) FROM gv2_mor.t").head.getLong(0) === 2801)
    // SnapshotLog's merge-on-read plan answers identically: the
    // vectorized mask path may only change the PLAN, never the answer
    assert(new GraftScanBuilder(spark, dir).build().isInstanceOf[GraftV2BatchScan],
      "growing mask debt stays on the vectorized scan")
    assert(SnapshotLog.read(spark, dir).get.count() === 2801)
    // EQUALITY masks vectorize too (the reading task folds its candidate
    // mask files to key → max delete seq)
    Merge.mergeOnRead(spark, dir,
      rows(100, 110).withColumn("_del", lit(true)), "id",
      deleteCol = Some("_del"))
    val sb3 = new GraftScanBuilder(spark, dir)
    sb3.build() match {
      case b: GraftV2BatchScan =>
        assert(b.description().contains("eqMaskRows=10"), b.description())
      case other => fail(s"expected the eq-masked batch scan, got $other")
    }
    // 9 live rows leave (key 103 was already positionally deleted)
    assert(spark.sql("SELECT count(*) FROM gv2_mor.t").head.getLong(0) === 2792)
  }

  test("a runtime-filtered re-plan of a masked scan reads only the pruned files") {
    val wh = freshWarehouse("morrt")
    val dir = s"$wh/t"
    for (b <- 0 until 4)
      rows(b * 1000L, (b + 1) * 1000L).coalesce(1).write.format("graft")
        .mode(if (b == 0) "error" else "append")
        .option("statsCols", "id").save(dir)
    Merge.deleteWhere(spark, dir, col("id") % 10 === 3 && col("id") < 2000)
    val scan = new GraftScanBuilder(spark, dir).build().asInstanceOf[GraftV2BatchScan]
    def fileOf(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    // masked partitions wrap the single-file partition the reader consumes
    def planned: Set[String] = scan.planInputPartitions().toSeq.flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition => Seq(fp)
      case wrapped: Product => wrapped.productIterator.collect {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp }
    }.flatMap(_.files.map(f => fileOf(f.filePath.toString))).toSet
    def kept: Set[String] = scan.keptFiles.map(f => fileOf(f.path)).toSet
    assert(kept.size === 4 && planned === kept)
    assert(scan.createReaderFactory() != null)
    // one masked file (ids 1000..1999) and one plain file (3000..3999)
    scan.filter(Array[sources.Filter](sources.In("id", Array[Any](1500L, 3500L))))
    assert(kept.size === 2 && planned === kept, scan.description())
    // only the masked file: the re-plan must not serve the earlier batch
    scan.filter(Array[sources.Filter](sources.EqualTo("id", 1500L)))
    assert(kept.size === 1 && planned === kept, scan.description())
    assert(scan.description().contains("rtPruned=3"), scan.description())
    // a filter that prunes nothing keeps the same plan
    scan.filter(Array[sources.Filter](sources.GreaterThanOrEqual("id", 0L)))
    assert(kept.size === 1 && planned === kept)
  }

  test("each data file is handed exactly the mask files that can hit it") {
    val wh = freshWarehouse("cand")
    val dir = s"$wh/t"
    // 4 range-clustered files with id zones
    for (b <- 0 until 4)
      rows(b * 1000L, (b + 1) * 1000L).coalesce(1).write.format("graft")
        .mode(if (b == 0) "error" else "append")
        .option("statsCols", "id").save(dir)
    val Seq(f0, f1, f2, f3) = SnapshotLog.filesAt(spark, dir).sortBy(_.stats("id")._1)
    // a DELETE touching files 0 and 1: its manifest names both
    Merge.deleteWhere(spark, dir, col("id") % 10 === 3 && col("id") < 2000)
    // an equality delete whose key zone [2500, 3450] overlaps files 2, 3
    Merge.mergeOnRead(spark, dir,
      rows(2500, 3500).filter(col("id") % 50 === 0).withColumn("_del", lit(true)),
      "id", deleteCol = Some("_del"))
    // a positional mask in the shape written before posdelete manifests
    // recorded their `_graft_file` set: it names file 3, says nothing
    val legacy = SnapshotLog.writeData(spark.read.parquet(f3.path)
        .select(col("_metadata.file_path").as(SnapshotLog.PosFileCol),
          col("_metadata.row_index").as(SnapshotLog.PosOrdCol))
        .filter(col(SnapshotLog.PosOrdCol) < 10).coalesce(1),
      dir, kind = "posdelete", rawPhysical = true)
    assert(legacy.forall(_.parts.isEmpty))
    SnapshotLog.commit(spark, dir, "rowdelta", legacy)
    // a re-insert, younger than every mask
    rows(3, 4).coalesce(1).write.format("graft").mode("append")
      .option("statsCols", "id").save(dir)
    val live = SnapshotLog.filesAt(spark, dir)
    val Seq(named) = live.filter(f => f.kind == "posdelete" && f.parts.nonEmpty)
    val Seq(eq) = live.filter(_.kind == "eqdelete")
    val Seq(reinsert) = live.filter(f => f.kind == "data" && f.rows == 1)
    val scan = new GraftScanBuilder(spark, dir).build().asInstanceOf[GraftV2BatchScan]
    val handed = scan.fileSpecs.map(s =>
      s.path -> ((s.posMasks.map(_.path).toSet, s.eqMasks.map(_.path).toSet))).toMap
    val l = legacy.head.path
    assert(handed === Map(
      f0.path -> ((Set(named.path, l), Set.empty[String])),
      f1.path -> ((Set(named.path, l), Set.empty[String])),
      f2.path -> ((Set(l), Set(eq.path))),
      f3.path -> ((Set(l), Set(eq.path))),
      reinsert.path -> ((Set.empty[String], Set.empty[String]))))
    assert(scan.description().contains("filesWithMasks=4"), scan.description())
    // the answers equal SnapshotLog's merge-on-read plan
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = sorted(spark.sql("SELECT * FROM gv2_cand.t"))
    assert(got === sorted(SnapshotLog.read(spark, dir).get))
    val survivors = (0L until 4000L).filterNot(i => (i % 10 == 3 && i < 2000) ||
      (i >= 2500 && i < 3500 && i % 50 == 0) || (i >= 3000 && i < 3010)) :+ 3L
    assert(got === survivors.map(i => (i, i * 2)).sorted)
  }

  test("vectorized equality-mask read: seq rule, re-inserts and budget fallback (r15)") {
    val wh = freshWarehouse("eqv")
    val dir = s"$wh/t"
    for (b <- 0 until 3)
      rows(b * 1000L, (b + 1) * 1000L).coalesce(1).write.format("graft")
        .mode(if (b == 0) "error" else "append")
        .option("statsCols", "id").save(dir)
    // equality delete of 200 keys (mergeOnRead delete-only delta)
    Merge.mergeOnRead(spark, dir,
      rows(0, 3000).filter(col("id") % 15 === 2).withColumn("_del", lit(true)),
      "id", deleteCol = Some("_del"))
    // RE-INSERT 30 of the deleted keys in a LATER commit: the seq rule
    // (del_seq <= file_seq keeps) must let exactly those survive
    rows(0, 450).filter(col("id") % 15 === 2).coalesce(1)
      .write.format("graft").mode("append")
      .option("statsCols", "id").save(dir)
    val expected = (0L until 3000L).filterNot(_ % 15 == 2).size +
      (0L until 450L).count(_ % 15 == 2)
    // plan face: batch scan with the folded key set, no Row bridge
    val sb = new GraftScanBuilder(spark, dir)
    sb.build() match {
      case b: GraftV2BatchScan =>
        assert(b.description().contains("eqMaskRows=200"), b.description())
        assert(!b.estimateStatistics().numRows().isPresent,
          "eq-masked row counts are unknowable from metadata")
      case other => fail(s"expected the eq-masked batch scan, got $other")
    }
    val df = spark.sql("SELECT count(*) AS n, sum(id) AS s FROM gv2_eqv.t")
    val r = df.collect()(0)
    val expectedSum = (0L until 3000L).filterNot(_ % 15 == 2).sum +
      (0L until 450L).filter(_ % 15 == 2).sum
    assert((r.getLong(0), r.getLong(1)) === ((expected.toLong, expectedSum)))
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("ColumnarToRow") &&
      GraftV2BatchScan.readsColumnar(plan),
      s"eq-masked read must stay columnar:\n$plan")
    // column pruning away the KEY still filters correctly (the key
    // column joins the inner read and is dropped by the wrapper)
    val vOnly = spark.sql("SELECT v FROM gv2_eqv.t WHERE id >= 0").collect()
    assert(vOnly.length === expected)
    // SnapshotLog's merge-on-read plan answers identically
    assert(SnapshotLog.read(spark, dir).get.count() === expected.toLong)
    // POS + EQ masks COMPOSE on the vectorized path: a positional
    // delete on top of the equality state
    Merge.deleteWhere(spark, dir, col("id") >= 2900 && col("id") < 3000)
    val afterPos = expected - (2900L until 3000L).count(_ % 15 != 2)
    new GraftScanBuilder(spark, dir).build() match {
      case b: GraftV2BatchScan =>
        assert(b.description().contains("eqMaskRows=200") &&
          b.description().contains("posMaskRows=100") &&
          b.description().contains("filesWithMasks=3"), b.description())
      case other => fail(s"expected the combined masked scan, got $other")
    }
    assert(spark.sql("SELECT count(*) FROM gv2_eqv.t").head.getLong(0)
      === afterPos.toLong)
  }

  test("registry (renamed) tables ride the vectorized fast path (r15)") {
    val wh = freshWarehouse("reg")
    val dir = s"$wh/t"
    spark.range(0, 1000).selectExpr("id", "id * 2 AS price")
      .repartitionByRange(4, col("id"))
      .write.format("graft").option("statsCols", "id,price").save(dir)
    spark.sql(s"CREATE TABLE gv2reg_wh USING graft OPTIONS (path '$dir')")
    try {
      spark.sql("ALTER TABLE gv2reg_wh RENAME COLUMN price TO cost")
      // a post-rename INSERT writes under the pinned PHYSICAL name
      spark.sql(
        "INSERT INTO gv2reg_wh SELECT id, id * 2 AS cost FROM range(1000, 1200)")
    } finally spark.sql("DROP TABLE gv2reg_wh")
    // builder face: the live registry no longer forces the Row bridge
    val sb = new GraftScanBuilder(spark, dir)
    sb.build() match {
      case b: GraftV2BatchScan => assert(b.readSchema().fieldNames.toSeq
        === Seq("id", "cost"), b.readSchema().treeString)
      case other => fail(s"a renamed table must take the batch scan, got $other")
    }
    // plan + value face through the catalog name
    val df = spark.sql("SELECT cost FROM gv2_reg.t WHERE id = 500")
    assert(df.head.getLong(0) === 1000L)
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("ColumnarToRow") &&
      GraftV2BatchScan.readsColumnar(plan),
      s"renamed-table reads must stay columnar:\n$plan")
    assert(spark.sql("SELECT sum(cost) FROM gv2_reg.t").head.getLong(0)
      === (0L until 1200L).map(_ * 2).sum)
    // file pruning through the rename: a zone filter on the NEW name
    // must prune against the OLD physical stats
    val sb2 = new GraftScanBuilder(spark, dir)
    sb2.pushFilters(Array(sources.EqualTo("cost", 1000L)))
    sb2.build() match {
      case b: GraftV2BatchScan =>
        assert(b.keptFiles.size < 5,
          s"renamed zone pruning must engage: ${b.description()}")
      case other => fail(s"expected the batch scan, got $other")
    }
    // positional masks compose with the registry on the vectorized path
    Merge.deleteWhere(spark, dir, col("id") % 10 === 7)
    val after = spark.sql("SELECT count(*) AS n, sum(cost) AS s FROM gv2_reg.t")
    val live = (0L until 1200L).filterNot(_ % 10 == 7)
    assert(after.head.toSeq === Seq(live.size.toLong, live.map(_ * 2).sum))
    assert(GraftV2BatchScan.readsColumnar(after.queryExecution.executedPlan))
    // a DROPPED-and-READDED namesake must NOT resurrect old values:
    // old files lack the new field id, so the column null-fills there
    spark.sql(s"CREATE TABLE gv2reg_wh2 USING graft OPTIONS (path '$dir')")
    try {
      spark.sql("ALTER TABLE gv2reg_wh2 DROP COLUMN cost")
      spark.sql("ALTER TABLE gv2reg_wh2 ADD COLUMNS (cost BIGINT)")
    } finally spark.sql("DROP TABLE gv2reg_wh2")
    val readded = spark.sql(
      "SELECT count(*) AS n, count(cost) AS c FROM gv2_reg.t")
    assert(readded.head.toSeq === Seq(live.size.toLong, 0L),
      "re-added namesake must read null everywhere, never old values")
  }

  test("CTAS takes the real staged write: no post-write stats read-back (r15)") {
    val wh = freshWarehouse("sctas")
    Thread.sleep(1000) // let earlier statements' task events drain
    val readBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          readBytes.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sql("CREATE TABLE gv2_sctas.t TBLPROPERTIES " +
        "('statsCols' = 'a', 'bloomCol' = 'a') AS " +
        "SELECT id AS a, id * 2 AS b FROM range(0, 10000)")
      Thread.sleep(1000) // task events drain asynchronously
      // the source is range (zero input bytes): ANY bytes read would be
      // the V1 staged path's stats pass re-reading what it just wrote
      assert(readBytes.get() === 0L,
        s"the real staged write must not re-read its output " +
          s"(read ${readBytes.get()} B)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // inline manifest stats rode the staged write
    val files = SnapshotLog.filesAt(spark, s"$wh/t").filter(_.rows > 0)
    assert(files.nonEmpty && files.forall(f =>
      f.stats.contains("a") && f.blooms.contains("a")),
      files.map(f => (f.stats, f.blooms.keys)).toString)
    assert(spark.sql("SELECT count(*) FROM gv2_sctas.t").head.getLong(0) === 10000)
    assert(spark.sql("SELECT b FROM gv2_sctas.t WHERE a = 5").head.getLong(0) === 10)
    // a BUCKETED CTAS keeps the arranged V1 staged path (bucketCount
    // files, one residue each) — the CTAS exec plans no engine exchange
    spark.sql("CREATE TABLE gv2_sctas.bk PARTITIONED BY (bucket(4, a)) AS " +
      "SELECT id AS a, id AS v FROM range(0, 1000)")
    val key = SnapshotLog.bucketPartKey(4, "a")
    val bkFiles = SnapshotLog.filesAt(spark, s"$wh/bk").filter(_.rows > 0)
    // residues can collide in the murmur bucket map, so <= bucketCount
    // files; every file must hold exactly ONE bucket id
    assert(bkFiles.nonEmpty && bkFiles.size <= 4 &&
      bkFiles.forall(_.parts.get(key).exists(_.size == 1)),
      s"bucketed CTAS must keep the arranged layout: " +
        bkFiles.map(_.parts).toString)
  }

  test("drifted epochs vectorize when every type promotes (r15)") {
    val wh = freshWarehouse("drift")
    val dir = s"$wh/t"
    spark.range(0, 100)
      .selectExpr("CAST(id AS INT) AS a", "CAST(id AS FLOAT) AS b")
      .coalesce(1).write.format("graft").option("statsCols", "a").save(dir)
    spark.sql(s"CREATE TABLE gv2drift_wh USING graft OPTIONS (path '$dir')")
    try {
      spark.sql("ALTER TABLE gv2drift_wh ALTER COLUMN a TYPE BIGINT")
      spark.sql("ALTER TABLE gv2drift_wh ALTER COLUMN b TYPE DOUBLE")
      spark.sql("ALTER TABLE gv2drift_wh ADD COLUMNS (c STRING)")
      spark.range(0, 100).selectExpr("id + 1000 AS a",
        "CAST(id AS DOUBLE) AS b", "CAST(id AS STRING) AS c")
        .createOrReplaceTempView("gv2drift_src")
      spark.sql("INSERT INTO gv2drift_wh SELECT a, b, c FROM gv2drift_src")
    } finally spark.sql("DROP TABLE gv2drift_wh")
    // the int/float epoch PROMOTES into the widened merge inside the
    // vectorized reader — no Row bridge, no per-epoch union
    new GraftScanBuilder(spark, dir).build() match {
      case b: GraftV2BatchScan =>
        assert(b.readSchema().fields.map(_.dataType.typeName).toSeq
          === Seq("long", "double", "string"), b.readSchema().treeString)
      case other => fail(s"promotable drift must take the batch scan, got $other")
    }
    val df = spark.sql(
      "SELECT sum(a) AS sa, sum(b) AS sb, count(c) AS nc FROM gv2_drift.t")
    val r = df.collect()(0) // collect (not head): finalizes the AQE plan
    assert(r.getLong(0) === (0L until 100L).sum + (1000L until 1100L).sum)
    assert(r.getDouble(1) === 2.0 * (0 until 100).sum)
    assert(r.getLong(2) === 100, "the old epoch null-fills the added column")
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("ColumnarToRow") &&
      GraftV2BatchScan.readsColumnar(plan),
      s"promotable drift must stay columnar:\n$plan")
    // positional masks compose with the drift
    Merge.deleteWhere(spark, dir, col("a") >= 1050L)
    assert(spark.sql("SELECT count(*) FROM gv2_drift.t").head.getLong(0) === 150)
    assert(GraftV2BatchScan.readsColumnar(
      spark.sql("SELECT a FROM gv2_drift.t WHERE a >= 1000")
        .queryExecution.executedPlan))
  }

  test("CBO statistics come from manifests (exact rows on mask-free tables)") {
    val wh = freshWarehouse("stats")
    rows(0, 500).coalesce(1).write.format("graft")
      .option("statsCols", "id").save(s"$wh/t")
    val sb = new GraftScanBuilder(spark, s"$wh/t")
    sb.build() match {
      case b: GraftV2BatchScan =>
        val st = b.estimateStatistics()
        assert(st.numRows().getAsLong === 500)
        assert(st.sizeInBytes().getAsLong > 0)
      case other => fail(s"expected the batch scan, got $other")
    }
  }

  // ------------------------------------------------------ write face

  test("V2 writes: INSERT INTO, writeTo.append, INSERT OVERWRITE; V1 interop") {
    val wh = freshWarehouse("w")
    rows(0, 10).write.format("graft").option("statsCols", "id").save(s"$wh/t")
    // SQL INSERT through the V2 catalog → an append commit on the log
    spark.sql("INSERT INTO gv2_w.t SELECT id, id * 2 FROM range(10, 20)")
    assert(spark.sql("SELECT count(*) FROM gv2_w.t").head.getLong(0) === 20)
    // the V1 face reads the V2-landed commit (one shared log) …
    assert(spark.read.format("graft").load(s"$wh/t").count() === 20)
    // … and the V2 face reads a V1-landed one
    rows(20, 25).write.format("graft").mode("append").save(s"$wh/t")
    assert(spark.sql("SELECT count(*) FROM gv2_w.t").head.getLong(0) === 25)
    // DataFrameWriterV2 append (byName)
    rows(25, 30).writeTo("gv2_w.t").append()
    assert(spark.sql("SELECT sum(v) FROM gv2_w.t").head.getLong(0) ===
      (0L until 30L).map(_ * 2).sum)
    // INSERT OVERWRITE: one atomic whole-live-set replacement; the
    // pre-overwrite snapshot stays time-travelable
    val preId = SnapshotLog.currentSnapshotId(spark, s"$wh/t").get
    spark.sql("INSERT OVERWRITE gv2_w.t SELECT id, id FROM range(0, 7)")
    assert(spark.sql("SELECT count(*), max(v) FROM gv2_w.t").head match {
      case r => (r.getLong(0), r.getLong(1)) == ((7L, 6L)) })
    assert(spark.sql(
      s"SELECT count(*) FROM gv2_w.t VERSION AS OF $preId")
      .head.getLong(0) === 30)
    // a time-travel relation refuses writes at ANALYSIS (no write caps)
    val e = intercept[Exception] { spark.sql(
      s"INSERT INTO gv2_w.t VERSION AS OF $preId VALUES (99, 99)") }
    assert(e.getMessage != null)
  }

  test("atomic CTAS: commit-last semantics; a failed CTAS leaves no table") {
    val wh = freshWarehouse("ctas")
    rows(0, 50).write.format("graft").save(s"$wh/src")
    spark.sql("CREATE TABLE gv2_ctas.dst AS SELECT id, v FROM gv2_ctas.src " +
      "WHERE id < 30")
    assert(spark.sql("SELECT count(*) FROM gv2_ctas.dst").head.getLong(0) === 30)
    // the CTAS table is a first-class graft table: V1 face reads it too
    assert(spark.read.format("graft").load(s"$wh/dst").count() === 30)
    intercept[Exception] {
      spark.sql("CREATE TABLE gv2_ctas.dst AS SELECT 1 AS x") }
    // a CTAS whose query THROWS mid-write must leave no table behind —
    // the manifest commit is last, so there is nothing to roll back
    intercept[Exception] { spark.sql(
      "CREATE TABLE gv2_ctas.bad AS " +
        "SELECT CASE WHEN id < 5 THEN id ELSE raise_error('boom') END AS x " +
        "FROM gv2_ctas.src") }
    assert(!spark.sql("SHOW TABLES IN gv2_ctas").collect()
      .map(_.getString(1)).contains("bad"))
    intercept[Exception] { spark.sql("SELECT * FROM gv2_ctas.bad") }
  }

  test("atomic RTAS: REPLACE swaps in one snapshot; CREATE OR REPLACE creates") {
    val wh = freshWarehouse("rtas")
    rows(0, 40).write.format("graft").option("statsCols", "id").save(s"$wh/t")
    val preId = SnapshotLog.currentSnapshotId(spark, s"$wh/t").get
    spark.sql("REPLACE TABLE gv2_rtas.t AS SELECT id AS k, id * 10 AS w " +
      "FROM range(0, 8)")
    val r = spark.sql("SELECT count(*), max(w) FROM gv2_rtas.t").head
    assert((r.getLong(0), r.getLong(1)) === ((8L, 70L)))
    // the replaced history survives: time travel shows the old shape
    assert(spark.sql(s"SELECT count(*) FROM gv2_rtas.t VERSION AS OF $preId")
      .head.getLong(0) === 40)
    // REPLACE of a missing table refuses; CREATE OR REPLACE creates it
    intercept[Exception] {
      spark.sql("REPLACE TABLE gv2_rtas.missing AS SELECT 1 AS x") }
    spark.sql("CREATE OR REPLACE TABLE gv2_rtas.fresh AS SELECT 1 AS x")
    assert(spark.sql("SELECT x FROM gv2_rtas.fresh").head.getInt(0) === 1)
  }

  test("TRUNCATE TABLE: metadata-only, schema survives, history travelable") {
    val wh = freshWarehouse("trunc")
    rows(0, 25).write.format("graft").option("statsCols", "id").save(s"$wh/t")
    val preId = SnapshotLog.currentSnapshotId(spark, s"$wh/t").get
    spark.sql("TRUNCATE TABLE gv2_trunc.t")
    assert(spark.sql("SELECT count(*) FROM gv2_trunc.t").head.getLong(0) === 0)
    assert(spark.sql("SELECT * FROM gv2_trunc.t").schema.fieldNames.toSeq ===
      Seq("id", "v"))
    assert(spark.sql(s"SELECT count(*) FROM gv2_trunc.t VERSION AS OF $preId")
      .head.getLong(0) === 25)
    // the table accepts writes again after the truncate
    spark.sql("INSERT INTO gv2_trunc.t VALUES (1, 2)")
    assert(spark.sql("SELECT count(*) FROM gv2_trunc.t").head.getLong(0) === 1)
  }

  test("V2 DELETE lowers onto the row-level DML machinery") {
    val wh = freshWarehouse("del")
    rows(0, 100).repartitionByRange(4, col("id"))
      .write.format("graft").option("statsCols", "id").save(s"$wh/t")
    spark.sql("DELETE FROM gv2_del.t WHERE id < 25 OR id >= 90")
    assert(spark.sql("SELECT count(*), min(id), max(id) FROM gv2_del.t")
      .head match { case r =>
        (r.getLong(0), r.getLong(1), r.getLong(2)) == ((65L, 25L, 89L)) })
    // IN-list and null-test shapes convert too
    spark.sql("DELETE FROM gv2_del.t WHERE id IN (30, 31) AND v IS NOT NULL")
    assert(spark.sql("SELECT count(*) FROM gv2_del.t").head.getLong(0) === 63)
    // unconditional DELETE = the metadata truncation path
    spark.sql("DELETE FROM gv2_del.t")
    assert(spark.sql("SELECT count(*) FROM gv2_del.t").head.getLong(0) === 0)
  }

  test("V2 UPDATE / MERGE / arbitrary-predicate DELETE ride the DML commands") {
    val wh = freshWarehouse("dml")
    rows(0, 50).repartitionByRange(4, col("id"))
      .write.format("graft").option("statsCols", "id").save(s"$wh/t")
    // UPDATE through the V2 catalog (no SupportsRowLevelOperations
    // needed: the injected rule lowers the resolved plan onto the same
    // pinned-base COW commit as the V1 face)
    spark.sql("UPDATE gv2_dml.t SET v = v + 1000 WHERE id < 10")
    assert(spark.sql("SELECT sum(v) FROM gv2_dml.t WHERE id < 10")
      .head.getLong(0) === (0L until 10L).map(_ * 2 + 1000).sum)
    assert(spark.sql("SELECT sum(v) FROM gv2_dml.t WHERE id >= 10")
      .head.getLong(0) === (10L until 50L).map(_ * 2).sum)
    // a predicate NO source filter can express (modulo) still deletes —
    // the rule path, not SupportsDelete's filter contract
    spark.sql("DELETE FROM gv2_dml.t WHERE id % 10 = 3")
    assert(spark.sql("SELECT count(*) FROM gv2_dml.t").head.getLong(0) === 45)
    // MERGE INTO the V2 table from a view: update one key, insert a new
    spark.range(0, 2).selectExpr("CAST(id * 490 AS BIGINT) AS id",
      "CAST(7777 AS BIGINT) AS v").createOrReplaceTempView("gv2_dml_src")
    spark.sql("""MERGE INTO gv2_dml.t AS t USING gv2_dml_src AS s
                |ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
                |""".stripMargin)
    assert(spark.sql("SELECT v FROM gv2_dml.t WHERE id = 0")
      .head.getLong(0) === 7777, "matched key updated")
    assert(spark.sql("SELECT v FROM gv2_dml.t WHERE id = 490")
      .head.getLong(0) === 7777, "unmatched key inserted")
    assert(spark.sql("SELECT count(*) FROM gv2_dml.t").head.getLong(0) === 46)
  }

  test("writeTo(...).overwrite(cond) = the V2-native replaceWhere") {
    val wh = freshWarehouse("rw")
    spark.sql("CREATE TABLE gv2_rw.t AS SELECT id, " +
      "CASE WHEN id < 50 THEN 'a' ELSE 'b' END AS ds FROM range(0, 100)")
    // swap slice 'a' for 5 fresh rows in ONE atomic commit
    val pre = SnapshotLog.commits(spark, s"$wh/t").size
    spark.range(0, 5).selectExpr("id + 1000 AS id", "'a' AS ds")
      .writeTo("gv2_rw.t").overwrite(col("ds") === "a")
    assert(SnapshotLog.commits(spark, s"$wh/t").size === pre + 1)
    val r = spark.sql("SELECT ds, count(*) AS n FROM gv2_rw.t " +
      "GROUP BY ds ORDER BY ds").collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r === Map("a" -> 5L, "b" -> 50L))
    assert(spark.sql("SELECT min(id) FROM gv2_rw.t WHERE ds = 'a'")
      .head.getLong(0) === 1000L)
    // rows landing OUTSIDE the overwrite condition refuse loudly
    val e = intercept[Exception] {
      spark.range(0, 2).selectExpr("id", "'b' AS ds")
        .writeTo("gv2_rw.t").overwrite(col("ds") === "a") }
    assert(e.getMessage.contains("do NOT satisfy"), e.getMessage)
  }

  test("PARTITIONED BY (identity) binds durable layout from the first insert") {
    val wh = freshWarehouse("pby")
    spark.sql("CREATE TABLE gv2_pby.t (id BIGINT, ds STRING) " +
      "PARTITIONED BY (ds) TBLPROPERTIES ('statsCols' = 'id')")
    // first INSERT into the EMPTY table: nothing to inherit — the
    // declared layout must bind from durable properties
    for (d <- Seq("a", "b"))
      spark.sql(s"INSERT INTO gv2_pby.t SELECT id, '$d' FROM range(0, 10)")
    val parts = spark.sql("SELECT value, rows, exact FROM " +
      "graft_partitions('gv2_pby.t', 'ds') ORDER BY value").collect()
    assert(parts.map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .toSeq === Seq(("a", 10L, true), ("b", 10L, true)),
      "declared partition columns must record from the first insert")
    // the declared zone column recorded too (pruning-ready files)
    assert(spark.read.format("graft").load(s"$wh/t")
      .filter(col("id") === 3).count() === 2)
    // CTAS with PARTITIONED BY stages partition values the same way
    spark.sql("CREATE TABLE gv2_pby.c PARTITIONED BY (ds) AS " +
      "SELECT id, CASE WHEN id < 5 THEN 'x' ELSE 'y' END AS ds " +
      "FROM range(0, 12)")
    val cparts = spark.sql("SELECT value FROM " +
      "graft_partitions('gv2_pby.c', 'ds') ORDER BY value").collect()
    assert(cparts.map(_.getString(0)).toSeq === Seq("x", "y"))
    // non-identity transforms refuse loudly
    val e = intercept[Exception] { spark.sql(
      "CREATE TABLE gv2_pby.bad (id BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (days(ts))") }
    assert(e.getMessage.contains("identity"), e.getMessage)
  }

  test("durable metadata survives retention; REPLACE kills dead declarations") {
    val wh = freshWarehouse("meta")
    // props + lineage declared at creation (commit 1), then enough
    // commits that VACUUM expires the carrier — behavior must not
    // silently change when history ages out
    spark.sql("CREATE TABLE gv2_meta.t TBLPROPERTIES ('posDeletes' = " +
      "'true', 'team' = 'data') AS SELECT id FROM range(0, 10)")
    for (i <- 1 to 4)
      spark.sql(s"INSERT INTO gv2_meta.t SELECT id FROM range(${i * 10}, ${i * 10 + 10})")
    spark.sql("VACUUM gv2_meta.t") // retainLast=2: commit 1 expires
    val props = spark.sql("SHOW TBLPROPERTIES gv2_meta.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("posDeletes").contains("true"),
      s"durable props must survive snapshot expiry, got $props")
    spark.sql("DELETE FROM gv2_meta.t WHERE id < 5")
    assert(spark.sql("SELECT count(*) FROM graft_files('gv2_meta.t') " +
      "WHERE kind = 'posdelete'").head.getLong(0) >= 1L,
      "the vacuumed table must still take the deletion-vector path")
    // a dead lineage declaration must not outlive REPLACE TABLE: the
    // old table declared lineageKey 'id'; the replacement has no 'id'
    // column, and its DML must not trip over the stale declaration
    spark.range(0, 5).selectExpr("id", "id * 2 AS v")
      .write.format("graft").option("lineageKey", "id").save(s"$wh/r")
    spark.sql("REPLACE TABLE gv2_meta.r AS SELECT CAST(id AS STRING) " +
      "AS name, id * 10 AS score FROM range(0, 6)")
    spark.sql("UPDATE gv2_meta.r SET score = 0 WHERE name = '3'")
    assert(spark.sql("SELECT sum(score) FROM gv2_meta.r")
      .head.getLong(0) === (0L +: Seq(0L, 10L, 20L, 40L, 50L)).sum)
    // a SCHEMA-CHANGING V1 overwrite (not a redefinition commit) also
    // orphans the log-carried declaration — it must LAPSE, not brick
    // every later DML with "not a column" forever
    spark.range(0, 4).selectExpr("id", "id AS v")
      .write.format("graft").option("lineageKey", "id").save(s"$wh/ow")
    spark.range(0, 4).selectExpr("CAST(id AS STRING) AS label")
      .write.format("graft").mode("overwrite").save(s"$wh/ow")
    spark.sql("DELETE FROM gv2_meta.ow WHERE label = '2'")
    assert(spark.sql("SELECT count(*) FROM gv2_meta.ow")
      .head.getLong(0) === 3,
      "a dead log-carried declaration lapses instead of failing DML")
  }

  test("durable-metadata edges: drop/recreate, typo'd key, replaceWhere declaration") {
    val wh = freshWarehouse("edge")
    // DROP + CREATE at the same name must not resurrect the dead
    // table's durable properties (the memo is keyed dir -> head, and a
    // recreate restarts at head 1)
    spark.sql("CREATE TABLE gv2_edge.t TBLPROPERTIES ('posDeletes' = " +
      "'true') AS SELECT id FROM range(0, 10)")
    spark.sql("SELECT count(*) FROM gv2_edge.t").collect() // warm caches
    assert(spark.sql("SHOW TBLPROPERTIES gv2_edge.t").collect()
      .exists(_.getString(0) == "posDeletes"))
    spark.sql("DROP TABLE gv2_edge.t")
    spark.sql("CREATE TABLE gv2_edge.t AS SELECT id FROM range(0, 10)")
    assert(!spark.sql("SHOW TBLPROPERTIES gv2_edge.t").collect()
      .exists(_.getString(0) == "posDeletes"),
      "the dead table's properties must not resurrect")
    spark.sql("DELETE FROM gv2_edge.t WHERE id < 3")
    assert(spark.sql("SELECT count(*) FROM graft_files('gv2_edge.t') " +
      "WHERE kind = 'posdelete'").head.getLong(0) === 0,
      "without the property the DELETE must take the COW path")
    // a TYPO'D durable lineageKey is live, correctable config: it must
    // THROW on DML, never silently disable lineage
    spark.sql("ALTER TABLE gv2_edge.t SET TBLPROPERTIES " +
      "('lineageKey' = 'nope')")
    val e = intercept[Exception] {
      spark.sql("UPDATE gv2_edge.t SET id = 0 WHERE id = 5") }
    assert(e.getMessage.contains("is not a column"), e.getMessage)
    spark.sql("ALTER TABLE gv2_edge.t UNSET TBLPROPERTIES ('lineageKey')")
    spark.sql("UPDATE gv2_edge.t SET id = 0 WHERE id = 5") // works again
    // a lineageKey OPTION on a replaceWhere write persists its
    // declaration like every other save mode: the feed folds afterwards
    spark.range(0, 10).selectExpr("id", "id AS v")
      .write.format("graft").save(s"$wh/rwl")
    spark.range(0, 2).selectExpr("id", "id + 100 AS v")
      .write.format("graft").mode("overwrite")
      .option("replaceWhere", "id < 2").option("lineageKey", "id")
      .save(s"$wh/rwl")
    val ops = SnapshotLog.changes(spark, s"$wh/rwl", from = 1L).get
      .groupBy(col("_change_op")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ops.values.sum >= 2L, s"the declared feed must fold: $ops")
  }

  test("staged CTAS/RTAS races resolve by CAS: loser throws, winner intact") {
    import org.apache.spark.sql.types.{LongType, StructType => ST}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    val wh = freshWarehouse("race")
    val cat = new GraftCatalog
    cat.initialize("gv2_race_api",
      new CaseInsensitiveStringMap(Map("warehouse" -> wh).asJava))
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array.empty[String], "t")
    val schema = new ST().add("id", LongType).add("v", LongType)
    val none = new java.util.HashMap[String, String]()
    // CTAS race: stage a create, let a rival land the table first — the
    // staged commit must THROW (CAS at snapshot 1) and the rival's data
    // must stand untouched
    val stagedCreate = cat.stageCreate(ident, schema,
      Array.empty[org.apache.spark.sql.connector.expressions.Transform], none)
    rows(0, 5).write.format("graft").save(s"$wh/t")
    intercept[IllegalStateException] { stagedCreate.commitStagedChanges() }
    assert(spark.read.format("graft").load(s"$wh/t").count() === 5,
      "the CTAS loser must not disturb the racing winner")
    // RTAS race: the replace pins its base at STAGE time — an append
    // landing while the (hypothetical) query runs makes the commit
    // throw instead of being silently swallowed by the swap
    val stagedReplace = cat.stageReplace(ident, schema,
      Array.empty[org.apache.spark.sql.connector.expressions.Transform], none)
    rows(5, 10).write.format("graft").mode("append").save(s"$wh/t")
    intercept[Exception] { stagedReplace.commitStagedChanges() }
    assert(spark.read.format("graft").load(s"$wh/t").count() === 10,
      "the refused replace must leave both commits standing")
  }

  test("durable TBLPROPERTIES bind behavior to the table across faces") {
    val wh = freshWarehouse("props")
    spark.sql("CREATE TABLE gv2_props.t TBLPROPERTIES ('posDeletes' = " +
      "'true', 'lineageKey' = 'id', 'team' = 'data') AS " +
      "SELECT id, CAST(id * 2 AS BIGINT) AS v FROM range(0, 100)")
    // SHOW TBLPROPERTIES surfaces the log-persisted map
    val props = spark.sql("SHOW TBLPROPERTIES gv2_props.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("posDeletes").contains("true") &&
      props.get("team").contains("data"), props.toString)
    // lineage declared via durable props: a V2 UPDATE bootstraps stamps,
    // so the change feed folds instead of refusing the rewrite
    spark.sql("UPDATE gv2_props.t SET v = 0 WHERE id = 50")
    val ops = spark.sql("SELECT _change_op, count(*) AS n FROM " +
      "graft_changes('gv2_props.t', 1) GROUP BY _change_op").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the default feed vocabulary tags changed rows "upsert" (preImages
    // mode refines them to update_pre/postimage pairs); the point here is
    // the feed FOLDS — a lineage-less rewrite would have refused instead
    assert(ops.get("upsert").contains(1L), s"feed ops: $ops")
    // posDeletes declared via durable props: a V2 DELETE commits
    // (file, ordinal) masks — zero data-file rewrites
    val dataBefore = spark.sql("SELECT count(*) FROM " +
      "graft_files('gv2_props.t') WHERE kind = 'data'").head.getLong(0)
    spark.sql("DELETE FROM gv2_props.t WHERE id < 10")
    assert(spark.sql("SELECT count(*) FROM gv2_props.t").head.getLong(0) === 90)
    val kinds = spark.sql("SELECT kind, count(*) FROM " +
      "graft_files('gv2_props.t') GROUP BY kind").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds("data") === dataBefore,
      s"posdelete DELETE must not rewrite data files: $kinds")
    assert(kinds.getOrElse("posdelete", 0L) >= 1L, kinds.toString)
    // SET/UNSET round-trip on a second table flips the storage strategy
    spark.sql("CREATE TABLE gv2_props.t2 AS SELECT id FROM range(0, 20)")
    spark.sql("ALTER TABLE gv2_props.t2 SET TBLPROPERTIES " +
      "('posDeletes' = 'true')")
    spark.sql("DELETE FROM gv2_props.t2 WHERE id < 5")
    assert(spark.sql("SELECT count(*) FROM graft_files('gv2_props.t2') " +
      "WHERE kind = 'posdelete'").head.getLong(0) >= 1L)
    spark.sql("ALTER TABLE gv2_props.t2 UNSET TBLPROPERTIES ('posDeletes')")
    assert(!spark.sql("SHOW TBLPROPERTIES gv2_props.t2").collect()
      .exists(_.getString(0) == "posDeletes"))
    // REPLACE TABLE redefines properties: none given → stale keys gone
    spark.sql("REPLACE TABLE gv2_props.t2 AS SELECT id FROM range(0, 3)")
    assert(!spark.sql("SHOW TBLPROPERTIES gv2_props.t2").collect()
      .exists(_.getString(0) == "posDeletes"))
  }

  test("expiry carries the replace-table boundary past tagged holes") {
    val wh = freshWarehouse("redef")
    val dir = s"$wh/t"
    // incarnation 1 declares behavior-bearing durable metadata: a
    // posDeletes property AND a lineage key — both DEAD after REPLACE
    spark.sql("CREATE TABLE gv2_redef.t TBLPROPERTIES " +
      "('posDeletes' = 'true', 'lineageKey' = 'id') " +
      "AS SELECT id, id * 2 AS v FROM range(0, 5)") // snapshot 1
    SnapshotLog.tag(spark, dir, "audit", 1L) // exempt from retention
    spark.sql("INSERT INTO gv2_redef.t SELECT id, id FROM range(5, 8)") // 2
    // the REDEFINITION: new schema, no properties — everything older dies
    spark.sql("REPLACE TABLE gv2_redef.t AS SELECT CAST(id AS STRING) " +
      "AS name, id * 10 AS score FROM range(0, 6)") // snapshot 3
    spark.sql("INSERT INTO gv2_redef.t VALUES ('x', 1)") // 4
    spark.sql("INSERT INTO gv2_redef.t VALUES ('y', 2)") // 5
    // retainLast=2 expires {2, 3} — snapshot 1 survives through its TAG,
    // punching a hole: without the boundary carry, deleting the
    // redefinition manifest (3) lets durableMetaScan walk from head
    // straight to the surviving snapshot-1 carrier and RESURRECT the
    // dead posDeletes property and 'id' lineage declaration
    SnapshotLog.expireSnapshots(spark, dir, retainLast = 2,
      orphanGraceMs = 0L)
    assert(!spark.sql("SHOW TBLPROPERTIES gv2_redef.t").collect()
      .exists(_.getString(0) == "posDeletes"),
      "expired replace-table boundary must not resurrect dead properties")
    // a resurrected 'id' declaration would make this DML bootstrap
    // lineage on a column the replaced table doesn't have — fail loudly
    spark.sql("DELETE FROM gv2_redef.t WHERE name = 'x'")
    assert(spark.sql("SELECT count(*) FROM gv2_redef.t")
      .head.getLong(0) === 7)
    // the tagged pre-REPLACE snapshot stays travelable with ITS schema
    assert(spark.sql("SELECT sum(v) FROM gv2_redef.t VERSION AS OF 'audit'")
      .head.getLong(0) === (0 until 5).map(_ * 2).sum)
  }

  test("maintenance SQL and TVFs accept V2 catalog names") {
    val wh = freshWarehouse("maint")
    rows(0, 40).repartition(4).write.format("graft")
      .option("statsCols", "id").save(s"$wh/t")
    spark.sql("INSERT INTO gv2_maint.t SELECT id, id * 2 FROM range(40, 50)")
    // OPTIMIZE by V2 name bin-packs the small-file debt
    val opt = spark.sql("OPTIMIZE gv2_maint.t").head
    assert(opt.getInt(2) <= opt.getInt(1), s"files ${opt.getInt(1)} -> ${opt.getInt(2)}")
    assert(spark.sql("SELECT count(*) FROM gv2_maint.t").head.getLong(0) === 50)
    // TVFs by V2 name
    assert(spark.sql("SELECT count(*) FROM graft_history('gv2_maint.t')")
      .head.getLong(0) >= 3)
    // RESTORE by V2 name: back to the initial 40 rows
    spark.sql("RESTORE gv2_maint.t TO VERSION AS OF 1")
    assert(spark.sql("SELECT count(*) FROM gv2_maint.t").head.getLong(0) === 40)
    // branch DDL by V2 name
    spark.sql("ALTER TABLE gv2_maint.t CREATE BRANCH wap")
    assert(spark.sql("SELECT count(*) FROM graft_branches('gv2_maint.t')")
      .head.getLong(0) === 1)
    // ANALYZE by V2 name: manifest-exact row count in the report row
    assert(spark.sql("ANALYZE TABLE gv2_maint.t COMPUTE STATISTICS")
      .head.getLong(0) === 40)
    // VACUUM by V2 name
    spark.sql("VACUUM gv2_maint.t")
    assert(spark.sql("SELECT count(*) FROM gv2_maint.t").head.getLong(0) === 40)
    // an unknown V2 name still refuses loudly
    val e = intercept[Exception] { spark.sql("OPTIMIZE gv2_maint.nope") }
    assert(e.getMessage.contains("not a graft catalog table"), e.getMessage)
    // resolution never INSTANTIATES a foreign catalog: a configured
    // non-graft (here: nonexistent-class) catalog neither matches nor
    // class-loads during parse — the error is ours, not ClassNotFound
    spark.conf.set("spark.sql.catalog.gv2_foreign", "no.such.CatalogImpl")
    val eF = intercept[Exception] { spark.sql("OPTIMIZE gv2_foreign.t") }
    assert(eF.getMessage.contains("not a graft catalog table"), eF.getMessage)
    // a V1 catalog table over the SAME dir must re-resolve after a
    // V2-name maintenance commit (no cached point-in-time file list)
    spark.sql(s"CREATE TABLE gv2_maint_v1 USING graft LOCATION '$wh/t'")
    try {
      assert(spark.sql("SELECT count(*) FROM gv2_maint_v1")
        .head.getLong(0) === 40) // populates the relation cache
      spark.sql("INSERT INTO gv2_maint.t VALUES (999, 999)")
      spark.sql(s"RESTORE gv2_maint.t TO VERSION AS OF " +
        spark.sql("SELECT max(snapshot_id) - 1 FROM graft_history('gv2_maint.t')")
          .head.getLong(0))
      assert(spark.sql("SELECT count(*) FROM gv2_maint_v1")
        .head.getLong(0) === 40,
        "the V1 cached relation must re-resolve after a V2-name RESTORE")
    } finally spark.sql("DROP TABLE gv2_maint_v1")
  }

  test("V2 ALTER TABLE maps onto the metadata-only maintenance commits") {
    val wh = freshWarehouse("alter")
    rows(0, 12).write.format("graft").option("statsCols", "id").save(s"$wh/t")
    spark.sql("ALTER TABLE gv2_alter.t ADD COLUMNS (note STRING, extra INT)")
    assert(spark.sql("SELECT * FROM gv2_alter.t").schema.fieldNames.toSeq ===
      Seq("id", "v", "note", "extra"))
    assert(spark.sql("SELECT count(*) FROM gv2_alter.t WHERE note IS NULL")
      .head.getLong(0) === 12)
    spark.sql("ALTER TABLE gv2_alter.t RENAME COLUMN v TO doubled")
    assert(spark.sql("SELECT sum(doubled) FROM gv2_alter.t")
      .head.getLong(0) === (0L until 12L).map(_ * 2).sum)
    spark.sql("ALTER TABLE gv2_alter.t DROP COLUMN extra")
    assert(spark.sql("SELECT * FROM gv2_alter.t").schema.fieldNames.toSeq ===
      Seq("id", "doubled", "note"))
    // widening-only TYPE change; narrowing refuses
    spark.sql("CREATE TABLE gv2_alter.w (k INT, s STRING)")
    spark.sql("INSERT INTO gv2_alter.w VALUES (7, 'a')")
    spark.sql("ALTER TABLE gv2_alter.w ALTER COLUMN k TYPE BIGINT")
    spark.sql("INSERT INTO gv2_alter.w VALUES (4000000000, 'b')")
    val r = spark.sql("SELECT sum(k), count(*) FROM gv2_alter.w").head
    assert((r.getLong(0), r.getLong(1)) === ((4000000007L, 2L)))
    // narrowing refuses — Spark's analyzer rejects long→int itself
    // (NOT_SUPPORTED_CHANGE_COLUMN) before our widening guard even runs;
    // an off-lattice change that PASSES the analyzer (long→double is a
    // Spark "compatible" change) must then hit the graft guard
    intercept[Exception] {
      spark.sql("ALTER TABLE gv2_alter.w ALTER COLUMN k TYPE INT") }
    val eOff = intercept[Exception] {
      spark.sql("ALTER TABLE gv2_alter.w ALTER COLUMN k TYPE DOUBLE") }
    assert(eOff.getMessage.contains("widening-only") ||
      eOff.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      eOff.getMessage)
  }

  // ---- equality masks over every key type, on the batch scan ----

  /** Commit `keys` (one column) as an equality mask of `dir`, as the
    * merge-on-read writer lays one out. */
  private def commitEqMask(dir: String, keys: org.apache.spark.sql.DataFrame): Unit =
    SnapshotLog.commit(spark, dir, "rowdelta",
      SnapshotLog.writeData(keys.coalesce(1), dir, kind = "eqdelete",
        rawPhysical = true))

  /** The batch scan `dir` plans (it must plan one), and its read equal to
    * `SnapshotLog.read`'s merge-on-read plan. */
  private def assertBatchScanAnswers(dir: String): Seq[org.apache.spark.sql.Row] = {
    new GraftScanBuilder(spark, dir).build() match {
      case b: GraftV2BatchScan =>
        assert(b.description().contains("eqMaskRows="), b.description())
      case other => fail(s"expected the eq-masked batch scan, got $other")
    }
    val back = spark.read.format("graft").load(dir)
    val plan = back.queryExecution.executedPlan
    assert(plan.toString.contains("GraftBatchScan("), plan.toString)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.sortBy(_.getLong(0))
    val got = sorted(back)
    val ref = SnapshotLog.read(spark, dir).get
    assert(got === sorted(ref.select(back.columns.map(col).toSeq: _*)))
    got
  }

  test("equality masks on a DOUBLE key: -0.0 equals 0.0 and NaNs are one key") {
    val dir = freshWarehouse("eqdbl") + "/t"
    // ids 0..11 cycle the keys 0.0, -0.0, NaN, 1.5, -2.5, 3.0
    val keys = Seq("0.0", "-0.0", "NaN", "1.5", "-2.5", "3.0")
    spark.range(0, 60).select(col("id"),
        element_at(array(keys.map(k => lit(k).cast("double")): _*),
          (col("id") % 6 + 1).cast("int")).as("dk"),
        (col("id") * 2).as("v"))
      .coalesce(1).write.format("graft").option("statsCols", "dk").save(dir)
    // the mask names 0.0 (not -0.0) and a NaN
    import spark.implicits._
    commitEqMask(dir, Seq(0.0, Double.NaN, 3.0).toDF("dk"))
    val got = assertBatchScanAnswers(dir)
    assert(got.map(_.getLong(0)) === (0L until 60L).filter(i => i % 6 == 3 || i % 6 == 4))
  }

  test("equality masks on a DECIMAL key read through the batch scan") {
    val dir = freshWarehouse("eqdec") + "/t"
    spark.range(0, 300).select(col("id"),
        (col("id") * 0.25).cast("decimal(10,2)").as("dk"), (col("id") * 2).as("v"))
      .repartition(3).write.format("graft").option("statsCols", "dk").save(dir)
    Merge.mergeOnRead(spark, dir,
      spark.range(0, 300).filter(col("id") % 7 === 1).select(col("id"),
        (col("id") * 0.25).cast("decimal(10,2)").as("dk"),
        (col("id") * 2).as("v"), lit(true).as("_del")),
      "dk", deleteCol = Some("_del"))
    val got = assertBatchScanAnswers(dir)
    assert(got.map(_.getLong(0)) === (0L until 300L).filterNot(_ % 7 == 1))
  }

  test("equality masks on a BINARY key read through the batch scan") {
    val dir = freshWarehouse("eqbin") + "/t"
    spark.range(0, 200).select(col("id"),
        unhex(format_string("%04X", col("id") % 40)).as("bk"), (col("id") * 2).as("v"))
      .coalesce(2).write.format("graft").save(dir)
    commitEqMask(dir, spark.range(0, 40).filter(col("id") % 4 === 0)
      .select(unhex(format_string("%04X", col("id"))).as("bk")))
    val got = assertBatchScanAnswers(dir)
    assert(got.map(_.getLong(0)) === (0L until 200L).filterNot(_ % 40 % 4 == 0))
  }

  test("equality masks keep applying after their key column is dropped") {
    val wh = freshWarehouse("eqdrop")
    val dir = s"$wh/t"
    spark.range(0, 400).select(col("id"), (col("id") % 50).cast("int").as("k"),
        (col("id") * 2).as("v"))
      .repartition(2).write.format("graft").option("statsCols", "k").save(dir)
    Merge.mergeOnRead(spark, dir,
      spark.range(0, 50).filter(col("id") % 5 === 0).select(col("id"),
        col("id").cast("int").as("k"), (col("id") * 2).as("v"),
        lit(true).as("_del")),
      "k", deleteCol = Some("_del"))
    spark.sql(s"CREATE TABLE gv2eqdrop_wh USING graft OPTIONS (path '$dir')")
    try spark.sql("ALTER TABLE gv2eqdrop_wh DROP COLUMN k")
    finally spark.sql("DROP TABLE gv2eqdrop_wh")
    val got = assertBatchScanAnswers(dir)
    assert(got.head.length === 2, "the dropped key stays invisible")
    assert(got.map(_.getLong(0)) === (0L until 400L).filterNot(_ % 50 % 5 == 0))
  }

  test("equality masks over two key columns refuse like the merge-on-read plan") {
    val dir = freshWarehouse("eqtwo") + "/t"
    rows(0, 100).coalesce(1).write.format("graft").option("statsCols", "id").save(dir)
    Merge.mergeOnRead(spark, dir, rows(0, 5), "id")
    Merge.mergeOnRead(spark, dir, rows(10, 15), "v")
    val scan = intercept[IllegalStateException] {
      new GraftScanBuilder(spark, dir).build() }
    val plan = intercept[IllegalStateException] {
      SnapshotLog.read(spark, dir).get.collect() }
    assert(scan.getMessage.contains("exactly one key column"), scan.getMessage)
    assert(scan.getMessage === plan.getMessage)
  }
}
