package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation, V1ScanWrapper}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.{Merge, SnapshotLog}

/** The `format("graft")` data-source face: reader/writer/time-travel/
  * streaming equivalence to the Scala table API, and the plan-shape
  * guarantees — mask-free single-epoch snapshots scan as a plain
  * parquet `FileSourceScanExec` (whole-stage codegen, parquet row-group
  * pushdown) whose file set the manifest zones/blooms/partition values
  * prune, while masked or drifted snapshots read through the V2 scan
  * (vectorized masked reads, the bridge scan past the mask budget) and
  * stay CORRECT.
  */
class ConnectorSpec extends AnyFunSuite {

  // the shared-session factory every suite uses — suites run sequentially
  // in ONE forked JVM, so a private builder (or clearActive/clearDefault)
  // here would hand every LATER suite an extension-less session
  lazy val spark: SparkSession = Sessions.local("4", "connector-spec")

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-connspec-$tag").toString + "/t"

  /** The executed (post-AQE) plan of a collected DataFrame. */
  private def executedPlanOf(df: DataFrame): SparkPlan = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    plan.collectFirst {
      case a: AdaptiveSparkPlanExec => a.executedPlan
    }.getOrElse(plan)
  }

  /** The executed scan node of a collected DataFrame, when the plan went
    * through the fast HadoopFsRelation path. */
  private def fileScanOf(df: DataFrame): Option[FileSourceScanExec] =
    executedPlanOf(df).collectFirst { case f: FileSourceScanExec => f }

  /** The description of the executed V2 batch scan of a collected
    * DataFrame, when the read planned one. */
  private def batchScanOf(df: DataFrame): Option[String] =
    executedPlanOf(df).collectFirst { case b: BatchScanExec => b.scan.description() }

  private def rows(n: Int): DataFrame =
    spark.range(n).select(col("id"),
      concat(lit("cat"), pmod(col("id"), lit(5))).as("cat"),
      (col("id") * 2).as("v"))

  test("writer + reader round-trip; appends commit as append snapshots") {
    val dir = tmp("rt")
    rows(100).filter(col("id") < 50)
      .write.format("graft").option("statsCols", "id").save(dir)
    rows(100).filter(col("id") >= 50)
      .write.format("graft").mode("append").option("statsCols", "id").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.count() === 100)
    assert(back.agg(sum("id")).head.getLong(0) === (0L until 100).sum)
    val ops = SnapshotLog.commits(spark, dir).map(_.op)
    assert(ops === Seq("append", "append"))
    // the mask-free single-epoch read IS a parquet file scan
    assert(fileScanOf(back).isDefined)
  }

  test("zone pruning: a range WHERE skips files from manifest metadata") {
    val dir = tmp("zone")
    rows(4000).repartitionByRange(8, col("id"))
      .write.format("graft").option("statsCols", "id").save(dir)
    val all = spark.read.format("graft").load(dir)
    val full = fileScanOf(all).get.metrics("numFiles").value
    assert(full === 8)
    val band = all.filter(col("id") >= 100 && col("id") <= 400)
    val scan = fileScanOf(band).get
    assert(scan.metrics("numFiles").value < full,
      "range WHERE must prune range-clustered files")
    // the same predicate also reached parquet (row-group pushdown)
    assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual(id,100)"))
    assert(band.count() === 301)
    // literal-on-the-left comparisons prune identically
    val flipped = all.filter(lit(100) <= col("id") && lit(400) >= col("id"))
    assert(fileScanOf(flipped).get.metrics("numFiles").value ===
      scan.metrics("numFiles").value)
    assert(flipped.count() === 301)
  }

  test("bloom pruning: equality lookup skips zone-blind files; IN probes all keys") {
    val dir = tmp("bloom")
    // round-robin slices: every file spans the whole key range (zones
    // blind), the manifest bloom is what can prune
    for (s <- 0 until 4)
      rows(4000).filter(pmod(col("id"), lit(4)) === s).coalesce(1)
        .write.format("graft").mode(if (s == 0) "error" else "append")
        .option("statsCols", "id").option("bloomCol", "id").save(dir)
    val all = spark.read.format("graft").load(dir)
    val hit = all.filter(col("id") === 1234)
    val scan = fileScanOf(hit).get
    assert(scan.metrics("numFiles").value <= 2,
      "a point key lives in one slice; blooms must skip the others")
    assert(hit.count() === 1)
    // IN-set: kept when ANY key might be present, still prunes misses
    val in = all.filter(col("id").isin(1234L, 1238L)) // same residue class
    assert(fileScanOf(in).get.metrics("numFiles").value <= 2)
    assert(in.count() === 2)
  }

  test("partition-value pruning through the reader's own WHERE") {
    val dir = tmp("parts")
    // one append per day value = exactly one file per value, regardless
    // of context (repartitionByRange sampling varies with the shared
    // SparkContext's RDD-id history and can merge groups)
    for (d <- 0 until 3)
      spark.range(1200).select(col("id"),
          concat(lit("d"), pmod(col("id"), lit(3))).as("day"))
        .filter(col("day") === s"d$d").coalesce(1)
        .write.format("graft").mode(if (d == 0) "error" else "append")
        .option("partitionCols", "day").save(dir)
    val all = spark.read.format("graft").load(dir)
    assert(fileScanOf(all).get.metrics("numFiles").value === 3)
    val one = all.filter(col("day") === "d1")
    assert(fileScanOf(one).get.metrics("numFiles").value === 1)
    assert(one.count() === 400)
  }

  test("time travel options: versionAsOf, tagAsOf, timestampAsOf") {
    val dir = tmp("tt")
    rows(10).write.format("graft").save(dir)
    Thread.sleep(20) // separate the commit timestamps
    rows(30).filter(col("id") >= 10)
      .write.format("graft").mode("append").save(dir)
    SnapshotLog.tag(spark, dir, "first", 1L)
    val v1 = spark.read.format("graft").option("versionAsOf", "1").load(dir)
    assert(v1.count() === 10)
    val tagged = spark.read.format("graft").option("tagAsOf", "first").load(dir)
    assert(tagged.count() === 10)
    val ts1 = SnapshotLog.commits(spark, dir).head.tsMs
    val asOf = spark.read.format("graft")
      .option("timestampAsOf", new java.sql.Timestamp(ts1).toString).load(dir)
    assert(asOf.count() === 10)
    assert(spark.read.format("graft").load(dir).count() === 30)
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", "1")
        .option("tagAsOf", "first").load(dir)
    }
  }

  test("merge-on-read snapshots read correct through the fallback, fast again after materialize") {
    val dir = tmp("mor")
    rows(100).write.format("graft").option("statsCols", "id").save(dir)
    val delta = spark.range(90, 110).select(col("id"),
      lit("upd").as("cat"), (col("id") * 3).as("v"))
    Merge.mergeOnRead(spark, dir, delta, keyCol = "id")
    val back = spark.read.format("graft").load(dir)
    // masked snapshot: no parquet fast scan, but exactly the API's answer
    assert(fileScanOf(back).isEmpty)
    val api = SnapshotLog.read(spark, dir).get
    assert(back.orderBy("id").collect().toSeq ===
      api.orderBy("id").collect().toSeq)
    assert(back.count() === 110)
    assert(back.filter(col("cat") === "upd").count() === 20)
    // maintenance folds the masks: the connector flips back to the fast path
    Merge.materializeDeletes(spark, dir)
    val after = spark.read.format("graft").load(dir)
    assert(fileScanOf(after).isDefined)
    assert(after.count() === 110)
    assert(after.filter(col("cat") === "upd").count() === 20)
  }

  test("drifted schema epochs fall back and merge through the widening lattice") {
    val dir = tmp("drift")
    spark.range(10).select(col("id"), lit("a").as("cat"))
      .write.format("graft").save(dir)
    spark.range(10, 20).select(col("id"), lit("b").as("cat"),
        (col("id") * 1.5).as("score"))
      .write.format("graft").mode("append").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(fileScanOf(back).isEmpty) // two epochs: computed path
    assert(back.count() === 20)
    assert(back.filter(col("score").isNull).count() === 10)
    assert(back.schema.fieldNames.toSet === Set("id", "cat", "score"))
    // column pruning still reaches the fallback relation
    assert(back.select("cat").distinct().count() === 2)
  }

  /** Four range-clustered files of `rows(400)` with id zones. */
  private def clustered(tag: String): String = {
    val dir = tmp(tag)
    rows(400).repartitionByRange(4, col("id"))
      .write.format("graft").option("statsCols", "id").save(dir)
    dir
  }

  /** The snapshot's rows as the Scala API reads them, in `df`'s column order. */
  private def apiRows(dir: String, df: DataFrame, asOf: Option[Long] = None) =
    SnapshotLog.read(spark, dir, asOf).get.select(df.columns.map(col): _*)
      .orderBy("id").collect().toSeq

  test("equality- and position-masked snapshots read through the vectorized V2 scan") {
    val eqDir = clustered("eqscan")
    Merge.mergeOnRead(spark, eqDir, spark.range(390, 410).select(col("id"),
      lit("upd").as("cat"), (col("id") * 3).as("v")), keyCol = "id")
    val eq = spark.read.format("graft").load(eqDir)
    val eqScan = batchScanOf(eq)
    assert(eqScan.exists(d => d.startsWith("GraftBatchScan(") && d.contains("eqKeys=")),
      s"expected the masked V2 scan, got $eqScan")
    assert(eq.orderBy("id").collect().toSeq === apiRows(eqDir, eq))
    assert(eq.count() === 410)

    val posDir = clustered("posscan")
    Merge.deleteWhere(spark, posDir, col("id") % 7 === 0)
    val pos = spark.read.format("graft").load(posDir)
    val posScan = batchScanOf(pos)
    assert(posScan.exists(d => d.startsWith("GraftBatchScan(") &&
      d.contains("maskedRows=58")),
      s"expected the position-masked V2 scan, got $posScan")
    assert(pos.orderBy("id").collect().toSeq === apiRows(posDir, pos))
    assert(pos.count() === 400 - 58)
  }

  test("a point lookup on a masked snapshot prunes files; versionAsOf takes the same scan") {
    val dir = clustered("masklookup")
    Merge.mergeOnRead(spark, dir, spark.range(0, 400, 50).select(col("id"),
      lit("upd").as("cat"), (col("id") * 3).as("v")), keyCol = "id")
    Merge.mergeOnRead(spark, dir, spark.range(10, 400, 100).select(col("id"),
      lit("upd2").as("cat"), (col("id") * 5).as("v")), keyCol = "id")
    val dataFiles = SnapshotLog.filesAt(spark, dir).count(_.kind == "data")
    val lookup = spark.read.format("graft").load(dir).filter(col("id") === 250)
    val scan = executedPlanOf(lookup).collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no V2 scan for the lookup"))
    val desc = scan.scan.description()
    val kept = "files=(\\d+)".r.findFirstMatchIn(desc).get.group(1).toInt
    assert(kept < dataFiles, s"lookup kept $kept of $dataFiles files: $desc")
    // the scan reports the files it read under the file scan's metric name
    assert(scan.metrics("numFiles").value === kept)
    assert(lookup.collect().map(r => (r.getString(1), r.getLong(2))).toSeq ===
      Seq(("upd", 750L)))
    // snapshot 2 is masked too: time travel reads it through the same scan
    val v2 = spark.read.format("graft").option("versionAsOf", "2").load(dir)
    assert(batchScanOf(v2).exists(_.contains("eqKeys=8")))
    assert(v2.orderBy("id").collect().toSeq === apiRows(dir, v2, Some(2L)))
  }

  test("masked reads over the mask budget answer through the V2 bridge scan") {
    val dir = clustered("maskbudget")
    Merge.deleteWhere(spark, dir, col("id") % 3 === 0)
    Merge.mergeOnRead(spark, dir, spark.range(395, 405).select(col("id"),
      lit("upd").as("cat"), (col("id") * 3).as("v")), keyCol = "id")
    spark.conf.set("graft.v2.maskedScan.maxPositions", "0")
    try {
      val back = spark.read.format("graft").load(dir)
      assert(batchScanOf(back).isEmpty, "over-budget masks must not plan the vectorized scan")
      val scans = back.queryExecution.optimizedPlan.collect {
        case DataSourceV2ScanRelation(_, w: V1ScanWrapper, _, _, _) =>
          w.v1Scan.description() }
      assert(scans.exists(_.startsWith("GraftBridgeScan(")), scans.toString)
      assert(back.orderBy("id").collect().toSeq === apiRows(dir, back))
      assert(back.filter(col("id") === 398).select("v").head.getLong(0) === 398L * 3)
    } finally spark.conf.unset("graft.v2.maskedScan.maxPositions")
  }

  test("overwrite replaces atomically; history keeps the pre-overwrite snapshot") {
    val dir = tmp("ow")
    rows(40).write.format("graft").save(dir)
    rows(100).filter(col("id") >= 90)
      .write.format("graft").mode("overwrite").save(dir)
    assert(spark.read.format("graft").load(dir).count() === 10)
    assert(spark.read.format("graft").option("versionAsOf", "1").load(dir)
      .count() === 40)
    // an overwrite is a whole-table upsert: the change feed refuses to
    // narrate it without row lineage rather than mislabeling rows
    intercept[IllegalArgumentException] {
      SnapshotLog.changes(spark, dir, from = 0L)
    }
  }

  test("SQL DDL face: CREATE TABLE … USING graft") {
    val dir = tmp("ddl")
    rows(25).write.format("graft").save(dir)
    spark.sql(s"CREATE TABLE conn_ddl USING graft OPTIONS (path '$dir')")
    try {
      assert(spark.sql("SELECT count(*) AS n FROM conn_ddl").head.getLong(0) === 25)
      assert(spark.sql("SELECT sum(v) AS s FROM conn_ddl WHERE id < 5")
        .head.getLong(0) === 20)
    } finally spark.sql("DROP TABLE conn_ddl")
  }

  test("SQL INSERT INTO / OVERWRITE commit through the log, never raw root files") {
    val dir = tmp("ins")
    rows(20).write.format("graft").option("statsCols", "id").save(dir)
    spark.sql(s"CREATE TABLE conn_ins USING graft OPTIONS (path '$dir')")
    try {
      spark.sql("INSERT INTO conn_ins " +
        "SELECT id, concat('cat', pmod(id, 5)), id * 2 FROM range(20, 30)")
      assert(SnapshotLog.commits(spark, dir).map(_.op) === Seq("append", "append"))
      assert(spark.read.format("graft").load(dir).count() === 30)
      // the insert must be a LOG COMMIT, never parquet dumped at the root
      // (the stock InsertIntoHadoopFsRelationCommand path would do that —
      // and OVERWRITE through it would delete the log itself)
      val root = new java.io.File(dir).listFiles.map(_.getName).toSet
      assert(root.subsetOf(Set("_graft_log", "data")), s"stray root entries: $root")
      // INSERTed files inherit the table's pruning metadata (here: the
      // id zone) — a metadata-less write path would silently decay skipping
      assert(SnapshotLog.commits(spark, dir).last.added
        .forall(_.stats.contains("id")))
      spark.sql("INSERT OVERWRITE conn_ins SELECT id, 'x', id FROM range(5)")
      assert(spark.read.format("graft").load(dir).count() === 5)
      assert(SnapshotLog.commits(spark, dir).map(_.op) ===
        Seq("append", "append", "upsert"))
      // every pre-overwrite snapshot stays time-travelable
      assert(spark.read.format("graft").option("versionAsOf", "2").load(dir)
        .count() === 30)
      assert(spark.sql("SELECT sum(v) FROM conn_ins").head.getLong(0) === 10)
    } finally spark.sql("DROP TABLE conn_ins")
  }

  test("SQL INSERT with an explicit column list reorders by name; partial lists refuse") {
    val dir = tmp("inscols")
    rows(10).write.format("graft").save(dir)
    spark.sql(s"CREATE TABLE conn_inscols USING graft OPTIONS (path '$dir')")
    try {
      // (v, cat, id) named order ≠ (id, cat, v) table order: values must
      // land in the NAMED columns, not positionally
      spark.sql("INSERT INTO conn_inscols (v, cat, id) " +
        "SELECT id * 7, concat('k', id), id + 100 FROM range(3)")
      val got = spark.sql(
        "SELECT id, cat, v FROM conn_inscols WHERE id >= 100 ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(got.toSeq === Seq((100L, "k0", 0L), (101L, "k1", 7L), (102L, "k2", 14L)))
      // a PARTIAL column list has no defined fill for the rest — refuse
      val e = intercept[Exception] {
        spark.sql("INSERT INTO conn_inscols (id, cat) SELECT id, 'x' FROM range(1)")
      }
      assert(e.getMessage.contains("every table column") ||
        Option(e.getCause).exists(_.getMessage.contains("every table column")))
    } finally spark.sql("DROP TABLE conn_inscols")
  }

  test("randomized connector walk: every face against an in-memory model, all snapshots") {
    val dir = tmp("walk")
    val rnd = new scala.util.Random(42)
    var model = Vector.empty[(Long, Long)] // current (id, v) multiset
    // snapshot id → the model at that snapshot (whatever commits an op
    // made — DML may commit nothing, OPTIMIZE may commit several)
    var recorded = Vector.empty[(Long, Vector[(Long, Long)])]
    def snap(): Long = SnapshotLog.currentSnapshotId(spark, dir).get
    def fresh(step: Int): Seq[(Long, Long)] =
      (0 until (1 + rnd.nextInt(5))).map(j =>
        (step * 1000L + j, rnd.nextInt(1000).toLong))
    def frame(rows: Seq[(Long, Long)]) = {
      import spark.implicits._
      rows.toDF("id", "v")
    }
    // step 0 creates the table; a catalog name makes the SQL faces playable
    val first = fresh(0)
    frame(first).write.format("graft").option("statsCols", "id").save(dir)
    model = first.toVector
    spark.sql(s"CREATE TABLE conn_walk USING graft OPTIONS (path '$dir')")
    recorded :+= (snap(), model)
    val sink = new graft.connector.GraftStreamSink(spark.sqlContext, dir,
      Nil, org.apache.spark.sql.streaming.OutputMode.Append(),
      Map("txnAppId" -> "walk", "statsCols" -> "id"))
    try {
      for (step <- 1 to 30) {
        val rows = fresh(step)
        rnd.nextInt(8) match {
          case 0 => // writer append
            frame(rows).write.format("graft").mode("append")
              .option("statsCols", "id").save(dir)
            model = model ++ rows
          case 1 => // writer overwrite (atomic whole-table replacement)
            frame(rows).write.format("graft").mode("overwrite")
              .option("statsCols", "id").save(dir)
            model = rows.toVector
          case 2 => // SQL INSERT INTO through the analyzer rewrite
            frame(rows).createOrReplaceTempView("conn_walk_src")
            spark.sql("INSERT INTO conn_walk SELECT id, v FROM conn_walk_src")
            model = model ++ rows
          case 3 => // streaming sink micro-batch (txn append)
            sink.addBatch(step, frame(rows))
            model = model ++ rows
          case 4 => // SQL DELETE (may match nothing ⇒ commits nothing)
            val t = rnd.nextInt(1000)
            spark.sql(s"DELETE FROM conn_walk WHERE v < $t AND id % 2 = 0")
            model = model.filterNot { case (id, v) => v < t && id % 2 == 0 }
          case 5 => // SQL UPDATE (simultaneous assignment over pre-update rows)
            val t = rnd.nextInt(1000)
            spark.sql(s"UPDATE conn_walk SET v = v + 1000 WHERE v < $t")
            model = model.map { case (id, v) =>
              if (v < t) (id, v + 1000L) else (id, v) }
          case 6 => // SQL MERGE: matched sample updates, fresh rows insert
            val sample = model.take(2).map { case (id, _) => (id, -step.toLong) }
            frame(rows ++ sample).createOrReplaceTempView("conn_walk_mrg")
            spark.sql(
              """MERGE INTO conn_walk t USING conn_walk_mrg s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"""
                .stripMargin)
            val byKey = sample.toMap
            model = model.map { case (id, v) =>
              (id, byKey.getOrElse(id, v)) } ++ rows
          case 7 if recorded.size >= 2 && rnd.nextBoolean() =>
            // SQL RESTORE to a random older recorded snapshot
            val (target, m) = recorded(rnd.nextInt(recorded.size - 1))
            spark.sql(s"RESTORE conn_walk TO VERSION AS OF $target")
            model = m
          case 7 => // SQL OPTIMIZE: layout only, rows untouched
            spark.sql("OPTIMIZE conn_walk TARGET 1 MB")
        }
        val cur = snap()
        if (recorded.isEmpty || recorded.last._1 != cur)
          recorded :+= (cur, model)
        val got = spark.read.format("graft").load(dir)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(got === model.sorted, s"divergence after step $step")
      }
      // every recorded snapshot still resolves to exactly its model
      for ((id, m) <- recorded) {
        val got = spark.read.format("graft")
          .option("versionAsOf", id.toString).load(dir)
          .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(got === m.sorted, s"time travel to snapshot $id diverged")
      }
    } finally spark.sql("DROP TABLE conn_walk")
  }

  test("writer zorderBy: 2-D box queries prune on both dims through the reader") {
    val dir = tmp("zorder")
    spark.range(40000).select((col("id") % 200).as("x"),
        expr("id DIV 200").as("y"), col("id").as("v"))
      .write.format("graft")
      .option("zorderBy", "x,y").option("targetFiles", "16").save(dir)
    val all = spark.read.format("graft").load(dir)
    assert(fileScanOf(all).get.metrics("numFiles").value === 16)
    val box = all.filter(col("x").between(10, 40) && col("y").between(10, 40))
    val kept = fileScanOf(box).get.metrics("numFiles").value
    assert(kept <= 8, s"a ~2.4% box over 16 near-square z-tiles must skip " +
      s"most files, kept $kept (range-partition boundaries need not align " +
      "to Morton quadrants, so a handful of straddlers is expected)")
    assert(box.count() === 31L * 31L)
    // the Z-order point: a y-ONLY band prunes too — a 1-D x-sorted layout
    // could never skip a file for it
    val yband = all.filter(col("y").between(10, 40))
    assert(fileScanOf(yband).get.metrics("numFiles").value <= 8)
    assert(yband.count() === 31L * 200L)
  }

  test("writer zorderBy: N-dim (3-col) layout prunes on every dimension") {
    val dir = tmp("zorder3")
    // 40^3 grid: any single-dimension band must prune most of the 16
    // files — only an N-dim interleave gives ALL dims that property
    spark.range(64000).select((col("id") % 40).as("x"),
        expr("(id DIV 40) % 40").as("y"), expr("id DIV 1600").as("z"),
        col("id").as("v"))
      .write.format("graft")
      .option("zorderBy", "x,y,z").option("targetFiles", "16").save(dir)
    val all = spark.read.format("graft").load(dir)
    assert(fileScanOf(all).get.metrics("numFiles").value === 16)
    assert(all.count() === 64000)
    for (dim <- Seq("x", "y", "z")) {
      val band = all.filter(col(dim).between(0, 7)) // a 20% band
      val kept = fileScanOf(band).get.metrics("numFiles").value
      assert(kept <= 10, s"a 20% $dim-band over 16 z-tiles must skip " +
        s"files, kept $kept")
      assert(band.count() === 64000L / 5L)
    }
    // a 3-D box is the sweet spot: ~0.8% of the space
    val box = all.filter(col("x") < 8 && col("y") < 8 && col("z") < 8)
    assert(fileScanOf(box).get.metrics("numFiles").value <= 4)
    assert(box.count() === 8L * 8L * 8L)
  }

  test("timestamp equality never bloom-probes across domains (no silent row loss)") {
    val dir = tmp("tsbloom")
    // blooms over a timestamp column are built in cast-to-long SECONDS;
    // Catalyst literals are epoch MICROS — the reader must not probe the
    // bloom (zones, recorded in micros, still prune); rows must survive
    val df = spark.range(4000).select(col("id"),
      (lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).cast("timestamp")
        + expr("make_interval(0, 0, 0, 0, 0, 0, id)")).as("ts"))
    for (s <- 0 until 4)
      df.filter(pmod(col("id"), lit(4)) === s).coalesce(1)
        .write.format("graft").mode(if (s == 0) "error" else "append")
        .option("statsCols", "ts").option("bloomCol", "ts").save(dir)
    val back = spark.read.format("graft").load(dir)
    val hit = back.filter(col("ts") ===
      lit(java.sql.Timestamp.valueOf("2026-01-01 00:20:34")))
    assert(hit.count() === 1, "a present timestamp must be FOUND — bloom " +
      "domains (seconds) and literal domains (micros) must never be mixed")
  }

  test("streaming source: startingVersion=latest pins at FIRST start, not per restart") {
    val src = tmp("latsrc"); val dst = tmp("latdst"); val cp = tmp("latcp")
    rows(50).write.format("graft").save(src)
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("startingVersion", "latest").load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", cp).start(dst)
      try q.processAllAvailable() finally q.stop()
    }
    drain() // pins "latest" = snapshot 1; nothing after it yet
    assert(SnapshotLog.currentSnapshotId(spark, dst).isEmpty)
    // committed while the stream was DOWN — a restart that re-resolved
    // "latest" to the new head would silently skip this
    rows(80).filter(col("id") >= 50)
      .write.format("graft").mode("append").save(src)
    drain()
    assert(spark.read.format("graft").load(dst).count() === 30,
      "appends landed while the stream was down must arrive on restart")
  }

  test("streaming a drifted table carries the merged schema, not the oldest epoch's") {
    val dir = tmp("driftstream")
    spark.range(10).select(col("id"), lit("a").as("cat"))
      .write.format("graft").save(dir)
    spark.range(10, 20).select(col("id"), lit("b").as("cat"),
        (col("id") * 2).as("score"))
      .write.format("graft").mode("append").save(dir)
    val cp = tmp("driftstreamcp")
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("conn_drift_stream")
      .option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      val got = spark.table("conn_drift_stream")
      assert(got.schema.fieldNames.toSet === Set("id", "cat", "score"),
        "columns added in later epochs must stream")
      assert(got.filter(col("score").isNotNull).count() === 10)
      assert(got.count() === 20)
    } finally q.stop()
  }

  test("streaming sink update mode: first-batch tombstones honor deleteCol") {
    val src = tmp("delsrc"); val dst = tmp("deldst"); val cp = tmp("delcp")
    spark.range(10).select(col("id"), (col("id") * 3).as("v"),
        (col("id") >= 8).as("del"))
      .write.format("graft").option("statsCols", "id").save(src)
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft").outputMode("update")
        .option("mergeKey", "id").option("deleteCol", "del")
        .option("statsCols", "id")
        .option("checkpointLocation", cp).start(dst)
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    val first = spark.read.format("graft").load(dst)
    assert(first.count() === 8, "first-batch tombstones must not land as rows")
    assert(!first.schema.fieldNames.contains("del"),
      "the delete-flag column must not leak into the table schema")
    // later batches merge: update key 1, delete key 2
    spark.range(1, 3).select(col("id"), lit(-1L).as("v"),
        (col("id") === 2).as("del"))
      .write.format("graft").mode("append").save(src)
    drain()
    val cur = spark.read.format("graft").load(dst)
    assert(cur.count() === 7)
    assert(cur.filter(col("id") === 1).head.getLong(1) === -1L)
    assert(cur.filter(col("id") === 2).count() === 0)
  }

  test("a table overwritten to empty stays readable; schema recovered from history") {
    val dir = tmp("empty")
    rows(40).write.format("graft").option("statsCols", "id").save(dir)
    rows(1).filter(col("id") < 0) // empty frame
      .write.format("graft").mode("overwrite").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.count() === 0)
    assert(back.schema.fieldNames.toSeq === Seq("id", "cat", "v"))
    assert(spark.read.format("graft").option("versionAsOf", "1").load(dir)
      .count() === 40)
    // and the empty table accepts new appends
    rows(5).write.format("graft").mode("append").save(dir)
    assert(spark.read.format("graft").load(dir).count() === 5)
  }

  test("streaming source: first batch = table, later batches = new appends only") {
    val base = java.nio.file.Files.createTempDirectory("graft-connspec-stream").toString
    val dir = s"$base/t_parquet"
    rows(50).write.format("graft").option("statsCols", "id").save(dir)
    val cp = tmp("streamcp")
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("conn_stream")
      .option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      assert(spark.table("conn_stream").count() === 50)
      rows(80).filter(col("id") >= 50)
        .write.format("graft").mode("append").save(dir)
      // a compaction between stream reads must be invisible
      graft.cdc.Compaction.compactSnapshotted(spark, base, "t",
        targetBytes = Long.MaxValue)
      q.processAllAvailable()
      val got = spark.table("conn_stream")
      assert(got.count() === 80, "second drain must add ONLY the new rows")
      assert(got.select("id").distinct().count() === 80)
    } finally q.stop()
  }

  test("default readStream on a vacuumed table seeds the oldest retained snapshot") {
    val dir = tmp("streaminit")
    // three appends, then retention drops snapshot 1: a literal-0 start
    // can never resolve (0, head] any more — the source must pin
    // initial-snapshot semantics at the oldest retained id instead of
    // refusing the table forever
    rows(90).filter(col("id") < 30)
      .write.format("graft").option("statsCols", "id").save(dir)
    rows(90).filter(col("id") >= 30 && col("id") < 60)
      .write.format("graft").mode("append").save(dir)
    rows(90).filter(col("id") >= 60)
      .write.format("graft").mode("append").save(dir)
    SnapshotLog.expireSnapshots(spark, dir, retainLast = 2)
    assert(SnapshotLog.snapshots(spark, dir) === Seq(2L, 3L))
    val cp = tmp("streaminitcp")
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("conn_stream_init")
      .option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      // seed = live state at snapshot 2 (ids 0..59), delta = snapshot 3
      assert(spark.table("conn_stream_init").count() === 90)
      // the stream keeps tailing ordinary appends after the seed
      rows(100).filter(col("id") >= 90)
        .write.format("graft").mode("append").save(dir)
      q.processAllAvailable()
      val got = spark.table("conn_stream_init")
      assert(got.count() === 100)
      assert(got.select("id").distinct().count() === 100, "no dupes, no loss")
    } finally q.stop()
  }

  test("streaming source: data-changing commits throw; skipChangeCommits streams past") {
    val dir = tmp("streamch")
    rows(30).write.format("graft").save(dir)
    Merge.mergeOnRead(spark, dir,
      spark.range(5).select(col("id"), lit("u").as("cat"), col("id").as("v")),
      keyCol = "id")
    val cp1 = tmp("streamchcp1")
    val q1 = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("conn_stream_ch")
      .option("checkpointLocation", cp1).start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    q1.stop()
    assert(err.getMessage.contains("rowdelta") ||
      Option(err.getCause).exists(_.getMessage.contains("rowdelta")))
    val cp2 = tmp("streamchcp2")
    val q2 = spark.readStream.format("graft")
      .option("skipChangeCommits", "true").load(dir)
      .writeStream.format("memory").queryName("conn_stream_skip")
      .option("checkpointLocation", cp2).start()
    try {
      q2.processAllAvailable()
      // appends only: the rowdelta commit's files are skipped
      assert(spark.table("conn_stream_skip").count() === 30)
    } finally q2.stop()
  }

  test("streaming source: maxFilesPerTrigger drip-feeds the backlog in bounded batches") {
    val dir = tmp("rate")
    for (s <- 0 until 4)
      rows(100).filter(pmod(col("id"), lit(4)) === s).coalesce(1)
        .write.format("graft").mode(if (s == 0) "error" else "append").save(dir)
    val dst = tmp("ratedst"); val cp = tmp("ratecp")
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxFilesPerTrigger", "1").load(dir)
        .writeStream.format("graft")
        .option("checkpointLocation", cp).start(dst)
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    assert(spark.read.format("graft").load(dst).count() === 100)
    // 4 one-file commits at cap 1 = 4 sink commits, not one monster batch
    val batches = SnapshotLog.commits(spark, dst)
    assert(batches.size === 4,
      "the backlog must arrive commit-by-commit under the file cap")
    assert(batches.map(_.summary("txnBatchId")) === Seq("0", "1", "2", "3"))
    // restart against new backlog: the limiter cursor restores from the
    // checkpoint (getBatch), the sink's replay guard dedups the re-offered
    // last batch — no row lost or duplicated
    rows(200).filter(col("id") >= 100)
      .write.format("graft").mode("append").save(dir)
    drain()
    val back = spark.read.format("graft").load(dst)
    assert(back.count() === 200)
    assert(back.select("id").distinct().count() === 200)
  }

  test("streaming source: startingTimestamp begins at the earliest commit at/after it") {
    val dir = tmp("startts")
    for (s <- 0 until 3) {
      rows(300).filter(col("id") >= s * 100 && col("id") < (s + 1) * 100)
        .coalesce(1)
        .write.format("graft").mode(if (s == 0) "error" else "append").save(dir)
      Thread.sleep(15) // distinct commit timestamps
    }
    val cs = SnapshotLog.commits(spark, dir)
    assert(cs.size === 3 && cs.map(_.tsMs).distinct.size === 3)
    // a timestamp strictly between commit 1 and commit 2: the stream must
    // deliver commits 2 and 3 only
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    val t = fmt.format(new java.util.Date((cs(0).tsMs + cs(1).tsMs) / 2))
    val dst = tmp("startts-dst"); val cp = tmp("startts-cp")
    val q = spark.readStream.format("graft")
      .option("startingTimestamp", t).load(dir)
      .writeStream.format("graft")
      .option("checkpointLocation", cp).start(dst)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.format("graft").load(dst)
    assert(got.count() === 200 && got.agg(min(col("id"))).head.getLong(0) === 100L)
    // both options together refuse
    val e = intercept[Exception] {
      val q2 = spark.readStream.format("graft")
        .option("startingTimestamp", t).option("startingVersion", "1").load(dir)
        .writeStream.format("console")
        .option("checkpointLocation", tmp("startts-cp2")).start()
      try q2.processAllAvailable() finally q2.stop()
    }
    assert(e.getMessage.contains("not both") ||
      Option(e.getCause).exists(_.getMessage.contains("not both")))
  }

  test("streaming sink: graft→graft append, exactly-once across restarts") {
    val src = tmp("sinksrc"); val dst = tmp("sinkdst"); val cp = tmp("sinkcp")
    rows(50).write.format("graft").option("statsCols", "id").save(src)
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", cp).option("statsCols", "id")
        .start(dst)
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    assert(spark.read.format("graft").load(dst).count() === 50)
    val c1 = SnapshotLog.commits(spark, dst)
    assert(c1.map(_.op) === Seq("append"))
    assert(c1.head.summary("txnBatchId") === "0")
    assert(c1.head.summary("txnAppId").nonEmpty)
    // restart with nothing new: the replay guard keeps the log unchanged
    drain()
    assert(SnapshotLog.commits(spark, dst).size === c1.size)
    // new source appends flow through exactly once
    rows(80).filter(col("id") >= 50)
      .write.format("graft").mode("append").save(src)
    drain()
    val back = spark.read.format("graft").load(dst)
    assert(back.count() === 80)
    assert(back.select("id").distinct().count() === 80)
    // the sink's own output is a first-class graft table: fast scan + zones
    assert(fileScanOf(back.filter(col("id") < 10)).isDefined)
  }

  test("streaming sink: replayed batch ids drop; empty batches advance the guard") {
    val dst = tmp("sinkreplay")
    val sink = new graft.connector.GraftStreamSink(spark.sqlContext, dst,
      Nil, org.apache.spark.sql.streaming.OutputMode.Append(),
      Map("txnAppId" -> "unit"))
    sink.addBatch(0, rows(10))
    sink.addBatch(0, rows(10).withColumn("v", lit(-1L))) // replay: dropped
    sink.addBatch(1, rows(10).filter(col("id") >= 10))   // empty batch
    sink.addBatch(2, rows(20).filter(col("id") >= 10))
    assert(spark.read.format("graft").load(dst).count() === 20)
    assert(spark.read.format("graft").load(dst)
      .filter(col("v") < 0).count() === 0, "the replayed batch must not land")
    val cs = SnapshotLog.commits(spark, dst)
    assert(cs.map(_.summary("txnBatchId")) === Seq("0", "1", "2"))
    assert(cs(1).added.isEmpty, "empty batch commits zero files, id still advances")
  }

  test("streaming sink: complete mode replaces atomically, history time-travels") {
    val src = tmp("cmpsrc"); val dst = tmp("cmpdst"); val cp = tmp("cmpcp")
    rows(50).write.format("graft").save(src)
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .groupBy("cat").agg(count(lit(1)).as("n"))
        .writeStream.format("graft").outputMode("complete")
        .option("checkpointLocation", cp).start(dst)
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    val v1 = spark.read.format("graft").load(dst)
    assert(v1.count() === 5)
    assert(v1.agg(sum("n")).head.getLong(0) === 50)
    rows(100).filter(col("id") >= 50)
      .write.format("graft").mode("append").save(src)
    drain()
    val cur = spark.read.format("graft").load(dst)
    assert(cur.count() === 5)
    assert(cur.agg(sum("n")).head.getLong(0) === 100,
      "complete output reflects ALL source rows, not just the new batch")
    assert(spark.read.format("graft").option("versionAsOf", "1").load(dst)
      .agg(sum("n")).head.getLong(0) === 50)
    assert(SnapshotLog.commits(spark, dst).map(_.op) === Seq("append", "upsert"))
  }

  test("streaming sink: update mode merges per key through merge-on-read") {
    val src = tmp("updsrc"); val dst = tmp("upddst"); val cp = tmp("updcp")
    rows(50).write.format("graft").option("statsCols", "id").save(src)
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft").outputMode("update")
        .option("mergeKey", "id").option("statsCols", "id")
        .option("checkpointLocation", cp).start(dst)
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    assert(spark.read.format("graft").load(dst).count() === 50)
    // overlapping keys 40..59: 10 updates + 10 inserts in one batch
    spark.range(40, 60).select(col("id"), lit("upd").as("cat"),
        (col("id") * 100).as("v"))
      .write.format("graft").mode("append").save(src)
    drain()
    val cur = spark.read.format("graft").load(dst)
    assert(cur.count() === 60)
    assert(cur.filter(col("cat") === "upd").count() === 20)
    assert(cur.filter(col("id") === 45).head.getAs[Long]("v") === 4500L)
    assert(SnapshotLog.commits(spark, dst).map(_.op) === Seq("append", "rowdelta"))
  }

  test("streaming sink: partitionBy records per-file values the reader prunes on") {
    val src = tmp("partsrc"); val dst = tmp("partdst"); val cp = tmp("partcp")
    rows(1000).write.format("graft").save(src)
    val q = spark.readStream.format("graft").load(src)
      .repartition(40, col("cat")) // co-locate each cat in one task/file
      .writeStream.format("graft").partitionBy("cat")
      .option("checkpointLocation", cp).start(dst)
    try q.processAllAvailable() finally q.stop()
    val all = spark.read.format("graft").load(dst)
    assert(all.count() === 1000)
    val full = fileScanOf(all).get.metrics("numFiles").value
    assert(full > 1)
    val one = all.filter(col("cat") === "cat1")
    assert(fileScanOf(one).get.metrics("numFiles").value === 1,
      "a single cat lives in one file; partition values must prune the rest")
    assert(one.count() === 200)
  }

  test("streaming change feed with cdfPreImages: pre/post pairs and full-payload deletes") {
    val dir = tmp("cdfpre"); val cp = tmp("cdfprecp"); val sink = tmp("cdfpreout")
    import spark.implicits._
    (0L until 10L).map(i => (i, i * 2)).toDF("id", "v")
      .write.format("graft").option("statsCols", "id").save(dir)
    // one MOR commit: update ids 3,4 (v+100), insert ids 20,21;
    // one tombstone commit: delete id 5
    Merge.mergeOnRead(spark, dir,
      Seq((3L, 106L), (4L, 108L), (20L, 40L), (21L, 42L)).toDF("id", "v"), "id")
    Merge.mergeOnRead(spark, dir,
      Seq((5L, 0L)).toDF("id", "v").withColumn("_d", lit(true)),
      "id", deleteCol = Some("_d"))
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("cdfPreImages", "true")
      .option("startingVersion", "1").load(dir)
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", cp).start()
    try q.processAllAvailable() finally q.stop()
    val ev = spark.read.parquet(sink).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("_change_op"),
        r.getAs[Long]("v"))).toSet
    assert(ev === Set(
      (3L, "update_preimage", 6L), (3L, "update_postimage", 106L),
      (4L, "update_preimage", 8L), (4L, "update_postimage", 108L),
      (20L, "insert", 40L), (21L, "insert", 42L),
      (5L, "delete", 10L))) // delete carries the parent row's payload
    // cdfPreImages without readChangeFeed refuses loudly (the refusal may
    // surface at start or wrapped in the query's failure)
    val e = intercept[Exception] {
      val bad = spark.readStream.format("graft").option("cdfPreImages", "true")
        .load(dir).writeStream.format("memory").queryName("cdfpre_bad")
        .option("checkpointLocation", tmp("cdfprebad")).start()
      try bad.processAllAvailable() finally bad.stop()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + messages(t.getCause)
    assert(messages(e).contains("readChangeFeed"), messages(e))
  }

  test("streaming change feed: readChangeFeed emits row-level events across DML") {
    val dir = tmp("cdf"); val cp = tmp("cdfcp"); val sink = tmp("cdfout")
    import spark.implicits._
    (0L until 10L).map(i => (i, i * 2)).toDF("id", "v")
      .write.format("graft").option("statsCols", "id").save(dir)
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("readChangeFeed", "true").load(dir)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", cp).start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    val batch1 = spark.read.parquet(sink)
      .select("id", "v", "_change_op", "_change_snapshot").collect()
    assert(batch1.length === 10 && batch1.forall(r =>
      r.getString(2) === "insert" && r.getLong(3) === 1L))
    // a MOR upsert (key 5 rewritten) and a MOR delete (key 3 gone):
    // the RESUMED stream must emit exactly those row-level events
    Merge.mergeOnRead(spark, dir, Seq((5L, 555L)).toDF("id", "v"), "id")
    Merge.mergeOnRead(spark, dir,
      Seq((3L, 0L, true)).toDF("id", "v", "_del"), "id", deleteCol = Some("_del"))
    drain()
    val events = spark.read.parquet(sink).filter(col("_change_snapshot") > 1)
      .select("id", "v", "_change_op", "_change_snapshot")
      .collect().map(r => (r.getLong(0), Option(r.get(1)),
        r.getString(2), r.getLong(3))).sortBy(_._4)
    assert(events.toSeq === Seq(
      (5L, Some(555L), "upsert", 2L),
      (3L, None, "delete", 3L)),
      s"got: ${events.toSeq}")
    // the streamed feed equals the batch feed over the same interval
    val batchFeed = SnapshotLog.changes(spark, dir, 1L, Some(3L)).get
      .select(col("id"), col("_change_op")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(events.map(e => (e._1, e._3)).toSet === batchFeed)
  }

  test("a mid-stream RENAME COLUMN fails the stream loudly, never null-fills") {
    val dir = tmp("renstream"); val cp = tmp("rencp"); val sink = tmp("renout")
    rows(50).write.format("graft").save(dir)
    spark.sql(s"CREATE TABLE conn_ren_stream USING graft OPTIONS (path '$dir')")
    try {
      // ONE live query across the rename — a query's schema is fixed at
      // its start, so this is the window where silent null-fill would
      // corrupt the sink
      val q = spark.readStream.format("graft").load(dir)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", cp).start()
      val e = try {
        q.processAllAvailable() // batch 1 under the fixed schema (has `v`)
        assert(spark.read.parquet(sink).filter(col("v").isNotNull).count() === 50)
        spark.sql("ALTER TABLE conn_ren_stream RENAME COLUMN v TO val")
        spark.sql("INSERT INTO conn_ren_stream VALUES (900, 'cat9', 1800)")
        // the fixed schema's `v` was renamed away: silently null-filling
        // it would corrupt every subsequent row (the table HAS the
        // values, under `val`) — the stream must fail asking for restart
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
      } finally q.stop()
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("renamed or dropped")),
        s"got: ${messages(e)}")
      // a FRESH stream (new checkpoint) adopts the new schema and flows
      val cp2 = tmp("rencp2"); val sink2 = tmp("renout2")
      val q2 = spark.readStream.format("graft").load(dir)
        .writeStream.format("parquet")
        .option("path", sink2).option("checkpointLocation", cp2).start()
      try q2.processAllAvailable() finally q2.stop()
      val fresh = spark.read.parquet(sink2)
      assert(fresh.columns.contains("val") && !fresh.columns.contains("v"))
      assert(fresh.filter(col("val") === 1800).count() === 1)
    } finally spark.sql("DROP TABLE conn_ren_stream")
  }

  test("streaming across ALTER ADD COLUMNS: fixed widened schema, old batches null-fill") {
    val dir = tmp("altstream"); val cp = tmp("altcp"); val sink = tmp("altout")
    rows(100).write.format("graft").save(dir)
    spark.sql(s"CREATE TABLE conn_alt_stream USING graft OPTIONS (path '$dir')")
    try {
      spark.sql("ALTER TABLE conn_alt_stream ADD COLUMNS (extra BIGINT)")
      def drain(): Unit = {
        val q = spark.readStream.format("graft").load(dir)
          .writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", cp).start()
        try q.processAllAvailable() finally q.stop()
      }
      drain() // batch 1 = the pre-ALTER append, null-filled to the widened schema
      val b1 = spark.read.parquet(sink)
      assert(b1.columns.contains("extra") && b1.count() === 100 &&
        b1.filter(col("extra").isNotNull).count() === 0)
      spark.sql("INSERT INTO conn_alt_stream VALUES (500, 'cat9', 1000, 77)")
      drain() // batch 2 carries the materialized column
      assert(spark.read.parquet(sink).filter(col("extra") === 77).count() === 1)
    } finally spark.sql("DROP TABLE conn_alt_stream")
  }

  test("a CDF stream that lost its interval to retention fails loudly") {
    val dir = tmp("cdfexp"); val cp = tmp("cdfexpcp"); val sink = tmp("cdfexpout")
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .write.format("graft").option("statsCols", "id").save(dir)
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("readChangeFeed", "true").load(dir)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", cp).start()
      try q.processAllAvailable() finally q.stop()
    }
    drain() // consumes snapshot 1
    // three more commits land while the stream is down…
    for (i <- 3 to 5)
      Merge.mergeOnRead(spark, dir, Seq((i.toLong, i * 100L)).toDF("id", "v"), "id")
    // …and retention outpaces the consumer: snapshots 2-3 expire
    SnapshotLog.expireSnapshots(spark, dir, retainLast = 2, orphanGraceMs = 0L)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    assert(e.getCause.getMessage.contains("expired"),
      s"the resumed stream must name the lost snapshots, got: ${e.getCause}")
  }

  test("INSERT OVERWRITE that replaces nothing commits as the append it is") {
    val dir = tmp("ovwempty")
    rows(20).write.format("graft").save(dir)
    spark.sql(s"CREATE TABLE conn_ovw_empty USING graft OPTIONS (path '$dir')")
    try {
      spark.sql("DELETE FROM conn_ovw_empty") // metadata truncation
      rows(10).createOrReplaceTempView("conn_ovw_src")
      spark.sql("INSERT OVERWRITE conn_ovw_empty SELECT * FROM conn_ovw_src")
      assert(spark.sql("SELECT count(*) FROM conn_ovw_empty").head.getLong(0) === 10)
      // the live set was empty, so nothing was replaced: an op-upsert
      // commit here would make feeds/streams refuse the table
      assert(SnapshotLog.commits(spark, dir).map(_.op) ===
        Seq("append", "upsert", "append"))
    } finally spark.sql("DROP TABLE conn_ovw_empty")
  }

  test("CREATE TABLE AS SELECT lands as a log commit; INSERT works after") {
    val dir = tmp("ctas")
    rows(500).createOrReplaceTempView("conn_ctas_src")
    spark.sql(s"CREATE TABLE conn_ctas USING graft OPTIONS (path '$dir') " +
      "AS SELECT * FROM conn_ctas_src WHERE id < 400")
    try {
      // the CTAS wrote THROUGH the commit protocol (one id-1 commit with
      // manifested files), never raw root files
      val cs = SnapshotLog.commits(spark, dir)
      assert(cs.size === 1 && cs.head.added.nonEmpty, s"CTAS must log-commit: $cs")
      assert(spark.sql("SELECT count(*), sum(v) FROM conn_ctas").head ===
        org.apache.spark.sql.Row(400L, (0L until 400).map(_ * 2).sum))
      spark.sql("INSERT INTO conn_ctas SELECT * FROM conn_ctas_src WHERE id >= 400")
      assert(spark.sql("SELECT count(*) FROM conn_ctas").head.getLong(0) === 500)
      assert(SnapshotLog.commits(spark, dir).size === 2)
    } finally spark.sql("DROP TABLE conn_ctas")
  }

  test("metadata-only aggregates: unfiltered count/min/max plan NO scan") {
    val dir = tmp("metaagg")
    rows(1000).write.format("graft").option("statsCols", "id").save(dir)
    rows(2000).filter(col("id") >= 1000)
      .write.format("graft").mode("append").option("statsCols", "id").save(dir)
    val agg = spark.read.format("graft").load(dir)
      .agg(count(lit(1)).as("n"), min(col("id")).as("mn"), max(col("id")).as("mx"))
    val row = agg.head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) === ((2000L, 0L, 1999L)))
    // the optimized plan is a LocalRelation — zero scan nodes, the
    // manifest answered everything
    val optimized = agg.queryExecution.optimizedPlan
    assert(optimized.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      s"expected a LocalRelation-only plan, got:\n$optimized")

    // any Filter (even one the zones could prune) disables the rewrite:
    // the filtered aggregate still scans and still answers correctly
    val filtered = spark.read.format("graft").load(dir)
      .filter(col("id") < 1000).agg(count(lit(1)).as("n"))
    assert(filtered.head.getLong(0) === 1000L)
    assert(!filtered.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

    // count(col) needs null accounting the manifest doesn't have: scan
    val perCol = spark.read.format("graft").load(dir).agg(count(col("cat")).as("n"))
    assert(!perCol.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(perCol.head.getLong(0) === 2000L)

    // a column with NO recorded zone (v was not a statsCol) bails to the
    // scan for min/max but the answer is identical
    val noZone = spark.read.format("graft").load(dir).agg(max(col("v")).as("mx"))
    assert(!noZone.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(noZone.head.getLong(0) === 3998L)

    // a MASKED snapshot plans the computed relation — never matched, and
    // the metadata row counts (which over-count masked rows) are not used
    Merge.mergeOnRead(spark, dir,
      rows(2000).filter(col("id") < 10).withColumn("_del", lit(true)),
      "id", deleteCol = Some("_del"))
    val masked = spark.read.format("graft").load(dir).agg(count(lit(1)).as("n"))
    assert(masked.head.getLong(0) === 1990L)
  }

  test("manifest-accurate sizeInBytes: a small graft table auto-broadcasts unhinted") {
    val dir = tmp("cbo")
    rows(50).write.format("graft").save(dir) // a few KB: far under the threshold
    val dim = spark.read.format("graft").load(dir)
    val fact = spark.range(100000).select(col("id"), pmod(col("id"), lit(50)).as("k"))
    val joined = fact.join(dim, fact("k") === dim("id")) // NO broadcast hint
    joined.collect()
    // string-match the final plan: AQE query-stage wrappers hide the join
    // node from collect()
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("BroadcastHashJoin"),
      "manifest byte stats must let the planner broadcast the small side " +
        s"without a hint; got:\n$planStr")
  }

  test("batch readChangeFeed options: the reader face equals the changes() feed") {
    val dir = tmp("batchcdf")
    rows(100).coalesce(1).write.format("graft")
      .option("statsCols", "id").save(dir)
    // MOR upserts + deletes so the feed has insert/upsert/delete events
    Merge.mergeOnRead(spark, dir,
      rows(150).filter(col("id") >= 50).withColumn("v", col("v") * 10), "id")
    Merge.mergeOnRead(spark, dir,
      rows(10).withColumn("_del", lit(true)), "id", deleteCol = Some("_del"))
    val viaOptions = spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .load(dir)
    val direct = SnapshotLog.changes(spark, dir, 1L).get
    assert(viaOptions.count() === direct.count() && direct.count() > 0)
    assert(viaOptions.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaOptions).isEmpty)
    // endingVersion bounds the feed; column pruning works through the face
    val bounded = spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .option("endingVersion", "2").load(dir)
    // (1, 2] covers only the first merge's rowdelta: upsert events, no
    // deletes yet
    assert(bounded.select(col("_change_op")).distinct().collect()
      .map(_.getString(0)).toSet === Set("upsert"))
    // feed + time travel refuse; missing start refuses with the option named
    assert(intercept[IllegalArgumentException] {
      spark.read.format("graft").option("readChangeFeed", "true")
        .option("versionAsOf", "1").load(dir)
    }.getMessage.contains("time-travel"))
    assert(intercept[IllegalArgumentException] {
      spark.read.format("graft").option("readChangeFeed", "true").load(dir)
    }.getMessage.contains("startingVersion"))
    // startingTimestamp: a commit landing EXACTLY at the timestamp is
    // included (stream-source semantics), and a timestamp predating the
    // whole history replays everything instead of erroring
    val cs = SnapshotLog.commits(spark, dir)
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    val atC2 = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingTimestamp", fmt.format(new java.util.Date(cs(1).tsMs)))
      .load(dir)
    assert(atC2.select(col("_change_snapshot")).distinct().collect()
      .map(_.getLong(0)).toSet === Set(2L, 3L))
    val preHistory = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingTimestamp",
        fmt.format(new java.util.Date(cs(0).tsMs - 60000)))
      .load(dir)
    assert(preHistory.count() === direct.count() +
      spark.read.format("graft").option("readChangeFeed", "true")
        .option("startingVersion", "0").option("endingVersion", "1").load(dir)
        .count())
    // an EMPTY interval is an empty frame UNDER THE FEED'S SCHEMA — the
    // change columns stay referencable (the graft_changes TVF contract)
    val idle = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", cs.last.snapshotId.toString).load(dir)
    assert(idle.filter(col("_change_op") === "insert").count() === 0)
  }

  test("ANALYZE TABLE: manifest-derived stats land in the catalog; CBO sees them") {
    val dir = tmp("analyze")
    spark.range(0, 1000)
      .select(col("id"), concat(lit("name_"), col("id")).as("name"),
        (col("id") % 10).as("bucket"))
      .write.format("graft").option("statsCols", "id").save(dir)
    spark.sql(s"CREATE TABLE conn_an USING graft OPTIONS (path '$dir')")
    try {
      // DML so the live set differs from the raw directory listing —
      // Spark's own ANALYZE would count the dead pre-rewrite files too
      spark.sql("DELETE FROM conn_an WHERE id < 100")
      val rep = spark.sql(
        "ANALYZE TABLE conn_an COMPUTE STATISTICS FOR ALL COLUMNS").head
      assert(rep.getLong(0) === 900L && rep.getInt(3) === 3)
      val meta = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("conn_an"))
      val st = meta.stats.get
      assert(st.rowCount.contains(BigInt(900)))
      assert(st.sizeInBytes > 0 &&
        st.sizeInBytes === SnapshotLog.filesAt(spark, dir)
          .filter(_.kind == "data").map(_.bytes).sum)
      val idStat = st.colStats("id")
      assert(idStat.min.contains("100") && idStat.max.contains("999"))
      assert(idStat.nullCount.contains(BigInt(0)))
      assert(idStat.distinctCount.exists(n => n > 800 && n < 1000)) // approx NDV
      val nameStat = st.colStats("name")
      assert(nameStat.min.isEmpty && nameStat.maxLen.contains(8L)) // "name_999"
      val bucketStat = st.colStats("bucket")
      assert(bucketStat.min.contains("0") && bucketStat.max.contains("9"))
      // the optimizer-visible relation stats carry the analyzed row count
      // when CBO is on
      spark.conf.set("spark.sql.cbo.enabled", "true")
      try {
        val plan = spark.table("conn_an").queryExecution.optimizedPlan
        assert(plan.stats.rowCount.contains(BigInt(900)))
      } finally spark.conf.set("spark.sql.cbo.enabled", "false")
    } finally spark.sql("DROP TABLE conn_an")
  }

  test("ANALYZE delegation: non-graft targets and wider forms keep Spark's path") {
    spark.range(10).write.mode("overwrite").saveAsTable("conn_an_parquet")
    try {
      // parquet table: Spark's own ANALYZE runs (ours returns None)
      spark.sql("ANALYZE TABLE conn_an_parquet COMPUTE STATISTICS")
      val st = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("conn_an_parquet")).stats
      assert(st.exists(_.rowCount.contains(BigInt(10))))
      // a wider ANALYZE form on a graft table delegates too (Spark then
      // fails it as unsupported for the source, not as a graft error)
      val dir = tmp("an-deleg")
      spark.range(5).write.format("graft").save(dir)
      spark.sql(s"CREATE TABLE conn_an_g USING graft OPTIONS (path '$dir')")
      try {
        val e = intercept[Exception] {
          spark.sql("ANALYZE TABLE conn_an_g PARTITION (p=1) COMPUTE STATISTICS")
        }
        assert(!e.getMessage.contains("graft ANALYZE"))
      } finally spark.sql("DROP TABLE conn_an_g")
    } finally spark.sql("DROP TABLE conn_an_parquet")
  }
}
