package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._
import graft.schema.Schemas

/** CDC protocol tests over the in-repo fixtures (FIXTURES.md §A.3):
  * decode fidelity, offset resume, empty delta, at-least-once replay,
  * tombstones, malformed JSON, unknown-table fallback.
  */
class CdcSpec extends AnyFunSuite {
  lazy val spark = Sessions.local("4", "cdc-spec")
  val fixtures = CdcQueries.FixtureDir
  def source = new FileCdcSource(fixtures)

  def freshDirs(): (String, OffsetStore, SyncJob) = {
    val base = Files.createTempDirectory("graft-sync").toString
    val store = new OffsetStore(s"$base/offsets")
    (base, store, new SyncJob(source, store, s"$base/warehouse", singleFile = true))
  }

  test("decode orders: schema, projection order, provenance columns") {
    val df = Envelope.decode(
      source.read(spark, Schemas.topicFor("orders"), StartingOffsets.Earliest), "orders")
    assert(df.columns.toSeq == Seq("order_id", "customer_id", "order_date", "status",
      "total_amount", "shipping_address", "kafka_timestamp", "topic", "kafka_offset"))
    assert(df.count() == 10)
    val first = df.orderBy(col("kafka_offset")).head()
    assert(first.getAs[Int]("order_id") == 1)
    assert(first.getAs[Long]("order_date") == 1709287200000000L)
    assert(first.getAs[String]("total_amount") == "100.99")
  }

  test("offset-bounded read returns only the delta") {
    val st = StartingOffsets.PerPartition(Map(Schemas.topicFor("orders") -> Map(0 -> 6L)))
    val df = source.read(spark, Schemas.topicFor("orders"), st)
    assert(df.agg(min(col("offset"))).head().getLong(0) == 6L)
    assert(df.count() == 4)
  }

  test("startingOffsets JSON rendering matches the Kafka option format") {
    assert(StartingOffsets.toJson(StartingOffsets.Earliest) == "earliest")
    assert(StartingOffsets.toJson(
      StartingOffsets.PerPartition(Map("t" -> Map(0 -> 42L)))) == """{"t": {"0": 42}}""")
  }

  test("KafkaCdcSource option surface is the reference's, byte for byte") {
    val src = new KafkaCdcSource("kafka:9092")
    val topic = Schemas.topicFor("orders")
    // first sync: read everything (kafka_to_s3_enhanced.py:94 earliest)
    assert(src.options(topic, StartingOffsets.Earliest) == Map(
      "kafka.bootstrap.servers" -> "kafka:9092",
      "subscribe" -> topic,
      "startingOffsets" -> "earliest",
      "endingOffsets" -> "latest",
      "kafka.security.protocol" -> "PLAINTEXT"))
    // resumed sync: per-partition JSON at last+1, exactly the shape the
    // reference renders (kafka_to_s3_enhanced.py:95-96)
    val store = new OffsetStore(Files.createTempDirectory("graft-kopt").toString)
    store.commit("orders", 5L, 6L)
    val resumed = store.startingOffsetsFor("orders", topic)
    assert(src.options(topic, resumed)("startingOffsets") ==
      s"""{"$topic": {"0": 6}}""")
    // multi-partition resume: the N>1 generalization renders each
    // partition's own +1 bound, sorted, in the same option JSON
    store.commitPartitioned("orders", Map(2 -> 9L, 1 -> 3L), 4L)
    val multi = store.startingOffsetsFor("orders", topic)
    assert(src.options(topic, multi)("startingOffsets") ==
      s"""{"$topic": {"0": 6, "1": 4, "2": 10}}""")
  }

  test("sync job: full first sync, then empty delta, then idempotent state") {
    val (_, store, job) = freshDirs()
    val r1 = job.sync(spark, "orders")
    assert(r1.records == 10 && r1.maxOffset == 9 && r1.wrote)
    assert(store.lastOffset("orders") == 9)
    // warehouse got exactly the decoded rows, one file (coalesce(1) parity mode)
    val counts = job.verifyCounts(spark, Seq("orders"))
    assert(counts("orders") == 10)
    // second sync: no new offsets → empty delta, no write, state unchanged
    val r2 = job.sync(spark, "orders")
    assert(r2.records == 0 && !r2.wrote)
    assert(store.lastOffset("orders") == 9)
    assert(job.verifyCounts(spark, Seq("orders"))("orders") == 10)
  }

  test("partitioned warehouse layout: sync_date dirs exist and prune on read") {
    val base = Files.createTempDirectory("graft-sync-part").toString
    val store = new OffsetStore(s"$base/offsets")
    val job = new SyncJob(source, store, s"$base/warehouse", partitionBySyncDate = true)
    val res = job.sync(spark, "orders")
    assert(res.wrote && res.records > 0)
    val tableDir = new java.io.File(s"$base/warehouse/orders_parquet")
    val partDirs = tableDir.listFiles().filter(_.getName.startsWith("sync_date="))
    assert(partDirs.nonEmpty, "expected sync_date=... partition directories")
    val back = spark.read.parquet(tableDir.toString)
    assert(back.count() == res.records)
    // a sync_date equality filter must reach the scan as a partition filter
    val someDate = back.select(col("sync_date")).head().getDate(0).toString
    val plan = back.filter(col("sync_date") === someDate)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("sync_date"),
      s"partition pruning missing from plan:\n$plan")
  }

  test("at-least-once: replaying a committed batch duplicates rows (reference semantics)") {
    val (_, store, job) = freshDirs()
    job.sync(spark, "orders")
    store.commit("orders", 5, 6) // simulate a crash that lost the last commit
    val r = job.sync(spark, "orders")
    assert(r.records == 4) // offsets 6..9 re-read
    assert(job.verifyCounts(spark, Seq("orders"))("orders") == 14) // duplicated append
  }

  test("offset store: missing and corrupt state read as -1") {
    val (base, store, _) = freshDirs()
    assert(store.lastOffset("nope") == -1L)
    Files.write(Paths.get(s"$base/offsets/bad.json"), "not json".getBytes)
    assert(store.lastOffset("bad") == -1L)
  }

  test("sync all four tables concurrently") {
    val (_, _, job) = freshDirs()
    val rs = job.syncAll(spark, Seq("orders", "customers", "products", "order_items"))
    assert(rs.map(r => r.table -> r.records).toMap ==
      Map("orders" -> 10, "customers" -> 6, "products" -> 6, "order_items" -> 8))
  }

  test("scd2 history: version chains are contiguous and agree with latest-state") {
    val hist = cdc.CdcQueries.queries("cdc_scd2_history")(spark, "").collect()
    assert(hist.nonEmpty)
    // per key: exactly one open (current) version, and each closed
    // version's valid_to equals the next version's valid_from
    hist.groupBy(_.getAs[Int]("order_id")).foreach { case (oid, vs) =>
      assert(vs.count(_.getAs[Boolean]("is_current")) == 1, s"order $oid")
      val sorted = vs.sortBy(_.getAs[Long]("valid_from_offset"))
      sorted.init.zip(sorted.tail).foreach { case (a, b) =>
        assert(a.getAs[Long]("valid_to_offset") == b.getAs[Long]("valid_from_offset"),
          s"order $oid: gap in version chain")
      }
    }
    val current = hist.filter(_.getAs[Boolean]("is_current"))
      .map(r => r.getAs[Int]("order_id") -> r.getAs[String]("status")).toMap
    val latest = cdc.CdcQueries.queries("cdc_latest_state")(spark, "").collect()
      .map(r => r.getAs[Int]("order_id") -> r.getAs[String]("status")).toMap
    assert(current == latest, "SCD2 current versions must equal the compacted state")
  }

  test("small-file compaction swaps in fewer files with identical data") {
    val base = Files.createTempDirectory("graft-compact").toString
    val df = spark.range(1000).selectExpr("id", "id % 7 AS v")
    // two "syncs", 8 files each — the accumulating small-file layout
    df.repartition(8).write.mode("append").parquet(s"$base/orders_parquet")
    df.repartition(8).write.mode("append").parquet(s"$base/orders_parquet")
    val r = Compaction.compact(spark, base, "orders", targetBytes = 1L << 30)
    assert(r.filesBefore == 16 && r.filesAfter == 1 && r.rows == 2000, r.toString)
    val back = spark.read.parquet(s"$base/orders_parquet")
    assert(back.count() == 2000)
    assert(back.agg(sum(col("v"))).head().getLong(0) ==
      2 * df.agg(sum(col("v"))).head().getLong(0))
    // second run is a no-op (already at target)
    val r2 = Compaction.compact(spark, base, "orders", targetBytes = 1L << 30)
    assert(r2.filesBefore == 1 && r2.filesAfter == 1 && r2.rows == 2000)
  }

  test("compaction is a clean no-op on a missing or fileless table dir") {
    val base = Files.createTempDirectory("graft-compact-empty").toString
    // dir doesn't exist at all (healthy table whose first sync had an empty delta)
    val r = Compaction.compact(spark, base, "orders", targetBytes = 1L)
    assert(r == Compaction.CompactionResult("orders", 0, 0, 0L, 0L), r.toString)
    // dir exists but holds no data files
    Files.createDirectories(Paths.get(s"$base/customers_parquet"))
    val r2 = Compaction.compact(spark, base, "customers", targetBytes = 1L)
    assert(r2 == Compaction.CompactionResult("customers", 0, 0, 0L, 0L), r2.toString)
  }

  test("compaction preserves the sync_date partition layout") {
    val base = Files.createTempDirectory("graft-compact-part").toString
    val df = spark.range(500).selectExpr("id",
      "CASE WHEN id % 2 = 0 THEN DATE'2026-01-01' ELSE DATE'2026-01-02' END AS sync_date")
    df.repartition(6).write.partitionBy("sync_date").mode("append")
      .parquet(s"$base/orders_parquet")
    val r = Compaction.compact(spark, base, "orders", targetBytes = 1L << 30)
    assert(r.filesAfter < r.filesBefore && r.rows == 500, r.toString)
    val back = spark.read.parquet(s"$base/orders_parquet")
    // partition dirs survive → pruning still works
    assert(back.filter(col("sync_date") === "2026-01-01").count() == 250)
    assert(back.filter(col("sync_date") === "2026-01-02").count() == 250)
  }

  test("delete-aware compaction applies tombstones and honors re-inserts") {
    val rows = CdcQueries.queries("cdc_delete_aware_state")(spark, "").collect()
    val state = rows.map(r => r.getAs[Int]("order_id") ->
      (r.getAs[String]("status"), r.getAs[String]("total_amount"))).toMap
    // order 1 deleted (offset-4 tombstone), order 2 updated, order 3
    // deleted THEN re-inserted (the re-insert must win), order 4 inserted
    assert(!state.contains(1), s"tombstoned key must leave the state: $state")
    assert(state(2) == ("COMPLETED", "125.50"))
    assert(state(3) == ("PENDING", "99.99"), s"re-insert after delete must win: $state")
    assert(state(4) == ("PENDING", "175.25"))
    assert(state.size == 3)
  }

  test("incremental agg maintenance equals full recompute, retractions included") {
    val inc = CdcQueries.queries("cdc_incremental_agg")(spark, "").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // full recompute over the compacted stream — what maintenance must equal
    val full = CdcQueries.queries("cdc_latest_state")(spark, "")
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
           sum(col("total_amount").cast("decimal(10,2)")).cast("double").as("amt"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(inc == full, s"maintained view drifted: $inc vs $full")
    // the fixture's delta MOVES keys between groups (order 2
    // PROCESSING→COMPLETED, order 5 PENDING→SHIPPED), so these counts can
    // only be right if the old versions were retracted — an additive-only
    // merge would report PROCESSING=2 and PENDING=4
    assert(inc("PROCESSING")._1 == 1L, s"retraction missed: $inc")
    assert(inc("PENDING")._1 == 3L, s"retraction missed: $inc")
  }

  test("merge snapshot+delta equals full-stream compaction; delta joins broadcast") {
    val merged = cdc.CdcQueries.queries("cdc_merge_snapshot")(spark, "")
    val latest = cdc.CdcQueries.queries("cdc_latest_state")(spark, "")
    assert(merged.collect().map(_.toString).sorted
      .sameElements(latest.collect().map(_.toString).sorted),
      "MERGE(snapshot, delta) must reproduce the compacted change stream")
    // The UPDATES branch must broadcast the delta (the snapshot payload
    // never re-shuffles for a micro-batch). Assert the left-outer join's
    // strategy specifically — a BroadcastHashJoin anywhere in the plan
    // (e.g. the anti join at fixture scale) must not satisfy this.
    val plan = merged.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftOuter") && l.contains("BuildRight")),
      s"updates join should broadcast the delta:\n$plan")
    // The INSERTS branch can only build its RIGHT side (the snapshot's
    // keys-only projection): broadcast here at fixture scale, a keys-only
    // exchange at production scale — either way the anti join must consume
    // the key projection, not snapshot payload rows.
    assert(plan.contains("LeftAnti"), s"inserts should plan as anti join:\n$plan")
  }

  test("tombstone (null value) decodes to an all-null row; malformed JSON null-fills") {
    val df = Envelope.decode(
      source.read(spark, Schemas.topicFor("weird"), StartingOffsets.Earliest), "weird")
    val rows = df.orderBy(col("kafka_offset")).collect()
    assert(rows.length == 3)
    // offset 0: unknown table falls back to orders schema; matching fields bind
    assert(rows(0).getAs[Int]("order_id") == 42)
    assert(rows(0).getAs[String]("status") == "MYSTERY")
    assert(rows(0).isNullAt(rows(0).fieldIndex("customer_id")))
    // offset 1: tombstone → all value fields null, provenance intact
    assert(rows(1).isNullAt(rows(1).fieldIndex("order_id")))
    assert(rows(1).getAs[Long]("kafka_offset") == 1L)
    // offset 2: malformed JSON → PERMISSIVE null-fill, no failure
    assert(rows(2).isNullAt(rows(2).fieldIndex("order_id")))
  }

  test("precise-decimal decode: base64 unscaled bytes → Decimal(10,2)") {
    import spark.implicits._
    // 12345 unscaled at scale 2 = 123.45; big-endian bytes 0x30 0x39
    val b64 = java.util.Base64.getEncoder.encodeToString(Array[Byte](0x30, 0x39))
    val df = Seq(b64, null).toDF("amount")
      .select(Envelope.preciseDecimal(col("amount")).as("dec"))
    val got = df.collect()
    assert(got(0).getDecimal(0) == new java.math.BigDecimal("123.45"))
    assert(got(1).isNullAt(0))
    // negative two's complement: 0xFF 0x85 = -123 → -1.23
    val neg = java.util.Base64.getEncoder.encodeToString(Array[Byte](0xFF.toByte, 0x85.toByte))
    val g2 = Seq(neg).toDF("amount")
      .select(Envelope.preciseDecimal(col("amount")).as("dec")).head()
    assert(g2.getDecimal(0) == new java.math.BigDecimal("-1.23"))
  }

  test("epoch-micros extension converts reference long to timestamp") {
    import spark.implicits._
    val got = Seq(1709287200000000L).toDF("d")
      .select(Envelope.epochMicrosToTimestamp(col("d")).as("ts")).head().getTimestamp(0)
    assert(got.toInstant.toString == "2024-03-01T10:00:00Z")
  }

  test("pipeline runner: configure → health → sync ×4 → verify → reconcile") {
    val base = Files.createTempDirectory("graft-pipeline").toString
    val r1 = PipelineRunner.run(spark, fixtures, s"$base/warehouse", s"$base/offsets")
    assert(r1.healthy.values.forall(identity))
    assert(r1.tables.map(_.table) == PipelineRunner.DefaultTables)
    assert(r1.allConsistent, s"source-vs-sink mismatch: ${r1.tables}")
    val orders = r1.tables.find(_.table == "orders").get
    assert(orders.synced == 10 && orders.maxOffset == 9 && orders.sinkRows == 10)
    // second pass: empty delta everywhere, reconciliation still consistent
    val r2 = PipelineRunner.run(spark, fixtures, s"$base/warehouse", s"$base/offsets")
    assert(r2.tables.forall(_.synced == 0))
    assert(r2.allConsistent)
    // a missing topic is tolerated (health=false, zero rows, no crash)
    val r3 = PipelineRunner.run(spark, fixtures, s"$base/w2", s"$base/o2",
      tables = Seq("orders", "nonexistent_table"))
    assert(r3.healthy("orders") && !r3.healthy("nonexistent_table"))
    assert(r3.tables.find(_.table == "orders").get.consistent)
    // maintenance step: compaction inside the pipeline keeps reconciliation
    // green (verify runs AFTER the swap, so it checks the compacted copy)
    val r4 = PipelineRunner.run(spark, fixtures, s"$base/w3", s"$base/o3",
      compactTargetBytes = Some(1L << 30))
    assert(r4.allConsistent, s"post-compaction mismatch: ${r4.tables}")
  }

  test("warehouse round-trips through ORC and CSV with values preserved") {
    // format coverage beyond the reference's parquet-only sink: the same
    // decoded frame written/read via ORC (typed, columnar) and CSV
    // (header+schema re-applied) must reproduce every cell
    val base = java.nio.file.Files.createTempDirectory("graft-formats").toString
    val orders = Envelope.decode(
      source.read(spark, Schemas.topicFor("orders"), StartingOffsets.Earliest), "orders")
      .select("order_id", "customer_id", "status", "total_amount", "kafka_offset")
    val expected = orders.orderBy("kafka_offset").collect().map(_.toString)

    orders.write.mode("overwrite").orc(s"$base/orders_orc")
    val fromOrc = spark.read.orc(s"$base/orders_orc")
    assert(fromOrc.schema == orders.schema)
    assert(fromOrc.orderBy("kafka_offset").collect().map(_.toString).sameElements(expected))

    orders.write.mode("overwrite").option("header", "true").csv(s"$base/orders_csv")
    val fromCsv = spark.read.schema(orders.schema)
      .option("header", "true").csv(s"$base/orders_csv")
    assert(fromCsv.orderBy("kafka_offset").collect().map(_.toString).sameElements(expected))
  }

  test("pipeline runner arg parsing accepts both reference styles") {
    val got = PipelineRunner.parseArgs(Array(
      "--JOB_NAME=cdc-sync", "--kafka_topic", "t1", "--single_file=true", "--flag"))
    assert(got == Map("JOB_NAME" -> "cdc-sync", "kafka_topic" -> "t1",
      "single_file" -> "true", "flag" -> "true"))
  }

  // ---- schema evolution (graft.schema.Evolution) ----

  test("widening lattice: safe promotions resolve, narrowing/incompatible refuse") {
    import org.apache.spark.sql.types._
    import graft.schema.Evolution.widen
    assert(widen(IntegerType, LongType).contains(LongType))
    assert(widen(LongType, IntegerType).contains(LongType))
    assert(widen(ByteType, ShortType).contains(ShortType))
    assert(widen(FloatType, DoubleType).contains(DoubleType))
    assert(widen(DecimalType(10, 2), DecimalType(12, 4)).contains(DecimalType(12, 4)))
    // mixed scale/precision: max integral digits + max scale
    assert(widen(DecimalType(10, 2), DecimalType(6, 4)).contains(DecimalType(12, 4)))
    assert(widen(IntegerType, DecimalType(10, 2)).contains(DecimalType(12, 2)))
    assert(widen(StringType, IntegerType).isEmpty)
    assert(widen(BooleanType, IntegerType).isEmpty)
    // NO decimal LUB exists past MAX_PRECISION: decimal(38,0) vs
    // decimal(10,10) would need 48 digits — capping at 38 produced a
    // type that overflows one side mid-job (ANSI) or null-fills (not);
    // the lattice must refuse at merge time instead
    assert(widen(DecimalType(38, 0), DecimalType(10, 10)).isEmpty)
    assert(widen(DecimalType(30, 0), DecimalType(10, 8)).contains(DecimalType(38, 8)))
  }

  test("widened-epoch warehouse round-trip: merge, write, read back, values intact") {
    import org.apache.spark.sql.types._
    val base = Files.createTempDirectory("graft-widen").toString
    val all = Envelope.decode(
      source.read(spark, Schemas.topicFor("orders"), StartingOffsets.Earliest), "orders")
    val e1 = all.filter(col("kafka_offset") <= 5)
      .select(col("order_id"), col("total_amount").cast("decimal(10,2)").as("amount"),
        col("shipping_address").as("address"), col("kafka_offset"))
    val e2 = all.filter(col("kafka_offset") >= 6)
      .select(col("order_id").cast("long").as("order_id"),
        col("total_amount").cast("decimal(12,4)").as("amount"),
        col("shipping_address"), col("kafka_offset"))
    // epochs land in the warehouse as-written (old files are immutable —
    // the point: widening happens at READ/merge time, no rewrite)
    e1.write.parquet(s"$base/epoch1"); e2.write.parquet(s"$base/epoch2")
    val merged = graft.schema.Evolution.mergeEpochs(
      Seq(spark.read.parquet(s"$base/epoch1"), spark.read.parquet(s"$base/epoch2")),
      Map("address" -> "shipping_address"))
    assert(merged.schema("order_id").dataType == LongType)
    assert(merged.schema("amount").dataType == DecimalType(12, 4))
    assert(merged.columns.count(_ == "shipping_address") == 1)
    merged.write.parquet(s"$base/merged")
    val back = spark.read.parquet(s"$base/merged")
    assert(back.count() == 10)
    assert(back.schema("order_id").dataType == LongType)
    // values preserved bit-for-bit through the widening + round trip
    val amounts = back.orderBy(col("kafka_offset"))
      .select(col("amount").cast("string")).collect().map(_.getString(0))
    val expected = all.orderBy(col("kafka_offset"))
      .select(col("total_amount").cast("decimal(12,4)").cast("string"))
      .collect().map(_.getString(0))
    assert(amounts.sameElements(expected), s"${amounts.toSeq} vs ${expected.toSeq}")
    // every epoch-1 row null-fills nothing it had and keeps its address
    assert(back.filter(col("kafka_offset") <= 5 &&
      col("shipping_address").isNotNull).count() ==
      all.filter(col("kafka_offset") <= 5 &&
        col("shipping_address").isNotNull).count())
  }

  test("incompatible drift fails loudly instead of nulling history") {
    import spark.implicits._
    val a = Seq((1, "x")).toDF("id", "v")
    val b = Seq((2L, 3.5)).toDF("id", "v") // v: string vs double
    val e = intercept[IllegalArgumentException] {
      graft.schema.Evolution.mergeEpochs(Seq(a, b))
    }
    assert(e.getMessage.contains("incompatible drift on column v"))
  }

  // ---- snapshot/table-format layer (graft.table.SnapshotLog) ----
  import graft.table.SnapshotLog

  test("snapshotted sync: atomic snapshots, time travel, diff, idempotent re-run") {
    val base = Files.createTempDirectory("graft-snap-sync").toString
    val store = new OffsetStore(s"$base/offsets")
    val job = new SyncJob(source, store, s"$base/warehouse", snapshotted = true)
    val dir = s"$base/warehouse/orders_parquet"

    // epoch 1: offsets 0..5 via a capped source; epoch 2: the resume
    val capped = new CdcSource {
      def read(s: org.apache.spark.sql.SparkSession, topic: String,
               st: StartingOffsets): org.apache.spark.sql.DataFrame =
        source.read(s, topic, st).filter(col("offset") <= 5)
    }
    val job1 = new SyncJob(capped, store, s"$base/warehouse", snapshotted = true)
    val r1 = job1.sync(spark, "orders")
    assert(r1.records == 6 && r1.maxOffset == 5)
    assert(SnapshotLog.currentSnapshotId(spark, dir).contains(1L))
    val r2 = job.sync(spark, "orders") // resumes from offset 6
    assert(r2.records == 4 && r2.maxOffset == 9)
    assert(SnapshotLog.currentSnapshotId(spark, dir).contains(2L))

    // latest = both epochs; time travel to 1 = epoch 1 exactly
    assert(SnapshotLog.read(spark, dir).get.count() == 10)
    val atOne = SnapshotLog.read(spark, dir, asOf = Some(1L)).get
    assert(atOne.count() == 6 &&
      atOne.agg(max(col("kafka_offset"))).head().getLong(0) == 5L)
    // diff(1 → latest) = epoch 2 exactly
    val delta = SnapshotLog.diff(spark, dir, from = 1L).get
    assert(delta.count() == 4 &&
      delta.agg(min(col("kafka_offset"))).head().getLong(0) == 6L)
    // verifyCounts reads through the manifest
    assert(job.verifyCounts(spark, Seq("orders"))("orders") == 10)

    // idempotent: an empty delta commits no snapshot
    val r3 = job.sync(spark, "orders")
    assert(!r3.wrote && SnapshotLog.currentSnapshotId(spark, dir).contains(2L))

    // manifests carry per-file offset stats for metadata pruning
    val files = SnapshotLog.filesAt(spark, dir)
    assert(files.forall(f => f.statsMin.isDefined && f.statsMax.isDefined))
    // a range probe below every file's min resolves to no files at all
    assert(SnapshotLog.readRange(spark, dir, -10L, -1L).isEmpty)
  }

  test("crash between data write and commit is unobservable; torn manifests ignored") {
    val base = Files.createTempDirectory("graft-snap-crash").toString
    val dir = s"$base/orders_parquet"
    val orders = Envelope.decode(
      source.read(spark, Schemas.topicFor("orders"), StartingOffsets.Earliest), "orders")
    val f1 = SnapshotLog.writeData(orders.filter(col("kafka_offset") <= 5), dir,
      statsCol = Some("kafka_offset"))
    SnapshotLog.commit(spark, dir, "append", f1)
    assert(SnapshotLog.read(spark, dir).get.count() == 6)

    // "crash" #1: data files staged but never committed — readers at the
    // current snapshot must not see a single staged row
    SnapshotLog.writeData(orders.filter(col("kafka_offset") >= 6), dir,
      statsCol = Some("kafka_offset"))
    assert(SnapshotLog.read(spark, dir).get.count() == 6)
    assert(SnapshotLog.currentSnapshotId(spark, dir).contains(1L))

    // "crash" #2: a torn in-flight manifest (dot-temp file with garbage)
    // must be invisible to snapshot listing and reads
    Files.write(Paths.get(s"$dir/_graft_log/.tmp-torn.json"),
      "{\"snapshot_id\": 99, \"op\": \"append\",".getBytes)
    assert(SnapshotLog.snapshots(spark, dir) == Seq(1L))
    assert(SnapshotLog.read(spark, dir).get.count() == 6)

    // a concurrent writer that loses the id race fails loudly: both
    // computed next-id 2, the second commitAt finds the manifest taken
    val f2 = SnapshotLog.writeData(orders.filter(col("kafka_offset") >= 6), dir,
      statsCol = Some("kafka_offset"))
    SnapshotLog.commit(spark, dir, "append", f2) // id 2 lands
    intercept[SnapshotLog.ConcurrentCommitException] {
      SnapshotLog.commitAt(spark, dir, 2L, "append", f2, Seq.empty, Map.empty)
    }
  }

  test("snapshot compaction: atomic replace, invisible to diff, old snapshots intact") {
    val base = Files.createTempDirectory("graft-snap-compact").toString
    val dir = s"$base/orders_parquet"
    val orders = Envelope.decode(
      source.read(spark, Schemas.topicFor("orders"), StartingOffsets.Earliest), "orders")
    // many tiny commits = the reference's 5-minute small-file pathology
    (0 to 9).foreach { off =>
      val f = SnapshotLog.writeData(
        orders.filter(col("kafka_offset") === off).coalesce(1), dir,
        statsCol = Some("kafka_offset"))
      SnapshotLog.commit(spark, dir, "append", f)
    }
    val before = SnapshotLog.filesAt(spark, dir)
    assert(before.size == 10)

    val res = Compaction.compact(spark, base, "orders") // dispatches to snapshot path
    assert(res.filesBefore == 10 && res.filesAfter < 10 && res.rows == 10)
    assert(SnapshotLog.currentSnapshotId(spark, dir).contains(11L))
    // same logical table, fewer files
    val now = SnapshotLog.read(spark, dir).get
    assert(now.count() == 10)
    assert(SnapshotLog.filesAt(spark, dir).size == res.filesAfter)
    // stats survive the rewrite (manifest pruning still works)
    assert(SnapshotLog.filesAt(spark, dir).forall(_.statsMin.isDefined))
    // pre-compaction snapshots still time travel (no swap window ever)
    assert(SnapshotLog.read(spark, dir, asOf = Some(5L)).get.count() == 5)
    // the replace commit is INVISIBLE to incremental consumers
    assert(SnapshotLog.diff(spark, dir, from = 10L).isEmpty)
    assert(SnapshotLog.diff(spark, dir, from = 5L).get.count() == 5)
  }

  test("expireSnapshots retains the tail, sweeps unreferenced files and orphans") {
    val base = Files.createTempDirectory("graft-snap-expire").toString
    val dir = s"$base/orders_parquet"
    val orders = Envelope.decode(
      source.read(spark, Schemas.topicFor("orders"), StartingOffsets.Earliest), "orders")
    (0 to 4).foreach { off =>
      val f = SnapshotLog.writeData(
        orders.filter(col("kafka_offset") === off).coalesce(1), dir,
        statsCol = Some("kafka_offset"))
      SnapshotLog.commit(spark, dir, "append", f)
    }
    // an orphan from a crashed writer: staged, never committed
    SnapshotLog.writeData(orders.filter(col("kafka_offset") === 9).coalesce(1), dir)
    // grace 0: this single-writer test wants the just-staged orphan gone NOW
    val (dropped, deleted) = SnapshotLog.expireSnapshots(spark, dir, retainLast = 2,
      orphanGraceMs = 0L)
    assert(dropped == 3)
    assert(deleted >= 1) // at least the orphan went; append-log files stay referenced
    assert(SnapshotLog.snapshots(spark, dir) == Seq(4L, 5L))
    // retained snapshots still read (append log: snapshot 4's files are
    // a subset of snapshot 5's, so nothing live was deleted)
    assert(SnapshotLog.read(spark, dir, asOf = Some(4L)).get.count() == 4)
    assert(SnapshotLog.read(spark, dir).get.count() == 5)
    // expired ids are rejected, not silently empty
    intercept[IllegalArgumentException] {
      SnapshotLog.read(spark, dir, asOf = Some(2L))
    }
  }

  test("copy-on-write merge: untouched files carried by reference, pruned rewrite, upsert diff refuses") {
    import spark.implicits._
    import graft.table.{Merge, SnapshotLog}
    val base = Files.createTempDirectory("graft-cow-spec").toString
    val dir = s"$base/t"
    // base table keys 1..10, clustered into two key-range files
    val snap = (1 to 10).map(k => (k.toLong, s"v$k")).toDF("id", "v")
      .repartitionByRange(2, col("id"))
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(snap, dir, statsCol = Some("id")))
    val before = SnapshotLog.filesAt(spark, dir)
    assert(before.size == 2)
    // delta touches only the UPPER key range (update 8, insert 12)
    val delta = Seq((8L, "v8'"), (12L, "v12")).toDF("id", "v")
    val res = Merge.upsert(spark, dir, delta, "id")
    assert(res.filesTouched == 1 && res.filesUntouched == 1,
      s"pruning failed: $res (stats ${before.map(f => (f.statsMin, f.statsMax))})")
    // the untouched file survives by PATH — its bytes were never rewritten
    val after = SnapshotLog.filesAt(spark, dir).map(_.path).toSet
    val untouchedPath = before.filter(f => f.statsMax.exists(_ <= 5)).map(_.path)
    assert(untouchedPath.nonEmpty && untouchedPath.forall(after.contains))
    // merged content: delta wins on match, inserts appended, rest intact
    val got = SnapshotLog.read(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == (1 to 10).map(k => k.toLong -> s"v$k").toMap
      + (8L -> "v8'") + (12L -> "v12"))
    // pre-merge snapshot still time travels
    assert(SnapshotLog.read(spark, dir, asOf = Some(1L)).get.count() == 10)
    // file-level diff across an upsert must refuse, not silently miss rows
    val e = intercept[IllegalArgumentException] {
      SnapshotLog.diff(spark, dir, from = 1L)
    }
    assert(e.getMessage.contains("upsert"))
  }

  test("merge-on-read: zero rewrites, sequence-rule re-insert, broadcast mask plan, materialize") {
    import spark.implicits._
    import graft.table.{Merge, SnapshotLog}
    val base = Files.createTempDirectory("graft-mor-spec").toString
    val dir = s"$base/t"
    val snap = (1 to 10).map(k => (k.toLong, s"v$k")).toDF("id", "v")
      .repartitionByRange(2, col("id"))
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(snap, dir, statsCol = Some("id")))
    val before = SnapshotLog.filesAt(spark, dir)
    // delta: update 8, tombstone 3, insert 12 (12 is outside every file's
    // key range → pure insert, NO delete entry)
    val delta = Seq((8L, "v8'", false), (3L, null: String, true), (12L, "v12", false))
      .toDF("id", "v", "is_del")
    val res = Merge.mergeOnRead(spark, dir, delta, "id", Some("is_del"))
    assert(res.deleteEntries == 2, s"expected masks for {3,8} only: $res")
    // ZERO data files rewritten: every pre-merge file survives by path
    val after = SnapshotLog.filesAt(spark, dir)
    assert(before.map(_.path).toSet.subsetOf(after.map(_.path).toSet))
    assert(after.count(_.kind == "eqdelete") == 1)
    // masked read: correct content, mask applied as a BROADCAST HASH join
    // (never a nested-loop — the non-equi form would be O(rows × masks))
    val df = SnapshotLog.read(spark, dir).get
    val got = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == (1 to 10).filterNot(k => k == 3 || k == 8)
      .map(k => k.toLong -> s"v$k").toMap + (8L -> "v8'") + (12L -> "v12"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // cross-commit sequence rule: a LATER re-insert of the tombstoned key
    // lands in a higher-seq file and must survive the older mask
    Merge.mergeOnRead(spark, dir, Seq((3L, "v3'", false)).toDF("id", "v", "is_del"),
      "id", Some("is_del"))
    val got2 = SnapshotLog.read(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2(3L) == "v3'" && got2.size == 11)
    // manifest-only history: delete-entry accounting per commit
    val hist = SnapshotLog.history(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSeq
    assert(hist == Seq((1L, "append", 0L), (2L, "rowdelta", 2L), (3L, "rowdelta", 1L)))
    // materialization folds masks into clustered data without changing a row
    val mat = Merge.materializeDeletes(spark, dir)
    assert(mat.contains(4L))
    val live = SnapshotLog.filesAt(spark, dir)
    assert(live.forall(_.kind == "data"))
    assert(SnapshotLog.read(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == got2)
    // pre-materialize snapshots still time travel through their masks
    assert(SnapshotLog.read(spark, dir, asOf = Some(2L)).get.count() == 10)
    // no pending deletes → no-op, no empty commit
    assert(Merge.materializeDeletes(spark, dir).isEmpty)
    assert(SnapshotLog.currentSnapshotId(spark, dir).contains(4L))
  }

  test("row-level change feed: MOR commits replay to current state, COW refuses") {
    import spark.implicits._
    import graft.table.{Merge, SnapshotLog}
    val base = Files.createTempDirectory("graft-cf-spec").toString
    val dir = s"$base/t"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((1 to 10).map(k => (k.toLong, s"v$k")).toDF("id", "v")
        .repartitionByRange(2, col("id")), dir, statsCol = Some("id")))
    Merge.mergeOnRead(spark, dir,
      Seq((8L, "v8'", false), (3L, null: String, true), (12L, "v12", false))
        .toDF("id", "v", "is_del"), "id", Some("is_del"))
    Merge.mergeOnRead(spark, dir, Seq((3L, "v3'", false)).toDF("id", "v", "is_del"),
      "id", Some("is_del"))
    val feed = SnapshotLog.changes(spark, dir, from = 1L).get.collect()
      .map(r => (r.getLong(0), r.getAs[String]("_change_op"),
        r.getAs[Long]("_change_snapshot"))).toSet
    // pk 8/12 upsert at 2, pk 3's mask at 2 emits a delete (no same-commit
    // re-insert), its later re-insert upserts at 3
    assert(feed == Set((8L, "upsert", 2L), (12L, "upsert", 2L),
      (3L, "delete", 2L), (3L, "upsert", 3L)))
    // REPLAY equivalence: folding the feed over the base snapshot in
    // snapshot order reproduces exactly the current masked read
    val baseState = SnapshotLog.read(spark, dir, asOf = Some(1L)).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val ordered = SnapshotLog.changes(spark, dir, from = 1L).get
      .orderBy(col("_change_snapshot")).collect()
    val replayed = ordered.foldLeft(baseState) { (st, r) =>
      if (r.getAs[String]("_change_op") == "delete") st - r.getLong(0)
      else st + (r.getLong(0) -> r.getString(1))
    }
    val current = SnapshotLog.read(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(replayed == current)
    // a copy-on-write upsert has no row lineage: changes() must refuse
    val cowDir = s"$base/cow"
    SnapshotLog.commit(spark, cowDir, "append",
      SnapshotLog.writeData((1 to 5).map(k => (k.toLong, s"v$k")).toDF("id", "v"),
        cowDir, statsCol = Some("id")))
    Merge.upsert(spark, cowDir, Seq((2L, "x")).toDF("id", "v"), "id")
    val e = intercept[IllegalArgumentException] {
      SnapshotLog.changes(spark, cowDir, from = 1L)
    }
    assert(e.getMessage.contains("copy-on-write"))
    // ...and diff refuses rowdelta ranges (no pure file-level delta)
    val e2 = intercept[IllegalArgumentException] {
      SnapshotLog.diff(spark, dir, from = 1L)
    }
    assert(e2.getMessage.contains("rowdelta"))
  }

  test("rollback: append-only restore, original seqs kept, diff refuses across it") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val base = Files.createTempDirectory("graft-rb-spec").toString
    val dir = s"$base/t"
    def append(ks: Range): Unit =
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData(ks.map(k => (k.toLong, s"v$k")).toDF("id", "v"),
          dir, statsCol = Some("id")))
    append(1 to 5)
    append(6 to 9)
    val id = SnapshotLog.rollback(spark, dir, toSnapshot = 1L)
    assert(id == 3L)
    // current read == snapshot 1, bad snapshot still inspectable
    assert(SnapshotLog.read(spark, dir).get.collect().map(_.getLong(0)).sorted
      .toSeq == (1L to 5L))
    assert(SnapshotLog.read(spark, dir, asOf = Some(2L)).get.count() == 9)
    // re-referenced files keep their ORIGINAL sequence numbers
    assert(SnapshotLog.filesAt(spark, dir).forall(_.seq == 1L))
    assert(SnapshotLog.history(spark, dir).collect().map(_.getString(1)).toSeq
      == Seq("append", "append", "rollback"))
    // no forward delta exists across a rollback
    val e = intercept[IllegalArgumentException] { SnapshotLog.diff(spark, dir, from = 1L) }
    assert(e.getMessage.contains("rollback"))
    // rolling forward again: append after rollback works from restored state
    append(20 to 21)
    assert(SnapshotLog.read(spark, dir).get.count() == 7)
    assert(SnapshotLog.diff(spark, dir, from = 3L).get.count() == 2)
  }

  test("clustering compaction makes manifest stats disjoint and restores merge pruning") {
    import spark.implicits._
    import graft.table.{Merge, SnapshotLog}
    val base = Files.createTempDirectory("graft-cluster").toString
    val dir = s"$base/t_parquet"
    // ingest-ordered appends: every file spans most of the key space
    Seq(Seq(1L, 50L, 99L), Seq(2L, 51L, 98L), Seq(3L, 52L, 97L)).foreach { ks =>
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData(ks.map(k => (k, s"v$k")).toDF("id", "v").coalesce(1),
          dir, statsCol = Some("id")))
    }
    val before = SnapshotLog.filesAt(spark, dir)
    // overlapping stats ⇒ a single-key delta would touch EVERY file
    val probe = Seq((50L, "x")).toDF("id", "v")
    assert(Merge.upsert(spark, dir, probe, "id").filesTouched == 3)

    val res = Compaction.compactSnapshotted(spark, base, "t",
      targetBytes = 1L, clusterBy = Some("id")) // 1-byte target: one file per range split
    assert(res.rows == 9)
    val after = SnapshotLog.filesAt(spark, dir)
    assert(after.size > 1, s"need multiple clustered files, got ${after.size}")
    // clustered files: stats intervals pairwise DISJOINT
    val ivs = after.map(f => (f.statsMin.get, f.statsMax.get)).sortBy(_._1)
    ivs.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) => assert(aMax < bMin, s"overlap: $ivs")
      case _ =>
    }
    // pruning restored: a single-key upsert now touches exactly one file
    assert(Merge.upsert(spark, dir, Seq((97L, "y")).toDF("id", "v"), "id")
      .filesTouched == 1)
    assert(SnapshotLog.read(spark, dir).get.count() == 9)
    // content survived the whole journey
    val got = SnapshotLog.read(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(50L) == "x" && got(97L) == "y" && got(1L) == "v1")
    assert(before.map(_.path).toSet.intersect(
      SnapshotLog.filesAt(spark, dir).map(_.path).toSet).isEmpty)
  }

  test("table advisor diagnoses every debt class from manifests alone") {
    import spark.implicits._
    import graft.table.{Advisor, Merge, SnapshotLog}
    val base = Files.createTempDirectory("graft-advisor").toString
    val dir = s"$base/t_parquet" // Compaction's <warehouse>/<table>_parquet layout
    // manufacture all four debts: 3 tiny overlapping ingest appends...
    Seq(Seq(1L, 90L), Seq(2L, 91L), Seq(3L, 92L)).foreach { ks =>
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData(ks.map(k => (k, s"v$k")).toDF("id", "v").coalesce(1),
          dir, statsCol = Some("id")))
    }
    // ...plus a merge-on-read tombstone (mask debt) and history depth
    Merge.mergeOnRead(spark, dir,
      Seq((2L, null: String, true)).toDF("id", "v", "is_del"), "id", Some("is_del"))
    for (_ <- 1 to 3)
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData(Seq((100L, "x")).toDF("id", "v").coalesce(1),
          dir, statsCol = Some("id")))
    val advice = Advisor.advise(spark, dir, retainLast = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(advice.keySet ==
      Set("compact", "materialize_deletes", "cluster", "expire_snapshots"),
      s"got $advice")
    assert(advice("materialize_deletes") == 1L)
    assert(advice("expire_snapshots") == 2L) // 7 snapshots − keep 5
    // paying the debts clears the findings
    Compaction.compactSnapshotted(spark, base, "t",
      targetBytes = 1L << 30, clusterBy = Some("id"))
    SnapshotLog.expireSnapshots(spark, dir, retainLast = 5)
    val after = Advisor.advise(spark, dir, retainLast = 5).collect()
    assert(after.isEmpty, s"paid debts must clear: ${after.mkString(";")}")
    // an append with NO stats and NO bloom is invisible to every pruning
    // path — the advisor flags it as index debt…
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(Seq((200L, "y")).toDF("id", "v").coalesce(1), dir))
    val idx = Advisor.advise(spark, dir, retainLast = 6).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(idx.get("index").contains(1L), s"got $idx")
    // …and the clustering rewrite (stats recorded) pays it
    Compaction.compactSnapshotted(spark, base, "t",
      targetBytes = 1L << 30, clusterBy = Some("id"))
    val cleared = Advisor.advise(spark, dir, retainLast = 8).collect()
      .filter(_.getString(0) == "index")
    assert(cleared.isEmpty)
  }

  test("advisor sizes compact and materialize_deletes to the debt") {
    import spark.implicits._
    import graft.table.{Advisor, Merge, SnapshotLog}
    val dir = Files.createTempDirectory("graft-advdebt").toString + "/t"
    def append(lo: Long): Unit = SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((lo until lo + 100).map(k => (k, k)).toDF("id", "v")
        .coalesce(1), dir, statsCol = Some("id")))
    def advice(): Map[String, Long] = Advisor.advise(spark, dir, retainLast = 100)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def delete(ks: Seq[Long]): Unit = Merge.mergeOnRead(spark, dir,
      ks.map(k => (k, 0L, true)).toDF("id", "v", "is_del"), "id", Some("is_del"))
    // four small files are not yet worth a bin-pack; the fifth is
    (0 until 4).foreach(i => append(i * 100L))
    assert(!advice().contains("compact"), advice().toString)
    append(400L)
    assert(advice().get("compact").contains(5L), advice().toString)
    // 49 masked rows against 500 live rows sit under the tenth: the
    // four mask files still fold, but nothing is rewritten
    delete(0L until 46L)
    Seq(100L, 200L, 300L).foreach(k => delete(Seq(k)))
    val under = advice()
    assert(!under.contains("materialize_deletes"), under.toString)
    assert(under.get("consolidate_masks").contains(4L), under.toString)
    // the 50th masked row reaches a tenth of the live rows
    delete(Seq(400L))
    assert(advice().get("materialize_deletes").contains(50L), advice().toString)
  }

  test("one maintenance pass rewrites a masked small-file table once") {
    import spark.implicits._
    import graft.table.{Merge, SnapshotLog}
    val base = Files.createTempDirectory("graft-maint1").toString
    val dir = s"$base/t_parquet"
    Seq(3L, 0L, 5L, 1L, 4L, 2L).foreach { i =>
      SnapshotLog.commit(spark, dir, "append", SnapshotLog.writeData(
        (i * 100 until i * 100 + 100).map(k => (k, k)).toDF("id", "v").coalesce(1),
        dir, statsCol = Some("id")))
    }
    Merge.mergeOnRead(spark, dir,
      (0L until 600L by 10).map(k => (k, 0L, true)).toDF("id", "v", "is_del"),
      "id", Some("is_del"))
    val before = SnapshotLog.commits(spark, dir).size
    // both O(table) debts are named, but the materialization's clustered
    // output already pays the small-file debt: one rewrite, not two
    val paid = PipelineRunner.maintainTable(spark, base, "t", retainLast = 100)
    assert(paid === Seq("materialize_deletes"))
    val ops = SnapshotLog.commits(spark, dir).drop(before).map(_.op)
    assert(ops === Seq("replace"), ops.toString)
    val zones = SnapshotLog.filesAt(spark, dir).map(_.stats("id")).sortBy(_._1)
    assert(zones.size > 1 && zones.sliding(2).forall { case Seq(a, b) => a._2 < b._1 },
      s"the rewrite must keep disjoint key zones: $zones")
    assert(SnapshotLog.read(spark, dir).get.count() === 540L)
  }

  test("schema drift through the snapshot layer: widened reads, epoch schemas preserved, masks cross epochs") {
    import spark.implicits._
    import graft.table.{Merge, SnapshotLog}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val base = Files.createTempDirectory("graft-drift-tf").toString
    val dir = s"$base/t"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(Seq((1, "a"), (2, "b")).toDF("id", "v"), dir))
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(Seq((3L, "c", 30), (4L, "d", 40)).toDF("id", "v", "extra"),
        dir))
    // current read widens: id → long, extra null-filled on epoch 1
    val merged = SnapshotLog.read(spark, dir).get
    assert(merged.schema("id").dataType == LongType)
    val rows = merged.collect().map(r =>
      r.getLong(0) -> Option(r.getAs[java.lang.Integer]("extra"))).toMap
    assert(rows == Map(1L -> None, 2L -> None, 3L -> Some(30), 4L -> Some(40)))
    // time travel to the pre-drift snapshot returns the OLD schema
    assert(SnapshotLog.read(spark, dir, asOf = Some(1L)).get
      .schema("id").dataType == IntegerType)
    // a merge-on-read mask written under the NEW schema still deletes
    // the old-epoch row: the mask join rides the widened union
    Merge.mergeOnRead(spark, dir,
      Seq((1L, null: String, null.asInstanceOf[java.lang.Integer], true))
        .toDF("id", "v", "extra", "is_del"), "id", Some("is_del"))
    val afterDel = SnapshotLog.read(spark, dir).get.collect().map(_.getLong(0)).toSet
    assert(afterDel == Set(2L, 3L, 4L))
    // off-lattice drift fails the read loudly instead of corrupting
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(Seq(("x", "e")).toDF("id", "v"), dir))
    intercept[IllegalArgumentException] { SnapshotLog.read(spark, dir).get.schema }
  }

  test("concurrent append writers all land via commit retry, no lost updates") {
    import spark.implicits._
    import graft.table.SnapshotLog
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val base = Files.createTempDirectory("graft-race").toString
    val dir = s"$base/t"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(Seq((0L, "base")).toDF("id", "v"), dir))
    // 8 writers race for snapshot ids; every append must land exactly once
    val writers = (1 to 8).map { i =>
      val files = SnapshotLog.writeData(Seq((i.toLong, s"w$i")).toDF("id", "v"), dir)
      // a writer can lose the id race to each of the other 7 in turn —
      // the retry budget must cover writers−1 losses
      Future(SnapshotLog.commitRetrying(spark, dir, files,
        summary = Map("writer" -> i.toString), maxRetries = 8))
    }
    val ids = Await.result(Future.sequence(writers), 120.seconds)
    assert(ids.toSet.size == 8, s"duplicate snapshot ids: $ids")
    assert(SnapshotLog.snapshots(spark, dir) == (1L to 9L))
    // no append was lost: all 9 rows visible, every writer's file live
    assert(SnapshotLog.read(spark, dir).get.count() == 9)
    val summaries = SnapshotLog.commits(spark, dir).flatMap(_.summary.get("writer"))
    assert(summaries.sorted == (1 to 8).map(_.toString).sorted)
  }

  test("timestamp time travel resolves commits; age-based retention composes with count") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val base = Files.createTempDirectory("graft-ts-tt").toString
    val dir = s"$base/t"
    def append(ks: Range): Unit =
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData(ks.map(k => (k.toLong, s"v$k")).toDF("id", "v"),
          dir, statsCol = Some("id")))
    append(1 to 3)
    val t1 = SnapshotLog.commits(spark, dir).last.tsMs
    assert(t1 > 0)
    Thread.sleep(15)
    append(4 to 6)
    val t2 = SnapshotLog.commits(spark, dir).last.tsMs
    assert(t2 > t1)
    // AS OF TIMESTAMP between the commits resolves to the first snapshot
    assert(SnapshotLog.snapshotAsOfTimestamp(spark, dir, t1) == 1L)
    assert(SnapshotLog.snapshotAsOfTimestamp(spark, dir, (t1 + t2) / 2) == 1L)
    assert(SnapshotLog.snapshotAsOfTimestamp(spark, dir, t2 + 1000) == 2L)
    assert(SnapshotLog.read(spark, dir,
      asOf = Some(SnapshotLog.snapshotAsOfTimestamp(spark, dir, t1))).get.count() == 3)
    // a point before the table existed fails loudly
    intercept[IllegalArgumentException] {
      SnapshotLog.snapshotAsOfTimestamp(spark, dir, t1 - 1000000)
    }
    // age cutoff in the past expires nothing even beyond the count window
    assert(SnapshotLog.expireSnapshots(spark, dir, retainLast = 1,
      olderThanMs = Some(t1 - 1000))._1 == 0)
    assert(SnapshotLog.snapshots(spark, dir) == Seq(1L, 2L))
    // cutoff after both commits: count window still protects the newest
    assert(SnapshotLog.expireSnapshots(spark, dir, retainLast = 1,
      olderThanMs = Some(t2 + 1000))._1 == 1)
    assert(SnapshotLog.snapshots(spark, dir) == Seq(2L))
  }

  test("manifest blooms prune point lookups where overlapping zone maps cannot") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val base = Files.createTempDirectory("graft-bloom-tf").toString
    val dir = s"$base/t"
    // 4 round-robin appends: every file spans [slice, ~4000] — zone maps
    // keep all 4 for any point, but each key lives in exactly one file
    for (slice <- 0 until 4)
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData(
          (0 until 1000).map(i => (i.toLong * 4 + slice, s"v$i")).toDF("id", "v")
            .coalesce(1),
          dir, statsCol = Some("id"), bloomCol = Some("id")))
    val files = SnapshotLog.filesAt(spark, dir)
    assert(files.size == 4 && files.forall(_.blooms.contains("id")))
    // a key inside every range: zone map keeps 4, bloom keeps ~1
    val (keptRange, _) = SnapshotLog.pruneStats(spark, dir, Map("id" -> (41L, 41L)))
    assert(keptRange == 4, "overlapping ranges must defeat the zone map")
    val (kept, skipped) = SnapshotLog.prunePointStats(spark, dir, "id", 41L)
    assert(kept <= 2 && skipped >= 2,
      s"bloom should prune most overlapping files: kept=$kept skipped=$skipped")
    // correctness: the pruned read still finds the row (no false negatives)
    val got = SnapshotLog.readPoint(spark, dir, "id", 41L).get
      .filter(col("id") === 41L).collect()
    assert(got.length == 1 && got(0).getString(1) == "v10")
    // an absent key inside the ranges: bloom prunes everything or the
    // read returns no rows — either way the filter result is empty
    val absent = SnapshotLog.readPoint(spark, dir, "id", 3999999L)
      .map(_.filter(col("id") === 3999999L).count()).getOrElse(0L)
    assert(absent == 0L)
    // batched IN-set lookup: keys living in two different files resolve
    // in one pass, survivors stay bloom-bounded, and the filtered read
    // equals the per-key union exactly
    val got2 = SnapshotLog.readPoints(spark, dir, "id", Seq(41L, 42L, 3999999L)).get
      .filter(col("id").isin(41L, 42L, 3999999L)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2 == Map(41L -> "v10", 42L -> "v10"))
  }

  test("z-order compaction makes 2-D zone-map pruning bite on both dimensions") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val base = Files.createTempDirectory("graft-zorder-tf").toString
    val dir = s"$base/grid_parquet"
    // 100×100 grid in random layout: every file spans most of both dims
    val grid = (0 until 100).flatMap(x => (0 until 100).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y").repartition(8)
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(grid, dir, statsCols = Seq("x", "y")))
    val xr = Map("x" -> (10L, 19L))
    val yr = Map("y" -> (10L, 19L))
    // random layout: the zone map cannot skip anything
    assert(SnapshotLog.pruneStats(spark, dir, xr)._2 == 0)
    val bytes = SnapshotLog.filesAt(spark, dir).map(_.bytes).sum
    val res = Compaction.compactSnapshotted(spark, base, "grid",
      targetBytes = math.max(1L, bytes / 16), clusterZOrder = Seq("x", "y"))
    assert(res.rows == 10000)
    val files = SnapshotLog.filesAt(spark, dir)
    assert(files.size > 4 && files.forall(f =>
      f.stats.contains("x") && f.stats.contains("y")))
    // z-order tiles: BOTH single-dimension slices now skip files, and the
    // conjunction skips at least as many as either slice alone
    val (_, xSkip) = SnapshotLog.pruneStats(spark, dir, xr)
    val (_, ySkip) = SnapshotLog.pruneStats(spark, dir, yr)
    val (_, bothSkip) = SnapshotLog.pruneStats(spark, dir, xr ++ yr)
    assert(xSkip > 0, s"x slice skipped nothing over ${files.map(_.stats)}")
    assert(ySkip > 0, s"y slice skipped nothing over ${files.map(_.stats)}")
    assert(bothSkip >= math.max(xSkip, ySkip))
    // pruning is transparent: pruned read + filter == exact result
    val got = SnapshotLog.readWhere(spark, dir, xr ++ yr).get
      .filter(col("x").between(10, 19) && col("y").between(10, 19))
      .count()
    assert(got == 100)
  }

  test("snapshot compaction through pending masks materializes the deletes") {
    import spark.implicits._
    import graft.table.{Merge, SnapshotLog}
    val base = Files.createTempDirectory("graft-mat-compact").toString
    val dir = s"$base/t_parquet"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((1 to 10).map(k => (k.toLong, s"v$k")).toDF("id", "v")
        .repartitionByRange(2, col("id")), dir, statsCol = Some("id")))
    Merge.mergeOnRead(spark, dir,
      Seq((3L, null: String, true), (11L, "v11", false)).toDF("id", "v", "is_del"),
      "id", Some("is_del"))
    // the routine clustering compaction folds the mask in and retires it
    val res = Compaction.compactSnapshotted(spark, base, "t",
      targetBytes = 1L << 30, clusterBy = Some("id"))
    assert(res.rows == 10) // 10 base − 1 deleted + 1 inserted
    val live = SnapshotLog.filesAt(spark, dir)
    assert(live.forall(_.kind == "data"))
    val got = SnapshotLog.read(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!got.contains(3L) && got(11L) == "v11" && got.size == 10)
  }

  test("diff consumer: at-least-once incremental reads, compaction invisible, upsert recovery") {
    import spark.implicits._
    import graft.table.{DiffConsumer, Merge, SnapshotLog}
    val base = Files.createTempDirectory("graft-diffcons").toString
    val dir = s"$base/t_parquet" // Compaction's <warehouse>/<table>_parquet layout
    val consumer = new DiffConsumer(s"$base/state")
    def append(rows: Seq[(Long, String)]): Unit =
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData(rows.toDF("id", "v"), dir, statsCol = Some("id")))

    append(Seq((1L, "a"), (2L, "b")))
    append(Seq((3L, "c")))
    // first run: everything
    val (d1, hwm1) = consumer.consume(spark, dir, "agg")
    assert(d1.get.count() == 3 && hwm1 == 2L)
    // crash before commit → replay returns the same delta (at-least-once)
    val (d1again, _) = consumer.consume(spark, dir, "agg")
    assert(d1again.get.count() == 3)
    consumer.commit("agg", hwm1)
    // nothing new → no delta, HWM stays
    assert(consumer.consume(spark, dir, "agg")._1.isEmpty)
    // compaction between runs: invisible, but the HWM advances past it
    Compaction.compact(spark, base, "t", targetBytes = 1L << 30)
    append(Seq((4L, "d")))
    val (d2, hwm2) = consumer.consume(spark, dir, "agg")
    assert(d2.get.collect().map(_.getLong(0)).toSet == Set(4L) && hwm2 == 4L)
    consumer.commit("agg", hwm2)
    // an upsert breaks the file-level feed: consume throws, reset recovers
    Merge.upsert(spark, dir, Seq((2L, "b'")).toDF("id", "v"), "id")
    intercept[IllegalArgumentException] { consumer.consume(spark, dir, "agg") }
    val cur = consumer.reset(spark, dir, "agg")
    assert(cur == SnapshotLog.currentSnapshotId(spark, dir).get)
    assert(consumer.consume(spark, dir, "agg")._1.isEmpty)
    // independent consumers keep independent state
    assert(consumer.lastConsumed("other") == 0L)
  }

  test("bin-pack compaction rewrites only small files; right-sized files carry by reference") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val base = Files.createTempDirectory("graft-binpack").toString
    val dir = s"$base/t_parquet"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((1 to 50000).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .coalesce(1), dir, statsCol = Some("id")))
    for (k <- 1 to 3)
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData(Seq((100000L + k, s"s$k")).toDF("id", "v").coalesce(1),
          dir, statsCol = Some("id")))
    val before = SnapshotLog.filesAt(spark, dir)
    val big = before.maxBy(_.bytes)
    val res = Compaction.compactSnapshotted(spark, base, "t", targetBytes = big.bytes)
    // 4 files → the untouched big one + 1 packed bin of the 3 droppings
    assert(res.filesBefore == 4 && res.filesAfter == 2, s"$res")
    val after = SnapshotLog.filesAt(spark, dir)
    assert(after.exists(_.path == big.path),
      "right-sized file must carry forward by path, not be rewritten")
    assert(after.size == 2)
    assert(SnapshotLog.read(spark, dir).get.count() == 50003)
    // the packing replace is invisible to incremental consumers
    assert(SnapshotLog.diff(spark, dir, from = 4L).isEmpty)
    // a second run is a no-op: the debt is paid
    val res2 = Compaction.compactSnapshotted(spark, base, "t", targetBytes = big.bytes)
    assert(res2.filesAfter == res2.filesBefore)
  }

  test("bin-pack consolidates mid-sized files, converges, and never unions drifted epochs raw") {
    import spark.implicits._
    import graft.table.SnapshotLog
    // mid-size consolidation: 4 equal files each ~0.45× target → 2 bins
    val b1 = Files.createTempDirectory("graft-binpack-mid").toString
    val d1 = s"$b1/t_parquet"
    for (s <- 0 until 4)
      SnapshotLog.commit(spark, d1, "append",
        SnapshotLog.writeData((0 until 1000).map(i => (s * 1000L + i, s"v$i"))
          .toDF("id", "v").coalesce(1), d1, statsCol = Some("id")))
    val fBytes = SnapshotLog.filesAt(spark, d1).map(_.bytes).max
    val res = Compaction.compactSnapshotted(spark, b1, "t",
      targetBytes = (fBytes * 2.2).toLong)
    assert(res.filesAfter == 2, s"4 mid-size files must pack into 2: $res")
    // and the rewritten files keep the key zone for merge pruning
    assert(SnapshotLog.filesAt(spark, d1).forall(_.stats.contains("id")))
    val res2 = Compaction.compactSnapshotted(spark, b1, "t",
      targetBytes = (fBytes * 2.2).toLong)
    assert(res2.filesAfter == res2.filesBefore, s"must converge: $res2")
    assert(SnapshotLog.read(spark, d1).get.count() == 4000)

    // drifted epochs: two old-schema files + two widened-schema files —
    // packing must stay WITHIN each schema class (a raw union would
    // silently null the added column), and the merged read stays exact
    val b2 = Files.createTempDirectory("graft-binpack-drift").toString
    val d2 = s"$b2/t_parquet"
    for (s <- 0 until 2)
      SnapshotLog.commit(spark, d2, "append",
        SnapshotLog.writeData(Seq((s * 10 + 1, 1), (s * 10 + 2, 2))
          .toDF("id", "v").coalesce(1), d2, statsCol = Some("id")))
    for (s <- 2 until 4)
      SnapshotLog.commit(spark, d2, "append",
        SnapshotLog.writeData(Seq((s * 10 + 1L, 1L, "n1"), (s * 10 + 2L, 2L, "n2"))
          .toDF("id", "v", "note").coalesce(1), d2, statsCol = Some("id")))
    val rd = Compaction.compactSnapshotted(spark, b2, "t", targetBytes = 1L << 30)
    assert(rd.filesAfter == 2, s"one packed file per schema class: $rd")
    val got = SnapshotLog.read(spark, d2).get.collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(got.size == 8)
    assert(got(21L).contains("n1") && got(32L).contains("n2"),
      "the widened epoch's added column must survive the packing")
    assert(got(1L).isEmpty && got(12L).isEmpty)
    // the CLUSTERING rewrite over the same drifted table goes through
    // the epoch-safe read too: it materializes the widened schema
    // without losing either epoch's columns
    val rc = Compaction.compactSnapshotted(spark, b2, "t",
      targetBytes = 1L << 30, clusterBy = Some("id"))
    assert(rc.rows == 8)
    val clustered = SnapshotLog.read(spark, d2).get.collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(clustered == got, "clustering must not change a single value")
  }

  test("multi-partition topic: per-partition resume, HWM map, idempotent re-sync") {
    val (base, store, job) = freshDirs()
    // partial pre-state: p0 consumed through offset 1, p1 through 2; p2 unseen
    store.commitPartitioned("orders_mp", Map(0 -> 1L, 1 -> 2L), 0L)
    val r = job.sync(spark, "orders_mp")
    // p0 resumes at 2 (2 records), p1 at 3 (none), p2 from earliest (2)
    assert(r.records == 4, s"got $r")
    assert(store.lastOffsets("orders_mp") == Map(0 -> 3L, 1 -> 2L, 2 -> 1L))
    // re-sync: every partition drained → empty delta, no write, state intact
    val again = job.sync(spark, "orders_mp")
    assert(!again.wrote)
    assert(store.lastOffsets("orders_mp") == Map(0 -> 3L, 1 -> 2L, 2 -> 1L))
    // warehouse holds exactly the 4 resumed rows
    assert(spark.read.parquet(s"$base/warehouse/orders_mp_parquet").count() == 4)
    // a fresh store over the same dir re-reads the partitioned state
    assert(new OffsetStore(s"$base/offsets").lastOffsets("orders_mp") ==
      Map(0 -> 3L, 1 -> 2L, 2 -> 1L))
  }

  test("object-store commit: blind put silently clobbers, conditional-put makes the loser throw") {
    import spark.implicits._
    import graft.table._
    import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
    // the naive S3 model: a raw last-write-wins PUT. (A real racer's
    // exists-check is STALE by the time its put lands — modeled here by
    // omitting the check, the state both racers would have observed.)
    val blindPut = new LogStore {
      override def putIfAbsent(fs: FileSystem, src: Path, target: Path): Boolean = {
        FileUtil.copy(fs, src, fs, target, false, true, fs.getConf)
        true
      }
    }
    // CONTROL: under the blind store two writers both "win" id 2 and one
    // commit is silently lost — the failure mode the CAS exists to stop
    val b1 = Files.createTempDirectory("graft-blind").toString + "/t"
    SnapshotLog.commit(spark, b1, "append",
      SnapshotLog.writeData(Seq((1L, "a")).toDF("id", "v"), b1))
    LogStore.withLogStore(blindPut) {
      val fA = SnapshotLog.writeData(Seq((2L, "A")).toDF("id", "v"), b1)
      val fB = SnapshotLog.writeData(Seq((3L, "B")).toDF("id", "v"), b1)
      assert(SnapshotLog.commitAt(spark, b1, 2L, "append", fA, Nil, Map.empty) == 2L)
      assert(SnapshotLog.commitAt(spark, b1, 2L, "append", fB, Nil, Map.empty) == 2L)
    }
    assert(!SnapshotLog.read(spark, b1).get.collect().map(_.getLong(0)).contains(2L),
      "blind put should have clobbered writer A's commit (that is the point)")

    // FIX: the SAME blind-put filesystem behind ConditionalPutLogStore —
    // the arbiter decides before any byte lands, the loser throws
    val arb = new ProcessLocalArbiter
    val b2 = Files.createTempDirectory("graft-condput").toString + "/t"
    SnapshotLog.commit(spark, b2, "append",
      SnapshotLog.writeData(Seq((1L, "a")).toDF("id", "v"), b2))
    val fB = SnapshotLog.writeData(Seq((3L, "B")).toDF("id", "v"), b2)
    LogStore.withLogStore(new ConditionalPutLogStore(arb)) {
      val fA = SnapshotLog.writeData(Seq((2L, "A")).toDF("id", "v"), b2)
      assert(SnapshotLog.commitAt(spark, b2, 2L, "append", fA, Nil, Map.empty) == 2L)
      // target exists → short-circuit loss
      intercept[SnapshotLog.ConcurrentCommitException] {
        SnapshotLog.commitAt(spark, b2, 2L, "append", fB, Nil, Map.empty)
      }
    }
    assert(SnapshotLog.read(spark, b2).get.collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L))
    // CRASH RECOVERY: writer C claims id 3 (payload stored in the CAS)
    // and dies before its put lands. The id must not wedge: the next
    // writer completes C's commit from the stored payload, loses, and
    // its retry lands at id 4 — both commits durable.
    val fC = SnapshotLog.writeData(Seq((4L, "C")).toDF("id", "v"), b2)
    val crashing = new LogStore {
      override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
          src: Path, target: Path): Boolean = {
        val bytes = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(src.toUri.getPath))
        assert(arb.claim(target.toString, bytes))
        throw new java.io.IOException("simulated crash after claim, before put")
      }
    }
    intercept[java.io.IOException] {
      LogStore.withLogStore(crashing) {
        SnapshotLog.commitAt(spark, b2, 3L, "append", fC, Nil,
          Map("writer" -> "C"))
      }
    }
    assert(SnapshotLog.snapshots(spark, b2) == Seq(1L, 2L), "C's put never landed")
    LogStore.withLogStore(new ConditionalPutLogStore(arb)) {
      // the loser recovers C's commit, then the append retry lands after it
      intercept[SnapshotLog.ConcurrentCommitException] {
        SnapshotLog.commitAt(spark, b2, 3L, "append", fB, Nil, Map.empty)
      }
      assert(SnapshotLog.commits(spark, b2).last.summary.get("writer")
        .contains("C"), "the orphaned claim's payload must have completed C's commit")
      assert(SnapshotLog.commitRetrying(spark, b2, fB) == 4L)
    }
    assert(SnapshotLog.read(spark, b2).get.collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 4L))

    // and under real concurrency: 8 retrying writers through the
    // conditional-put store all land exactly once, none lost
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val b3 = Files.createTempDirectory("graft-condput-race").toString + "/t"
    SnapshotLog.commit(spark, b3, "append",
      SnapshotLog.writeData(Seq((0L, "base")).toDF("id", "v"), b3))
    LogStore.withLogStore(new ConditionalPutLogStore(new ProcessLocalArbiter)) {
      val writers = (1 to 8).map { i =>
        val files = SnapshotLog.writeData(Seq((i.toLong, s"w$i")).toDF("id", "v"), b3)
        Future(SnapshotLog.commitRetrying(spark, b3, files, maxRetries = 8))
      }
      val ids = Await.result(Future.sequence(writers), 120.seconds)
      assert(ids.toSet.size == 8, s"duplicate snapshot ids: $ids")
    }
    assert(SnapshotLog.snapshots(spark, b3) == (1L to 9L))
    assert(SnapshotLog.read(spark, b3).get.count() == 9)
  }

  test("advisor overlap sweep equals brute force on 10k synthetic intervals") {
    import graft.table.Advisor
    val rnd = new scala.util.Random(42)
    def brute(ivs: IndexedSeq[(Long, Long)]): Double = {
      val n = ivs.size
      var overlapping = 0L
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val (aLo, aHi) = ivs(i); val (bLo, bHi) = ivs(j)
          if (aHi >= bLo && bHi >= aLo) overlapping += 1
          j += 1
        }
        i += 1
      }
      overlapping.toDouble / (n.toLong * (n - 1) / 2)
    }
    val shapes: Seq[(String, IndexedSeq[(Long, Long)])] = Seq(
      "uniform-random" -> IndexedSeq.fill(10000) {
        val lo = rnd.between(0L, 1000000L); (lo, lo + rnd.between(0L, 5000L))
      },
      "mostly-disjoint" -> (0 until 10000).map { i =>
        val lo = i * 100L; (lo, lo + 50L + rnd.between(0L, 200L))
      },
      "fully-nested" -> (0 until 2000).map(i => (i.toLong, 20000L - i)),
      "degenerate-points" -> IndexedSeq.fill(1000)((7L, 7L)))
    shapes.foreach { case (name, ivs) =>
      val fast = Advisor.overlapFraction(ivs)
      val slow = brute(ivs)
      assert(math.abs(fast - slow) < 1e-12, s"$name: sweep=$fast brute=$slow")
    }
  }

  test("distributed merge pruning equals the driver path; manifest blooms refine it") {
    import spark.implicits._
    import graft.table.{Merge, SnapshotLog}
    def build(): String = {
      val dir = Files.createTempDirectory("graft-distmerge").toString + "/t"
      // two key-range files WITH manifest blooms: evens [0..198], high [1001..1100]
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData((0 until 100).map(i => (i * 2L, s"e$i")).toDF("id", "v")
          .coalesce(1), dir, statsCol = Some("id"), bloomCol = Some("id")))
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData((1001 to 1100).map(i => (i.toLong, s"h$i")).toDF("id", "v")
          .coalesce(1), dir, statsCol = Some("id"), bloomCol = Some("id")))
      dir
    }
    val delta = Seq((4L, "E"), (500L, "new")).toDF("id", "v")
    val (d1, d2) = (build(), build())
    val rDriver = Merge.applyChanges(spark, d1, delta, "id", None)
    val rDist = Merge.applyChanges(spark, d2, delta, "id", None, maxDriverKeys = 0)
    assert(rDriver.filesTouched == 1 && rDriver.filesUntouched == 1)
    assert(rDist.filesTouched == 1 && rDist.filesUntouched == 1)
    def state(dir: String) = SnapshotLog.read(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state(d1) == state(d2))
    assert(state(d1)(4L) == "E" && state(d1)(500L) == "new" && state(d1).size == 201)
    // bloom refinement: key 3 is INSIDE the evens file's zone [0,198] but
    // absent from its bloom — the distributed path proves it untouched
    // where the zone-only driver path must rewrite the file
    val rd = Merge.applyChanges(spark, build(), Seq((3L, "x")).toDF("id", "v"),
      "id", None, maxDriverKeys = 0)
    assert(rd.filesTouched == 0 && rd.filesUntouched == 2,
      s"bloom should prove the insert-only key touches nothing: $rd")
    // same refinement on the merge-on-read mask side: no mask entry
    val rm = Merge.mergeOnRead(spark, build(), Seq((3L, "x")).toDF("id", "v"),
      "id", maxDriverKeys = 0)
    assert(rm.deleteEntries == 0, s"bloom-pruned insert must carry no mask: $rm")
    // and MOR driver-vs-distributed parity on the update+insert delta
    val (m1, m2) = (build(), build())
    val s1 = Merge.mergeOnRead(spark, m1, delta, "id")
    val s2 = Merge.mergeOnRead(spark, m2, delta, "id", maxDriverKeys = 0)
    assert(s1.deleteEntries == 1 && s2.deleteEntries == 1)
    assert(state(m1) == state(m2) && state(m1)(4L) == "E")
  }

  test("1M-key backfill merge distributes the prune and stays exact") {
    import graft.table.{Merge, SnapshotLog}
    val dir = Files.createTempDirectory("graft-bigmerge").toString + "/t"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(spark.range(1000).selectExpr("id", "id % 7 AS v"),
        dir, statsCol = Some("id")))
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(spark.range(10000000L, 10001000L)
        .selectExpr("id", "0L AS v"), dir, statsCol = Some("id")))
    // 1M distinct keys > DefaultMaxDriverKeys → the distributed path
    // engages on its own; no driver-side key array exists to OOM
    val delta = spark.range(1000000).selectExpr("id", "9L AS v")
    val r = Merge.applyChanges(spark, dir, delta, "id", None)
    assert(r.filesUntouched >= 1, s"far-range files must carry forward: $r")
    val read = SnapshotLog.read(spark, dir).get
    assert(read.count() == 1001000L)
    val vs = read.filter(col("id") < 1000).agg(min(col("v")), max(col("v"))).head()
    assert(vs.getLong(0) == 9L && vs.getLong(1) == 9L, "every low key must be upserted")
    assert(read.filter(col("id") >= 10000000L).filter(col("v") =!= 0L).count() == 0)
  }

  test("merge refuses off-lattice drift; on-lattice drift merges losslessly") {
    import spark.implicits._
    import graft.table.{Merge, SnapshotLog}
    val dir = Files.createTempDirectory("graft-driftref").toString + "/t"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(Seq((1L, 10), (2L, 20)).toDF("id", "amount"),
        dir, statsCol = Some("id")))
    // string vs int is off the widening lattice: COW and MOR both throw
    val bad = Seq((2L, "twenty")).toDF("id", "amount")
    intercept[IllegalArgumentException] {
      Merge.applyChanges(spark, dir, bad, "id", None)
    }
    intercept[IllegalArgumentException] {
      Merge.mergeOnRead(spark, dir, bad, "id")
    }
    // the refusals committed nothing
    assert(SnapshotLog.currentSnapshotId(spark, dir).get == 1L)
    // a widened delta (int → long amount, added note) merges losslessly
    val good = Seq((2L, 21L, "updated"), (3L, 30L, "new")).toDF("id", "amount", "note")
    Merge.applyChanges(spark, dir, good, "id", None)
    val got = SnapshotLog.read(spark, dir).get.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), Option(r.getString(2))))).toMap
    assert(got == Map(1L -> ((10L, None)), 2L -> ((21L, Some("updated"))),
      3L -> ((30L, Some("new")))))
  }

  test("merge with touched files spanning drifted epochs reads survivors through the lattice") {
    import spark.implicits._
    import graft.table.{Merge, SnapshotLog}
    val dir = Files.createTempDirectory("graft-epochmerge").toString + "/t"
    // epoch A: (id, amount int, addr); epoch B: (id, amount long, note)
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(Seq((1L, 10, "a1"), (2L, 20, "a2"))
        .toDF("id", "amount", "addr").coalesce(1), dir, statsCol = Some("id")))
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(Seq((11L, 100L, "n1"), (12L, 200L, "n2"))
        .toDF("id", "amount", "note").coalesce(1), dir, statsCol = Some("id")))
    // the delta touches BOTH epochs' files: survivors (keys 1 and 11)
    // must keep their own epoch's columns — a raw multi-path read would
    // infer one file's schema and silently null the other's
    val delta = Seq((2L, 21L, "x"), (12L, 201L, "y")).toDF("id", "amount", "note")
    val r = Merge.applyChanges(spark, dir, delta, "id", None)
    assert(r.filesTouched == 2)
    val df = SnapshotLog.read(spark, dir).get
    assert(df.columns.toSet == Set("id", "amount", "addr", "note"))
    val got = df.collect().map(x => x.getLong(0) ->
      ((x.getLong(1), Option(x.getAs[String]("addr")), Option(x.getAs[String]("note"))))).toMap
    assert(got(1L) == ((10L, Some("a1"), None)), s"epoch-A survivor lost data: ${got(1L)}")
    assert(got(11L) == ((100L, None, Some("n1"))), s"epoch-B survivor lost data: ${got(11L)}")
    assert(got(2L) == ((21L, None, Some("x"))) && got(12L) == ((201L, None, Some("y"))))
    assert(got.size == 4)
  }

  test("z-order materialization restores 2-D pruning after MOR maintenance") {
    import spark.implicits._
    import graft.table.{Merge, SnapshotLog}
    val base = Files.createTempDirectory("graft-zmat").toString
    val dir = s"$base/grid_parquet"
    val grid = (0 until 100).flatMap(x => (0 until 100).map(y =>
      (x * 100L + y, x.toLong, y.toLong))).toDF("id", "x", "y").repartition(8)
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(grid, dir, statsCol = Some("id"), statsCols = Seq("x", "y")))
    // MOR churn: delete one cell, rewrite another, insert a new one
    Merge.mergeOnRead(spark, dir,
      Seq((1515L, None: Option[Long], None: Option[Long], true),
        (2525L, Some(25L), Some(25L), false),
        (10001L, Some(99L), Some(99L), false))
        .toDF("id", "x", "y", "is_del"),
      "id", Some("is_del"))
    // maintenance with the Z-order spec: masks fold in AND the layout
    // comes back as near-square tiles with BOTH dims' stats recorded
    val snap = Merge.materializeDeletes(spark, dir, targetFiles = 16,
      clusterZOrder = Seq("x", "y"))
    assert(snap.nonEmpty)
    val files = SnapshotLog.filesAt(spark, dir)
    assert(files.forall(_.kind == "data"))
    assert(files.forall(f => f.stats.contains("x") && f.stats.contains("y") &&
      f.stats.contains("id")))
    val (_, xSkip) = SnapshotLog.pruneStats(spark, dir, Map("x" -> (10L, 19L)))
    val (_, ySkip) = SnapshotLog.pruneStats(spark, dir, Map("y" -> (10L, 19L)))
    assert(xSkip > 0 && ySkip > 0,
      s"z-order materialization must restore per-dim skipping: x=$xSkip y=$ySkip")
    // content is exactly the churned grid
    val got = SnapshotLog.read(spark, dir).get
    assert(got.count() == 10000) // −1 deleted, ±0 rewritten, +1 inserted
    assert(got.filter(col("id") === 1515L).count() == 0)
    assert(got.filter(col("id") === 10001L).count() == 1)
    // and the key column's own zone survives for future merge pruning
    assert(files.forall(f => f.statsMin.isDefined))
  }

  test("change feed prunes phantom deletes from manifest stats and blooms") {
    import spark.implicits._
    import graft.table.{Merge, SnapshotLog}
    val dir = Files.createTempDirectory("graft-phantom").toString + "/t"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((0 until 100).map(i => (i * 2L, s"v$i")).toDF("id", "v")
        .coalesce(1), dir, statsCol = Some("id"), bloomCol = Some("id")))
    // delete of key 3: inside the zone [0,198] but NEVER present (odd) —
    // the bloom proves absence, so the feed must emit NOTHING for it;
    // key 4 IS present, its delete must survive
    Merge.mergeOnRead(spark, dir,
      Seq((3L, null: String, true)).toDF("id", "v", "is_del"), "id", Some("is_del"))
    Merge.mergeOnRead(spark, dir,
      Seq((4L, null: String, true)).toDF("id", "v", "is_del"), "id", Some("is_del"))
    val feed = SnapshotLog.changes(spark, dir, from = 1L).get.collect()
    val delKeys = feed.filter(_.getAs[String]("_change_op") == "delete")
      .map(_.getAs[Long]("id")).toSet
    assert(delKeys == Set(4L),
      s"phantom delete of absent key 3 must be pruned, real delete of 4 kept: $delKeys")
    // feed replay still equals current state: fold upserts, apply deletes
    val current = SnapshotLog.read(spark, dir).get.collect()
      .map(_.getAs[Long]("id")).toSet
    assert(!current.contains(4L) && current.contains(2L) && current.size == 99)
  }

  test("string-keyed (UUID) tables: bloom-pruned COW and MOR merges, string point lookup") {
    import spark.implicits._
    import graft.table.{Merge, SnapshotLog}
    val dir = Files.createTempDirectory("graft-strkey").toString + "/t"
    def uid(i: Int) = f"uuid-$i%04d"
    // two files with KEY BLOOMS (string keys record no long zone — the
    // bloom is the only pruning index they get, over xxhash64)
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((0 until 100).map(i => (uid(i), 0L)).toDF("pk", "v")
        .coalesce(1), dir, statsCol = Some("pk"), bloomCol = Some("pk")))
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((1000 until 1100).map(i => (uid(i), 0L)).toDF("pk", "v")
        .coalesce(1), dir, statsCol = Some("pk"), bloomCol = Some("pk")))
    // COW: the delta's keys live only in file 1 (+ one brand-new key) —
    // bloom-only pruning must leave file 2 untouched
    val r = Merge.applyChanges(spark, dir,
      Seq((uid(7), 1L), ("uuid-9999", 1L)).toDF("pk", "v"), "pk", None)
    assert(r.filesTouched == 1 && r.filesUntouched == 1, s"$r")
    val st = SnapshotLog.read(spark, dir).get.collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(st(uid(7)) == 1L && st("uuid-9999") == 1L && st.size == 201)
    // the rewritten files carry key blooms forward: a later merge into
    // the OTHER key range leaves them untouched in turn
    val r2 = Merge.applyChanges(spark, dir,
      Seq((uid(1005), 2L)).toDF("pk", "v"), "pk", None)
    assert(r2.filesUntouched >= 1, s"$r2")
    // the forced-distributed path prunes identically
    val r3 = Merge.mergeOnRead(spark, dir,
      Seq((uid(8), 3L)).toDF("pk", "v"), "pk", maxDriverKeys = 0)
    assert(r3.deleteEntries == 1, s"$r3")
    // MOR with a string-key tombstone: masks join by the ORIGINAL key
    val m = Merge.mergeOnRead(spark, dir,
      Seq((uid(3), 0L, true), (uid(42), 5L, false)).toDF("pk", "v", "is_del"),
      "pk", Some("is_del"))
    assert(m.deleteEntries == 2, s"$m")
    val st2 = SnapshotLog.read(spark, dir).get.collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(!st2.contains(uid(3)) && st2(uid(42)) == 5L && st2(uid(8)) == 3L)
    assert(st2.size == 200)
    // a tombstone for a key that NEVER existed writes no mask at all —
    // the bloom proves absence at WRITE time (string-key phantom guard)
    val m2 = Merge.mergeOnRead(spark, dir,
      Seq(("uuid-nope", 0L, true)).toDF("pk", "v", "is_del"), "pk", Some("is_del"))
    assert(m2.deleteEntries == 0, s"$m2")
    // bloom point lookup on the string key skips most files and is exact
    val (kept, skipped) = SnapshotLog.prunePointStringStats(spark, dir, "pk", uid(1005))
    assert(skipped >= 1, s"kept=$kept skipped=$skipped")
    val got = SnapshotLog.readPointString(spark, dir, "pk", uid(1005)).get
      .filter(col("pk") === uid(1005)).collect()
    assert(got.length == 1 && got(0).getLong(1) == 2L)
  }

  test("composite keys via canonical surrogate: order_id+line merges exactly") {
    import spark.implicits._
    import graft.table.{Merge, SnapshotLog}
    val dir = Files.createTempDirectory("graft-compkey").toString + "/t"
    // (order, line) composite PK — the order_items shape — as one
    // -joined surrogate; components stay payload columns
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(concat_ws("", col("oid"), col("line")).as("pk"),
        col("oid"), col("line"), col("qty"))
    val base = (1 to 20).flatMap(o => (1 to 3).map(l => (o, l, 1L)))
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(keyed(base.toDF("oid", "line", "qty"))
        .repartitionByRange(2, col("pk")), dir,
        statsCol = Some("pk"), bloomCol = Some("pk")))
    // update (5,2), delete (7,1), insert (21,1) — sibling lines untouched
    val delta = keyed(Seq((5, 2, 9L), (7, 1, 0L), (21, 1, 2L))
        .toDF("oid", "line", "qty"))
      .withColumn("is_del", col("oid") === 7 && col("line") === 1)
    Merge.applyChanges(spark, dir, delta, "pk", Some("is_del"))
    val st = SnapshotLog.read(spark, dir).get.collect()
      .map(r => (r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
    assert(st.size == 60) // 60 base − 1 deleted + 1 inserted
    assert(st((5, 2)) == 9L && st((21, 1)) == 2L && !st.contains((7, 1)))
    assert(st((5, 1)) == 1L && st((5, 3)) == 1L && st((7, 2)) == 1L,
      "sibling lines of touched orders must be untouched")
    // distinct tuples can never collide in the surrogate: (1,23) vs (12,3)
    val a = Seq((1, 23, 0L)).toDF("oid", "line", "qty")
    val b = Seq((12, 3, 0L)).toDF("oid", "line", "qty")
    val ka = keyed(a).head().getString(0)
    val kb = keyed(b).head().getString(0)
    assert(ka != kb, "canonical separator must keep tuples distinct")
  }

  test("merge-on-read retry re-derives masks against the new head (no resurrected duplicates)") {
    import spark.implicits._
    import graft.table._
    val dir = Files.createTempDirectory("graft-mor-retry").toString + "/t"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((1 to 100).map(k => (k.toLong, 0L)).toDF("id", "v")
        .repartitionByRange(2, col("id")), dir, statsCol = Some("id")))
    // a competitor's append (key 999) staged up front; it will steal the
    // victim's commit id at the exact moment the victim tries to publish
    val competitor = SnapshotLog.writeData(Seq((999L, 7L)).toDF("id", "v"), dir,
      statsCol = Some("id"))
    @volatile var fired = false
    val sabotage = new LogStore {
      override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
          src: org.apache.hadoop.fs.Path, target: org.apache.hadoop.fs.Path): Boolean = {
        if (!fired) {
          fired = true // the nested commit below re-enters with fired=true
          SnapshotLog.commit(spark, dir, "append", competitor)
        }
        HardLinkLogStore.putIfAbsent(fs, src, target)
      }
    }
    // the victim upserts key 999 — a PURE INSERT against the state it
    // read (no mask entry on attempt 1). Losing the race to the append
    // that introduces 999 forces the retry to re-derive: the mask entry
    // must now exist, or both rows of 999 would be live.
    val res = LogStore.withLogStore(sabotage) {
      Merge.mergeOnRead(spark, dir, Seq((999L, 42L)).toDF("id", "v"), "id")
    }
    assert(res.deleteEntries == 1,
      s"re-derived attempt must mask the competitor's row: $res")
    val got = SnapshotLog.read(spark, dir).get.filter(col("id") === 999L).collect()
    assert(got.length == 1 && got(0).getLong(1) == 42L,
      s"the upsert must win over the raced-in append: ${got.mkString(",")}")
    assert(SnapshotLog.read(spark, dir).get.count() == 101)
  }

  test("concurrent merge-on-read appliers on disjoint keys all land exactly once") {
    import spark.implicits._
    import graft.table.{Merge, SnapshotLog}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = Files.createTempDirectory("graft-mor-conc").toString + "/t"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((1 to 100).map(k => (k.toLong, 0L)).toDF("id", "v")
        .repartitionByRange(2, col("id")), dir, statsCol = Some("id")))
    val appliers = Seq(
      (1 to 10).map(k => (k.toLong, 1L)),      // updates low keys
      (50 to 59).map(k => (k.toLong, 2L)),     // updates mid keys
      (200 to 209).map(k => (k.toLong, 3L)))   // pure inserts
      .map(rows => Future(
        Merge.mergeOnRead(spark, dir, rows.toDF("id", "v"), "id", maxRetries = 10)))
    Await.result(Future.sequence(appliers), 180.seconds)
    val st = SnapshotLog.read(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(st.size == 110) // 100 base + 10 inserts, every update in place
    assert((1 to 10).forall(k => st(k.toLong) == 1L))
    assert((50 to 59).forall(k => st(k.toLong) == 2L))
    assert((200 to 209).forall(k => st(k.toLong) == 3L))
    assert((11 to 49).forall(k => st(k.toLong) == 0L))
    // three rowdelta commits landed with distinct ids
    val ops = SnapshotLog.commits(spark, dir).map(_.op)
    assert(ops.count(_ == "rowdelta") == 3, s"$ops")
  }

  test("concurrent maintenance soak: appends, compaction and expiry race to a consistent table") {
    import spark.implicits._
    import graft.table.SnapshotLog
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val base = Files.createTempDirectory("graft-soak").toString
    val dir = s"$base/t_parquet"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(Seq((0L, "seed")).toDF("id", "v"), dir,
        statsCol = Some("id")))
    val appenders = (1 to 4).map { w =>
      Future {
        (0 until 3).foreach { i =>
          val k = (w * 1000 + i).toLong
          val files = SnapshotLog.writeData(Seq((k, s"w$w-$i")).toDF("id", "v"),
            dir, statsCol = Some("id"))
          SnapshotLog.commitRetrying(spark, dir, files, maxRetries = 30)
        }
      }
    }
    val compactor = Future {
      (0 until 3).foreach { _ =>
        try Compaction.compactSnapshotted(spark, base, "t", targetBytes = 1L << 30)
        catch { case _: SnapshotLog.ConcurrentCommitException => () } // re-derive next round
        Thread.sleep(30)
      }
    }
    val expirer = Future {
      (0 until 3).foreach { _ =>
        // the grace window is what makes racing expiry safe: staged-but-
        // uncommitted files and just-committed ones are never swept
        SnapshotLog.expireSnapshots(spark, dir, retainLast = 4)
        Thread.sleep(40)
      }
    }
    Await.result(Future.sequence(appenders :+ compactor :+ expirer), 300.seconds)
    // consistent end state: every append visible exactly once
    val rows = SnapshotLog.read(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(rows.length == rows.toMap.size, "no duplicated rows")
    assert(rows.length == 13, s"1 seed + 12 appends, got ${rows.length}")
    // history is auditable: retained ids resolve, ops are legal, row
    // accounting at the head equals the physical table
    val cs = SnapshotLog.commits(spark, dir)
    assert(cs.map(_.snapshotId) == cs.map(_.snapshotId).sorted)
    assert(cs.forall(c => c.op == "append" || c.op == "replace"))
    assert(SnapshotLog.filesAt(spark, dir)
      .filter(_.kind == "data").map(_.rows).sum == 13)
    // every retained snapshot still reads (no swept live file)
    SnapshotLog.snapshots(spark, dir).foreach { id =>
      SnapshotLog.read(spark, dir, asOf = Some(id)).foreach(_.count())
    }
  }

  test("MOR appliers race a mask consolidator and expirer to a consistent table") {
    import spark.implicits._
    import graft.table.{Merge, SnapshotLog}
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val base = Files.createTempDirectory("graft-morsoak").toString
    val dir = s"$base/t"
    // seed keys 1..90 so every applier's updates hit existing rows
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((1 to 90).map(k => (k.toLong, 0L)).toDF("id", "v")
        .repartitionByRange(2, col("id")), dir, statsCol = Some("id")))
    // 3 appliers on DISJOINT key bands, 4 rounds each: every round
    // updates its band's next key (mergeOnRead retries internally)
    val appliers = (0 until 3).map { w =>
      Future {
        (0 until 4).foreach { i =>
          val k = (w * 30 + i + 1).toLong
          Merge.mergeOnRead(spark, dir,
            Seq((k, 100L + w)).toDF("id", "v"), "id", None, maxRetries = 60)
        }
      }
    }
    // a consolidator folding whatever masks have accrued (losing its
    // commit race is fine — the debt is paid next cycle)
    val consolidator = Future {
      (0 until 4).foreach { _ =>
        try Merge.consolidateMasks(spark, dir)
        catch { case _: SnapshotLog.ConcurrentCommitException => () }
        Thread.sleep(25)
      }
    }
    val expirer = Future {
      (0 until 3).foreach { _ =>
        SnapshotLog.expireSnapshots(spark, dir, retainLast = 4)
        Thread.sleep(40)
      }
    }
    Await.result(Future.sequence(appliers :+ consolidator :+ expirer), 300.seconds)
    // exact end state: each applier's 4 keys hold its value, everything
    // else untouched, no duplicates through all the racing
    val got = SnapshotLog.read(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == got.toMap.size, "no duplicated rows")
    assert(got.length == 90, s"${got.length}")
    val m = got.toMap
    for (w <- 0 until 3; i <- 0 until 4)
      assert(m((w * 30 + i + 1).toLong) == 100L + w, s"applier $w key ${w * 30 + i + 1}")
    assert(m(25L) == 0L && m(60L) == 0L && m(90L) == 0L)
    // every retained snapshot still resolves through the checkpointed log
    SnapshotLog.snapshots(spark, dir).foreach { id =>
      SnapshotLog.read(spark, dir, asOf = Some(id)).foreach(_.count())
    }
  }

  test("forFileSystem refuses object-store schemes without an installed override") {
    import graft.table._
    val s3ish = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def getScheme: String = "s3a"
    }
    val e = intercept[IllegalStateException](LogStore.forFileSystem(s3ish))
    assert(e.getMessage.contains("s3a") && e.getMessage.contains("ConditionalPutLogStore"))
    // an installed override makes the same scheme resolvable (the
    // deployment-config path), scoped by the injection seam
    LogStore.withLogStore(HardLinkLogStore) {
      assert(LogStore.forFileSystem(s3ish) eq HardLinkLogStore)
    }
    // hdfs-family schemes still get the rename primitive with no override
    val hdfsish = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def getScheme: String = "hdfs"
    }
    assert(LogStore.forFileSystem(hdfsish) eq AtomicRenameLogStore)
  }

  test("legacy scalar offset is the MIN over partitions: a downgraded reader duplicates, never skips") {
    val base = Files.createTempDirectory("graft-legacy-min").toString
    val store = new OffsetStore(base)
    store.commitPartitioned("orders_mp", Map(0 -> 3L, 1 -> 9L, 2 -> 5L), 10L)
    // the partitioned reader sees the true per-partition marks
    assert(store.lastOffsets("orders_mp") == Map(0 -> 3L, 1 -> 9L, 2 -> 5L))
    // the legacy scalar in the JSON is the min (3), not the max (9): a
    // legacy single-partition reader binds it to partition 0 and resumes
    // at 4 — re-reading p0 records 4..9 (duplicates, at-least-once safe)
    // instead of skipping p0 records it never saw
    val json = new String(Files.readAllBytes(Paths.get(base, "orders_mp.json")))
    assert(json.contains("\"offset\": 3,"), json)
  }

  test("timestamp and date stats columns get long-domain zones; uncovered strings warn, not vanish") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val dir = Files.createTempDirectory("graft-tszone").toString + "/t"
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00"),
        java.sql.Date.valueOf("2024-03-01"), "a"),
      (2L, java.sql.Timestamp.valueOf("2024-03-02 10:00:00"),
        java.sql.Date.valueOf("2024-03-05"), "b")
    ).toDF("id", "ts", "d", "s")
    val files = SnapshotLog.writeData(df.coalesce(1), dir,
      statsCols = Seq("id", "ts", "d", "s"))
    val st = files.head.stats
    // timestamp zone is epoch MICROS, date zone epoch DAYS
    val tsLo = java.sql.Timestamp.valueOf("2024-03-01 10:00:00").getTime * 1000L
    val tsHi = java.sql.Timestamp.valueOf("2024-03-02 10:00:00").getTime * 1000L
    assert(st("ts") == (tsLo, tsHi), st)
    assert(st("d") == (19783L, 19787L), st) // days since 1970-01-01
    assert(st("id") == (1L, 2L))
    // the string column records no zone (warned on stderr) — pruning
    // paths treat the file as conservatively unprunable on it
    assert(!st.contains("s"))
  }

  test("compositeKey keeps (a, NULL) and (NULL, a) distinct; bare concat_ws collides them") {
    import spark.implicits._
    import graft.table.Merge
    val df = Seq((Some("a"), Option.empty[String]), (Option.empty[String], Some("a")))
      .toDF("c1", "c2")
    val bare = df.select(concat_ws("\u0001", col("c1"), col("c2"))).distinct().count()
    val safe = df.select(Merge.compositeKey(col("c1"), col("c2"))).distinct().count()
    assert(bare == 1L, "concat_ws skips nulls: both tuples collapse")
    assert(safe == 2L, "sentinel-coalesced surrogate keeps them distinct")
  }

  test("checkpointed log: delta manifests stay O(delta), resolution folds from the anchor") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val base = Files.createTempDirectory("graft-ckpt").toString
    val dir = s"$base/t"
    for (i <- 1 to 12)
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1),
          dir, statsCol = Some("id")))
    // periodic checkpoint landed at the interval boundary and the hint
    // points at it
    assert(Files.exists(Paths.get(dir, "_graft_log",
      f"${10L}%020d.checkpoint.json")))
    assert(SnapshotLog.lastCheckpointId(spark, dir).contains(10L))
    // every snapshot resolves to exactly its prefix of files
    for (i <- 1 to 12) {
      val live = SnapshotLog.filesAt(spark, dir, Some(i.toLong))
      assert(live.size == i, s"snapshot $i resolved ${live.size} files")
      assert(SnapshotLog.read(spark, dir, asOf = Some(i.toLong)).get.count() == i)
    }
    // commit bytes are O(delta): the 12th manifest (11 prior files live)
    // is no bigger than the 2nd — the round-9 format grew linearly here
    def manBytes(id: Long) =
      Files.size(Paths.get(dir, "_graft_log", f"$id%020d.json"))
    assert(manBytes(12) <= manBytes(2) * 2,
      s"manifest 12 is ${manBytes(12)}B vs manifest 2 ${manBytes(2)}B — not O(delta)")
    // the checkpoint holds the full 10-file live set (bigger than any
    // delta manifest)
    assert(Files.size(Paths.get(dir, "_graft_log",
      f"${10L}%020d.checkpoint.json")) > manBytes(12))
  }

  test("parquet checkpoints: past the threshold the live set round-trips through Spark rows") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val base = Files.createTempDirectory("graft-ckpt-pq").toString
    val dir = s"$base/t"
    // force the parquet form at fixture scale; restore after
    spark.conf.set("graft.checkpoint.parquetThreshold", "4")
    try {
      // commits carrying the FULL metadata surface: multi-column zones,
      // a string-key bloom, partition values — everything a checkpoint
      // row must round-trip losslessly (a dropped bloom would silently
      // unprune every later point lookup; a dropped seq would misapply
      // merge-on-read masks)
      for (i <- 1 to 12)
        SnapshotLog.commit(spark, dir, "append",
          SnapshotLog.writeData(
            Seq((i.toLong, s"k$i", s"p${i % 3}", i * 10L)).toDF("id", "k", "part", "v")
              .coalesce(1),
            dir, statsCols = Seq("id", "v"), bloomCol = Some("k"),
            partitionCols = Seq("part")))
      // the interval checkpoint is a POINTER + parquet rows, not a blob
      val ptr = Paths.get(dir, "_graft_log", f"${10L}%020d.checkpoint.json")
      assert(Files.exists(ptr))
      val ptrText = new String(Files.readAllBytes(ptr), "UTF-8")
      assert(ptrText.contains("graft-checkpoint-v2-parquet") &&
        ptrText.contains("ckpt-data/"), ptrText)
      // resolution THROUGH the parquet anchor is metadata-identical to a
      // pure delta-fold of the same log (fold from scratch = ground truth)
      val viaAnchor = SnapshotLog.filesAt(spark, dir, Some(12L))
        .sortBy(_.path)
      val truth = SnapshotLog.commits(spark, dir, Some(12L))
        .flatMap(_.added).sortBy(_.path)
      assert(viaAnchor == truth,
        "parquet checkpoint round-trip lost manifest metadata")
      assert(viaAnchor.forall(f => f.blooms.contains("k") &&
        f.stats.contains("v") && f.parts.contains("part") && f.seq > 0))
      // pruned reads keep working through the anchor
      assert(SnapshotLog.readWhere(spark, dir, Map("v" -> (30L, 30L)))
        .get.count() == 1)
      assert(SnapshotLog.readPointString(spark, dir, "k", "k7").get
        .filter(col("k") === "k7").count() == 1)
      // expiry sweeps a superseded parquet checkpoint's row dir with it
      for (i <- 13 to 22)
        SnapshotLog.commit(spark, dir, "append",
          SnapshotLog.writeData(Seq((i.toLong, s"k$i", s"p${i % 3}", i * 10L))
            .toDF("id", "k", "part", "v").coalesce(1), dir,
            statsCols = Seq("id", "v"), bloomCol = Some("k"),
            partitionCols = Seq("part")))
      SnapshotLog.expireSnapshots(spark, dir, retainLast = 2, orphanGraceMs = 0L)
      assert(!Files.exists(ptr), "stale pointer not swept")
      import scala.jdk.CollectionConverters._
      val ckptData = Paths.get(dir, "_graft_log", "ckpt-data")
      val leftover = Files.list(ckptData).iterator().asScala
        .filter(_.getFileName.toString.startsWith(f"${10L}%020d")).toSeq
      assert(leftover.isEmpty, s"orphaned checkpoint rows: $leftover")
      assert(SnapshotLog.read(spark, dir).get.count() == 22)
    } finally spark.conf.unset("graft.checkpoint.parquetThreshold")
  }

  test("pre/post-image feed: a retraction consumer maintains a view with no parent re-read") {
    import spark.implicits._
    import graft.table.{DiffConsumer, Merge, SnapshotLog}
    val base = Files.createTempDirectory("graft-preimg").toString
    val dir = s"$base/t"
    def rows(t: (Long, String, Long)*) = t.toDF("id", "grp", "v")
    // snapshot 1: seed
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(rows((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L),
        (4L, "b", 40L), (5L, "c", 50L)).coalesce(1), dir, statsCol = Some("id")))
    // snapshot 2 (merge-on-read): update 1,2; insert 10,11
    Merge.mergeOnRead(spark, dir, rows((1L, "a", 110L), (2L, "a", 120L),
      (10L, "c", 100L), (11L, "b", 200L)), "id")
    // snapshot 3 (merge-on-read): tombstone 3 and 4
    Merge.mergeOnRead(spark, dir,
      rows((3L, "b", 0L), (4L, "b", 0L)).withColumn("_del", lit(true)),
      "id", deleteCol = Some("_del"))
    // snapshot 4 (replace): maintenance — must contribute NO events
    assert(Merge.materializeDeletes(spark, dir).contains(4L))
    // snapshot 5 (lineage COW): update 5, insert 12, delete 10
    Merge.applyChanges(spark, dir,
      rows((5L, "c", 1050L), (12L, "a", 300L))
        .withColumn("_del", lit(false))
        .unionByName(rows((10L, "c", 0L)).withColumn("_del", lit(true))),
      "id", deleteCol = Some("_del"), lineage = true)

    val consumer = new DiffConsumer(s"$base/state")
    val (feedOpt, hwm) = consumer.consumeChanges(spark, dir, "ivm",
      preImages = true)
    val feed = feedOpt.get.localCheckpoint(true)
    // a fresh consumer starts at snapshot 0: the seed's own inserts are
    // events too, and the update's pre/post pair carries the exact old
    // and new values
    val ev1 = feed.filter(col("id") === 1L)
      .select(col("_change_op"), col("v"), col("_change_snapshot")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(ev1 == Set(("insert", 10L, 1L),
      ("update_preimage", 10L, 2L), ("update_postimage", 110L, 2L)))
    // deletes carry the FULL parent payload (id 3 existed with v=30)
    val ev3 = feed.filter(col("id") === 3L && col("_change_op") === "delete")
      .collect()
    assert(ev3.length == 1 && ev3.head.getAs[Long]("v") == 30L &&
      ev3.head.getAs[String]("grp") == "b")
    // replayed-to-state: a RETRACTION consumer folds the feed into a
    // grouped view — subtract pre-images and deletes, add post-images
    // and inserts — and must land exactly on the table's current state,
    // never re-reading any parent snapshot
    val signed = feed.withColumn("sgn",
      when(col("_change_op").isin("insert", "update_postimage"), lit(1L))
        .otherwise(lit(-1L)))
    val folded = signed.groupBy(col("grp"))
      .agg(sum(col("sgn") * col("v")).as("sum_v"), sum(col("sgn")).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val truth = SnapshotLog.read(spark, dir).get
      .groupBy(col("grp")).agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(folded.filter(_._2 != ((0L, 0L))) == truth,
      s"view $folded != table $truth")
    consumer.commit("ivm", hwm)
    // a retained rowdelta whose PARENT expired cannot produce pre-images:
    // refused loudly with the remedy named (plain mode keeps working)
    SnapshotLog.expireSnapshots(spark, dir, retainLast = 4, orphanGraceMs = 0L)
    assert(SnapshotLog.snapshots(spark, dir) == Seq(2L, 3L, 4L, 5L))
    val e = intercept[IllegalArgumentException](
      SnapshotLog.changes(spark, dir, from = 1L, preImages = true))
    assert(e.getMessage.contains("pre-images"), e.getMessage)
    assert(SnapshotLog.changes(spark, dir, from = 1L).isDefined)
  }

  test("expiry anchors the new retention horizon before dropping the prefix") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val base = Files.createTempDirectory("graft-ckpt-exp").toString
    val dir = s"$base/t"
    for (i <- 1 to 7)
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1),
          dir, statsCol = Some("id")))
    // no periodic checkpoint yet (interval 10): expiry must create the
    // anchor itself or snapshots 5..7 would become unresolvable
    val (dropped, _) = SnapshotLog.expireSnapshots(spark, dir, retainLast = 3,
      orphanGraceMs = 0L)
    assert(dropped == 4)
    assert(SnapshotLog.snapshots(spark, dir) == Seq(5L, 6L, 7L))
    assert(Files.exists(Paths.get(dir, "_graft_log",
      f"${5L}%020d.checkpoint.json")), "horizon anchor missing")
    for (i <- 5 to 7)
      assert(SnapshotLog.read(spark, dir, asOf = Some(i.toLong)).get.count() == i)
    // expired ids still refuse loudly
    intercept[IllegalArgumentException](
      SnapshotLog.filesAt(spark, dir, Some(3L)))
    // a second expiry drops the now-stale anchor along with the prefix
    for (i <- 8 to 9)
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1),
          dir, statsCol = Some("id")))
    SnapshotLog.expireSnapshots(spark, dir, retainLast = 2, orphanGraceMs = 0L)
    assert(!Files.exists(Paths.get(dir, "_graft_log",
      f"${5L}%020d.checkpoint.json")), "stale anchor not swept")
    assert(SnapshotLog.read(spark, dir).get.count() == 9)
  }

  test("legacy v1 self-contained manifests still resolve as anchors under the v2 log") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val base = Files.createTempDirectory("graft-v1compat").toString
    val dir = s"$base/t"
    // hand-write snapshot 1 in the round-9 v1 format: live embedded
    val staged = SnapshotLog.writeData(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), dir)
    def fjson(f: SnapshotLog.DataFile, seq: Long) =
      s"""{"path":"${f.path}","rows":${f.rows},"bytes":${f.bytes},"kind":"data","seq":$seq}"""
    val filesJson = staged.map(fjson(_, 1L)).mkString("[", ",", "]")
    val v1 =
      s"""{"format":"graft-snapshot-v1","snapshot_id":1,"op":"append","ts_ms":1,
         |"added":$filesJson,"removed":[],"live":$filesJson,"summary":{}}""".stripMargin
    Files.createDirectories(Paths.get(dir, "_graft_log"))
    Files.write(Paths.get(dir, "_graft_log", f"${1L}%020d.json"),
      v1.getBytes("UTF-8"))
    // v2 commits stack on top of the v1 anchor
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(Seq((3L, "c")).toDF("id", "v").coalesce(1), dir))
    assert(SnapshotLog.read(spark, dir).get.count() == 3)
    assert(SnapshotLog.read(spark, dir, asOf = Some(1L)).get.count() == 2)
  }

  test("partition-aware snapshots: manifest value sets prune date-bounded reads") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val base = Files.createTempDirectory("graft-partsnap").toString
    val dir = s"$base/t"
    val dates = Seq("2026-01-15", "2026-01-16", "2026-01-17")
    def sync(offsetBase: Long) = {
      val rows = for (d <- dates; i <- 0 until 40)
        yield (offsetBase + i, d, s"u$i")
      val df = rows.toDF("id", "sync_date", "payload")
        .repartitionByRange(3, col("sync_date")) // cluster: one date per file
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData(df, dir, statsCol = Some("id"),
          partitionCols = Seq("sync_date")))
    }
    sync(0L); sync(1000L)
    val files = SnapshotLog.filesAt(spark, dir)
    assert(files.size == 6, s"expected 3 dates x 2 syncs, got ${files.size}")
    assert(files.forall(_.parts.get("sync_date").exists(_.size == 1)),
      "each clustered file must record exactly its one date")
    // the month-bounded read provably skips other partitions' files
    val (kept, skipped) = SnapshotLog.prunePartitionStats(spark, dir,
      Map("sync_date" -> Seq("2026-01-16")))
    assert(kept == 2 && skipped == 4, s"kept=$kept skipped=$skipped")
    // pruning may only skip, never lose: pruned read + real filter ==
    // full read + real filter
    val viaPruned = SnapshotLog.readPartitions(spark, dir,
        Map("sync_date" -> Seq("2026-01-16"))).get
      .filter(col("sync_date") === "2026-01-16")
    val viaFull = SnapshotLog.read(spark, dir).get
      .filter(col("sync_date") === "2026-01-16")
    assert(viaPruned.count() == 80 && viaFull.count() == 80)
    assert(viaPruned.exceptAll(viaFull).isEmpty && viaFull.exceptAll(viaPruned).isEmpty)
    // a date no file holds prunes to nothing
    assert(SnapshotLog.readPartitions(spark, dir,
      Map("sync_date" -> Seq("2099-12-31"))).isEmpty)
  }

  test("snapshotted partitioned sync: sync_date value sets ride the manifest") {
    val base = Files.createTempDirectory("graft-partsync").toString
    val store = new OffsetStore(s"$base/offsets")
    val job = new SyncJob(source, store, s"$base/warehouse",
      partitionBySyncDate = true, snapshotted = true)
    val res = job.sync(spark, "orders")
    assert(res.records == 10)
    import graft.table.SnapshotLog
    val tdir = s"$base/warehouse/orders_parquet"
    val files = SnapshotLog.filesAt(spark, tdir)
    assert(files.nonEmpty &&
      files.forall(_.parts.get("sync_date").contains(Seq("2026-01-15"))),
      files.map(_.parts).toString)
    // the fixture's one date reads fully; any other date prunes to zero
    assert(SnapshotLog.readPartitions(spark, tdir,
      Map("sync_date" -> Seq("2026-01-15"))).get.count() == 10)
    val (kept0, skipped0) = SnapshotLog.prunePartitionStats(spark, tdir,
      Map("sync_date" -> Seq("2027-05-05")))
    assert(kept0 == 0 && skipped0 == files.size)
    // compaction must not blind the pruning: value sets re-derive
    Compaction.compactSnapshotted(spark, s"$base/warehouse", "orders",
      targetBytes = 1L << 30)
    val after = SnapshotLog.filesAt(spark, tdir)
    assert(after.forall(_.parts.get("sync_date").contains(Seq("2026-01-15"))),
      after.map(_.parts).toString)
  }

  test("two separate JVMs race the claim-file arbiter: exactly one winner per key") {
    import scala.sys.process._
    val base = Files.createTempDirectory("graft-claimrace").toString
    val claimDir = s"$base/claims"
    val goFile = s"$base/go"
    val keys = (1 to 20).map(i => s"k$i")
    val cp = System.getProperty("java.class.path")
    def spawn(tag: String) = {
      val out = new StringBuilder
      val proc = Process(Seq("java", "-cp", cp, "graft.tools.ClaimRace",
        claimDir, goFile, tag) ++ keys)
        .run(ProcessLogger(l => out.synchronized { out.append(l).append('\n') }, _ => ()))
      (proc, out)
    }
    val (p1, o1) = spawn("A")
    val (p2, o2) = spawn("B")
    Thread.sleep(500) // both JVMs parked on the gate
    Files.write(Paths.get(goFile), Array.emptyByteArray)
    assert(p1.exitValue() == 0 && p2.exitValue() == 0, s"$o1 / $o2")
    def wins(out: StringBuilder): Map[String, Boolean] =
      out.toString.linesIterator.collect {
        case l if l.startsWith("CLAIM ") =>
          val Array(_, k, w) = l.split(' '); k -> w.toBoolean
      }.toMap
    val (w1, w2) = (wins(o1), wins(o2))
    keys.foreach { k =>
      assert(w1.contains(k) && w2.contains(k), s"missing result for $k")
      assert(w1(k) ^ w2(k),
        s"key $k: JVM A won=${w1(k)}, JVM B won=${w2(k)} — must be exactly one")
    }
    // every claim file holds the WINNER's payload (atomically linked
    // with the claim, the died-winner recovery source)
    val arbiter = new graft.table.ClaimFileArbiter(claimDir)
    keys.foreach { k =>
      val tag = if (w1(k)) "A" else "B"
      assert(arbiter.payloadOf(k).map(new String(_, "UTF-8")).contains(s"$tag:$k"))
    }
  }

  test("died-winner recovery across processes: the loser completes the claimed commit") {
    import scala.sys.process._
    import graft.table._
    import org.apache.hadoop.fs.Path
    val base = Files.createTempDirectory("graft-diedwinner").toString
    val claimDir = s"$base/claims"
    val goFile = s"$base/go"
    Files.write(Paths.get(goFile), Array.emptyByteArray) // no gate needed
    // JVM A claims the manifest key and DIES before putting the file
    val cp = System.getProperty("java.class.path")
    val target = new Path(s"$base/log/00000000000000000001.json")
    val rc = Process(Seq("java", "-cp", cp, "graft.tools.ClaimRace",
      claimDir, goFile, "winner", target.toString)).!
    assert(rc == 0)
    assert(!Files.exists(Paths.get(target.toUri.getPath)), "A never put")
    // this process races the same id through the conditional-put store:
    // it loses the claim AND completes A's commit from the claim payload
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(target.getParent)
    val src = new Path(s"$base/log/.tmp-loser.json")
    val out = fs.create(src, false)
    out.write("loser-bytes".getBytes("UTF-8")); out.close()
    val store = new ConditionalPutLogStore(new ClaimFileArbiter(claimDir))
    assert(!store.putIfAbsent(fs, src, target), "the loser must lose")
    val landed = new String(
      Files.readAllBytes(Paths.get(target.toUri.getPath)), "UTF-8")
    assert(landed == s"winner:$target",
      s"target must hold the DIED WINNER's payload, got '$landed'")
  }

  test("mask consolidation folds N mask files to one without changing a row") {
    import spark.implicits._
    import graft.table.{Advisor, Merge, SnapshotLog}
    val dir = Files.createTempDirectory("graft-maskfold").toString + "/t"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((1 to 10).map(k => (k.toLong, 0L)).toDF("id", "v")
        .repartitionByRange(2, col("id")), dir, statsCol = Some("id")))
    def mor(df: org.apache.spark.sql.DataFrame, del: Boolean = false) =
      Merge.mergeOnRead(spark, dir,
        if (del) df.withColumn("is_del", lit(true)) else df.withColumn("is_del", lit(false)),
        "id", Some("is_del"))
    mor(Seq((1L, 1L), (2L, 1L)).toDF("id", "v"))          // commit 2: mask {1,2}@2
    mor(Seq((3L, 0L)).toDF("id", "v"), del = true)        // commit 3: mask {3}@3
    mor(Seq((3L, 33L)).toDF("id", "v"))                   // commit 4: re-insert k3 + mask {3}@4
    mor(Seq((4L, 4L)).toDF("id", "v"))                    // commit 5: mask {4}@5
    mor(Seq((5L, 5L)).toDF("id", "v"))                    // commit 6: mask {5}@6
    val before = SnapshotLog.read(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(before(3L) == 33L && before(1L) == 1L && before.size == 10, before.toString)
    val masksBefore = SnapshotLog.filesAt(spark, dir).count(_.kind == "eqdelete")
    assert(masksBefore == 5, s"$masksBefore")
    // the advisor names the debt…
    val advice = Advisor.advise(spark, dir, retainLast = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(advice.get("consolidate_masks").contains(5L), advice.toString)
    // …and consolidation pays it: ONE mask file, per-key MAX seq embedded
    assert(Merge.consolidateMasks(spark, dir).nonEmpty)
    val masks = SnapshotLog.filesAt(spark, dir).filter(_.kind == "eqdelete")
    assert(masks.size == 1, s"${masks.size}")
    val maskDf = spark.read.parquet(masks.head.path)
    assert(maskDf.columns.toSet == Set("id", "_graft_del_seq"))
    val seqs = maskDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(seqs == Map(1L -> 2L, 2L -> 2L, 3L -> 4L, 4L -> 5L, 5L -> 6L), seqs.toString)
    // reads identical before/after — in particular the re-inserted k3
    // SURVIVES because its original mask seq (4) rode along, not the
    // consolidation commit's (7)
    val after = SnapshotLog.read(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == before)
    assert(Advisor.advise(spark, dir, retainLast = 10).collect()
      .forall(_.getString(0) != "consolidate_masks"))
    // the consolidation replace emits NOTHING in the change feed
    assert(SnapshotLog.changes(spark, dir, from = 6L).isEmpty)
    // a second consolidation is a no-op; full materialization still works
    assert(Merge.consolidateMasks(spark, dir).isEmpty)
    assert(Merge.materializeDeletes(spark, dir).nonEmpty)
    assert(SnapshotLog.filesAt(spark, dir).count(_.kind == "eqdelete") == 0)
    assert(SnapshotLog.read(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == before)
  }

  test("row lineage: change feed derives and replays across a mixed COW+MOR history") {
    import spark.implicits._
    import graft.table.{Merge, SnapshotLog}
    val dir = Files.createTempDirectory("graft-lineage").toString + "/t"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((1 to 6).map(k => (k.toLong, 0L)).toDF("id", "v")
        .repartitionByRange(2, col("id")), dir, statsCol = Some("id")))
    // commit 2: COW merge WITH lineage — update k1, tombstone k2, insert k7
    Merge.applyChanges(spark, dir,
      Seq((1L, 10L, false), (2L, 0L, true), (7L, 0L, false)).toDF("id", "v", "is_del"),
      "id", Some("is_del"), lineage = true)
    // commit 3: merge-on-read — update k3, tombstone k4
    Merge.mergeOnRead(spark, dir,
      Seq((3L, 30L, false), (4L, 0L, true)).toDF("id", "v", "is_del"),
      "id", Some("is_del"))
    // the read surface hides the lineage stamp
    assert(!SnapshotLog.read(spark, dir).get.columns.contains(Merge.LineageCol))
    val feed = SnapshotLog.changes(spark, dir, from = 1L).get
      .select(col("id"), col("v"), col("_change_op"), col("_change_snapshot"))
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getString(2), r.getLong(3)))
      .toSet
    // COW upserts are ONLY the rows stamped with commit 2 — the carried
    // copies of k3..k6 were rewritten into the same files but keep their
    // old stamp and must not appear
    assert(feed == Set(
      (1L, Some(10L), "upsert", 2L), (7L, Some(0L), "upsert", 2L),
      (2L, None, "delete", 2L),
      (3L, Some(30L), "upsert", 3L), (4L, None, "delete", 3L)), feed.toString)
    // replaying the feed over the snapshot-1 state reproduces the head
    var state = SnapshotLog.read(spark, dir, asOf = Some(1L)).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    feed.toSeq.sortBy(_._4).foreach {
      case (k, Some(v), "upsert", _) => state += (k -> v)
      case (k, _, "delete", _) => state -= k
      case other => fail(other.toString)
    }
    val head = SnapshotLog.read(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state == head, s"replayed=$state head=$head")
    // a lineage-less COW commit still refuses loudly
    val dir2 = Files.createTempDirectory("graft-nolineage").toString + "/t"
    SnapshotLog.commit(spark, dir2, "append",
      SnapshotLog.writeData((1 to 3).map(k => (k.toLong, 0L)).toDF("id", "v")
        .coalesce(1), dir2, statsCol = Some("id")))
    Merge.upsert(spark, dir2, Seq((1L, 5L)).toDF("id", "v"), "id")
    val e = intercept[IllegalArgumentException](
      SnapshotLog.changes(spark, dir2, from = 1L))
    assert(e.getMessage.contains("lineage"))
  }

  test("auto-maintained runner keeps file counts and history bounded over repeated syncs") {
    import graft.table.SnapshotLog
    val base = Files.createTempDirectory("graft-automaint").toString
    val fdir = s"$base/fixtures"
    Files.createDirectories(Paths.get(fdir))
    val topicFile = Paths.get(fdir, "dbserver1.ecommerce.orders.jsonl")
    def wireLine(off: Long): String =
      s"""{"key": "{\\"order_id\\": $off}", "value": "{\\"order_id\\": $off, """ +
        s"""\\"customer_id\\": 1, \\"order_date\\": 1709287200000000, """ +
        s"""\\"status\\": \\"NEW\\", \\"total_amount\\": \\"10.00\\", """ +
        s"""\\"shipping_address\\": \\"x\\"}", """ +
        s""""topic": "dbserver1.ecommerce.orders", "partition": 0, "offset": $off, """ +
        s""""timestamp": "2026-01-15 10:00:00"}"""
    val retain = 3
    var reports = Seq.empty[PipelineRunner.PipelineReport]
    for (round <- 0 until 6) {
      // the topic grows between cron fires: 4 new records per round
      val lines = ((round * 4) until (round * 4 + 4)).map(i => wireLine(i.toLong))
      Files.write(topicFile, (lines.mkString("\n") + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
      reports :+= PipelineRunner.run(spark, fdir, s"$base/warehouse",
        s"$base/offsets", tables = Seq("orders"), snapshotted = true,
        autoMaintain = true, retainLast = retain)
    }
    assert(reports.forall(_.allConsistent))
    val dir = s"$base/warehouse/orders_parquet"
    // without maintenance this is 6 one-file snapshots and 6 manifests;
    // the advisor loop bin-packs the small files and expires history
    val files = SnapshotLog.filesAt(spark, dir).filter(_.kind == "data")
    assert(files.size <= 2, s"small-file debt unbounded: ${files.size} files")
    assert(SnapshotLog.snapshots(spark, dir).size <= retain,
      s"history depth unbounded: ${SnapshotLog.snapshots(spark, dir)}")
    // the report rows record what was paid, and something was
    assert(reports.flatMap(_.tables.flatMap(_.maintenance)).contains("compact"))
    assert(reports.flatMap(_.tables.flatMap(_.maintenance)).contains("expire_snapshots"))
    // all 24 records visible exactly once at the head
    assert(SnapshotLog.read(spark, dir).get.count() == 24)
  }

  test("multi-topic resume: one read spans topics with per-topic, per-partition bounds") {
    val base = Files.createTempDirectory("graft-multitopic").toString
    val store = new OffsetStore(s"$base/offsets")
    store.commitPartitioned("orders", Map(0 -> 5L), 6L)
    store.commitPartitioned("orders_mp", Map(0 -> 3L, 1 -> 2L), 5L)
    // customers: no saved state → contributes no bound (reads earliest)
    val tt = Seq(
      "orders" -> Schemas.topicFor("orders"),
      "orders_mp" -> Schemas.topicFor("orders_mp"),
      "customers" -> Schemas.topicFor("customers"))
    val st = store.startingOffsetsForAll(tt)
    st match {
      case StartingOffsets.PerPartition(m) =>
        assert(m == Map(
          Schemas.topicFor("orders") -> Map(0 -> 6L),
          Schemas.topicFor("orders_mp") -> Map(0 -> 4L, 1 -> 3L)), m.toString)
      case other => fail(s"expected per-partition map, got $other")
    }
    // round-trips through the wire JSON the real connector takes
    assert(StartingOffsets.toJson(st) ==
      """{"dbserver1.ecommerce.orders": {"0": 6}, """ +
        """{"0": 4, "1": 3}""".patch(0, "\"dbserver1.ecommerce.orders_mp\": ", 0) + "}")
    // the production option surface: ONE subscription, same JSON
    val k = new KafkaCdcSource("broker:9092")
    val opts = k.optionsMulti(tt.map(_._2), st)
    assert(opts("subscribe") == tt.map(_._2).mkString(","))
    assert(opts("startingOffsets") == StartingOffsets.toJson(st))
    assert(opts("kafka.security.protocol") == "PLAINTEXT")
    // no state anywhere → plain earliest
    assert(new OffsetStore(s"$base/empty")
      .startingOffsetsForAll(Seq("a" -> "t.a")) == StartingOffsets.Earliest)
    // the file source honors the combined bounds in ONE multi-path pass
    val df = source.readMulti(spark,
      Seq(Schemas.topicFor("orders"), Schemas.topicFor("customers")),
      StartingOffsets.PerPartition(Map(Schemas.topicFor("orders") -> Map(0 -> 6L))))
    val byTopic = df.groupBy(col("topic")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTopic(Schemas.topicFor("orders")) == 4L, byTopic.toString)   // offsets 6..9
    assert(byTopic(Schemas.topicFor("customers")) == 6L, byTopic.toString) // earliest
  }

  test("readTimeRange prunes on timestamp zones and never loses a row") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val dir = Files.createTempDirectory("graft-timerange").toString + "/t"
    def month(m: Int) = (1 to 50).map(i =>
      (m * 100L + i, java.sql.Timestamp.valueOf(f"2024-0$m%d-15 ${i % 24}%02d:00:00")))
    for (m <- 1 to 3)
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData(month(m).toDF("id", "ts").coalesce(1), dir,
          statsCols = Seq("ts")))
    val feb = SnapshotLog.readTimeRange(spark, dir, "ts",
        java.sql.Timestamp.valueOf("2024-02-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-02-28 23:59:59")).get
      .filter(col("ts").between("2024-02-01", "2024-03-01"))
    assert(feb.count() == 50)
    // exactly one of three month-files survives the metadata prune
    val (kept, skipped) = SnapshotLog.pruneStats(spark, dir, Map("ts" ->
      (java.sql.Timestamp.valueOf("2024-02-01 00:00:00").getTime * 1000L,
        java.sql.Timestamp.valueOf("2024-02-28 23:59:59").getTime * 1000L)))
    assert(kept == 1 && skipped == 2, s"kept=$kept skipped=$skipped")
  }

  test("snapshot tags: named time travel, immutability, tag-aware retention islands") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val dir = Files.createTempDirectory("graft-tags").toString + "/t"
    for (i <- 1 to 8)
      SnapshotLog.commit(spark, dir, "append",
        SnapshotLog.writeData(Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1),
          dir, statsCol = Some("id")))
    SnapshotLog.tag(spark, dir, "audit-baseline", 3L)
    // named time travel
    val atTag = SnapshotLog.read(spark, dir,
      asOf = Some(SnapshotLog.snapshotForTag(spark, dir, "audit-baseline"))).get
    assert(atTag.count() == 3)
    // tags are immutable; unknown ids refuse
    intercept[IllegalArgumentException](SnapshotLog.tag(spark, dir, "audit-baseline", 5L))
    intercept[IllegalArgumentException](SnapshotLog.tag(spark, dir, "nope", 99L))
    intercept[IllegalArgumentException](SnapshotLog.snapshotForTag(spark, dir, "missing"))
    // retention keeps the tagged ISLAND while its neighbors expire
    val (dropped, _) = SnapshotLog.expireSnapshots(spark, dir, retainLast = 2,
      orphanGraceMs = 0L)
    assert(dropped == 5, s"$dropped") // 1,2,4,5,6 — 3 is tag-exempt
    assert(SnapshotLog.snapshots(spark, dir) == Seq(3L, 7L, 8L))
    // the island stays fully resolvable (its own checkpoint anchors it)
    assert(SnapshotLog.read(spark, dir, asOf = Some(3L)).get.count() == 3)
    assert(SnapshotLog.read(spark, dir, asOf = Some(7L)).get.count() == 7)
    assert(SnapshotLog.read(spark, dir).get.count() == 8)
    intercept[IllegalArgumentException](SnapshotLog.filesAt(spark, dir, Some(2L)))
    // history across the hole stays exact (re-anchored, not mis-folded)
    val hist = SnapshotLog.history(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(hist == Map(3L -> 3L, 7L -> 7L, 8L -> 8L), hist.toString)
    // the detail face reads it all from manifests
    val d = SnapshotLog.detail(spark, dir).head()
    assert(d.getAs[Long]("snapshot_id") == 8L)
    assert(d.getAs[Int]("snapshots_retained") == 3)
    assert(d.getAs[Int]("tags") == 1)
    assert(d.getAs[Long]("rows_live") == 8L)
    assert(d.getAs[String]("zone_cols") == "id")
    // untag → the island re-enters retention and expires
    SnapshotLog.removeTag(spark, dir, "audit-baseline")
    SnapshotLog.expireSnapshots(spark, dir, retainLast = 2, orphanGraceMs = 0L)
    assert(SnapshotLog.snapshots(spark, dir) == Seq(7L, 8L))
    intercept[IllegalArgumentException](SnapshotLog.filesAt(spark, dir, Some(3L)))
    assert(SnapshotLog.read(spark, dir).get.count() == 8)
  }

  test("subscribePattern: one regex subscription spans matching topics, resumable") {
    // the file source resolves the regex against its fixture dir, the
    // way a broker resolves subscribePattern — new tables matching the
    // CDC prefix get picked up with zero config change
    val topics = source.availableTopics(spark)
    assert(topics.contains("dbserver1.ecommerce.orders") &&
      topics.contains("dbserver1.ecommerce.customers"))
    val df = source.readPattern(spark,
      """dbserver1\.ecommerce\.(orders|customers)""",
      StartingOffsets.PerPartition(
        Map(Schemas.topicFor("orders") -> Map(0 -> 6L))))
    val byTopic = df.groupBy(col("topic")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTopic == Map(
      Schemas.topicFor("orders") -> 4L,      // resumed from 6
      Schemas.topicFor("customers") -> 6L))  // earliest
    intercept[IllegalArgumentException](
      source.readPattern(spark, "no\\.such\\.topic.*", StartingOffsets.Earliest))
    // the production option surface carries the regex verbatim
    val opts = new KafkaCdcSource("b:9092")
      .optionsPattern("""dbserver1\.ecommerce\..*""", StartingOffsets.Earliest)
    assert(opts("subscribePattern") == """dbserver1\.ecommerce\..*""")
    assert(!opts.contains("subscribe"))
  }

  test("write-audit-publish: staged appends are invisible until published, discards vanish") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val dir = Files.createTempDirectory("graft-wap").toString + "/t"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((1 to 5).map(k => (k.toLong, "base")).toDF("id", "v")
        .coalesce(1), dir, statsCol = Some("id")))
    // stage two candidate syncs
    val good = SnapshotLog.stageAppend(
      (6 to 8).map(k => (k.toLong, "good")).toDF("id", "v").coalesce(1),
      dir, statsCol = Some("id"), summary = Map("sync" -> "good"))
    val bad = SnapshotLog.stageAppend(
      Seq((99L, "corrupt")).toDF("id", "v").coalesce(1), dir, statsCol = Some("id"))
    // INVISIBLE: no new snapshot, reads and consumers see nothing
    assert(SnapshotLog.snapshots(spark, dir) == Seq(1L))
    assert(SnapshotLog.read(spark, dir).get.count() == 5)
    assert(SnapshotLog.stagedTokens(spark, dir).toSet == Set(good, bad))
    // AUDIT: the would-be state and the candidate rows themselves
    assert(SnapshotLog.readStaged(spark, dir, good).count() == 8)
    assert(SnapshotLog.readStagedOnly(spark, dir, bad).count() == 1)
    // failed audit → discard; files survive only until the next sweep
    SnapshotLog.discardStaged(spark, dir, bad)
    assert(SnapshotLog.stagedTokens(spark, dir) == Seq(good))
    // the sweep reclaims the discarded files but PROTECTS pending staging
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(Seq((10L, "x")).toDF("id", "v").coalesce(1), dir,
        statsCol = Some("id"))) // second snapshot so retainLast=2 keeps both
    val (_, swept) = SnapshotLog.expireSnapshots(spark, dir, retainLast = 2,
      orphanGraceMs = 0L)
    assert(swept == 1, s"exactly the discarded staged file, got $swept")
    // PUBLISH: one atomic ordinary append, token in the summary
    val id = SnapshotLog.publishStaged(spark, dir, good)
    assert(SnapshotLog.read(spark, dir).get.count() == 9)
    assert(SnapshotLog.commits(spark, dir).last.summary("staged_token") == good)
    assert(SnapshotLog.commits(spark, dir).last.summary("sync") == "good")
    assert(id == 3L && SnapshotLog.stagedTokens(spark, dir).isEmpty)
    // double-publish fails loudly
    intercept[IllegalArgumentException](SnapshotLog.publishStaged(spark, dir, good))
  }

  test("WAP sync: audit-gated publish, idempotent, consumers see one atomic append") {
    import graft.table.SnapshotLog
    val base = Files.createTempDirectory("graft-wapsync").toString
    val store = new OffsetStore(s"$base/offsets")
    val job = new SyncJob(source, store, s"$base/warehouse",
      snapshotted = true, wap = true)
    val res = job.sync(spark, "orders")
    assert(res.records == 10 && res.wrote)
    val tdir = s"$base/warehouse/orders_parquet"
    // published as ONE ordinary append with the audit trail in summary
    val cs = SnapshotLog.commits(spark, tdir)
    assert(cs.map(_.op) == Seq("append"))
    assert(cs.head.summary.contains("staged_token"))
    assert(SnapshotLog.stagedTokens(spark, tdir).isEmpty)
    assert(SnapshotLog.read(spark, tdir).get.count() == 10)
    // offsets advanced only after publish: re-run syncs nothing
    val again = job.sync(spark, "orders")
    assert(again.records == 0 && !again.wrote)
    assert(SnapshotLog.commits(spark, tdir).size == 1)
    // the full runner with --wap stays consistent end-to-end
    val report = PipelineRunner.run(spark, fixtures, s"$base/warehouse",
      s"$base/offsets", snapshotted = true, wap = true)
    assert(report.allConsistent)
  }

  test("randomized log walk: resolution matches an in-memory model at every step") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val dir = Files.createTempDirectory("graft-logwalk").toString + "/t"
    val rnd = new scala.util.Random(42) // deterministic walk
    // model: retained snapshot id -> logical row keys at that snapshot
    var model = Map.empty[Long, Set[Long]]
    var nextKey = 0L
    var head = 0L
    var taggedId = Option.empty[Long]
    def df(keys: Seq[Long]) = keys.map(k => (k, s"v$k")).toDF("id", "v").coalesce(1)
    for (step <- 1 to 34) {
      rnd.nextInt(10) match {
        case r if r <= 5 || head == 0 => // append 1-3 fresh keys
          val keys = (0 until (1 + rnd.nextInt(3))).map(_ => { nextKey += 1; nextKey })
          SnapshotLog.commit(spark, dir, "append",
            SnapshotLog.writeData(df(keys), dir, statsCol = Some("id")))
          head += 1
          model += head -> (model.getOrElse(head - 1, Set.empty) ++ keys)
        case 6 | 7 => // replace: rewrite everything, content unchanged
          val live = SnapshotLog.filesAt(spark, dir)
          val rows = model(head)
          SnapshotLog.commit(spark, dir, "replace",
            SnapshotLog.writeData(df(rows.toSeq.sorted), dir, statsCol = Some("id")),
            removed = live.map(_.path))
          head += 1
          model += head -> rows
        case 8 => // tag the head (or move the tag there)
          taggedId.foreach(_ => SnapshotLog.removeTag(spark, dir, "pin"))
          SnapshotLog.tag(spark, dir, "pin", head)
          taggedId = Some(head)
        case 9 => // expire to a random window; tag-exempt island survives
          val retain = 2 + rnd.nextInt(3)
          SnapshotLog.expireSnapshots(spark, dir, retainLast = retain,
            orphanGraceMs = 0L)
          val ids = model.keys.toSeq.sorted
          val kept = ids.takeRight(retain).toSet ++ taggedId.toSet
          model = model.filter { case (id, _) => kept.contains(id) }
      }
      // INVARIANT: every retained snapshot resolves to exactly the model
      assert(SnapshotLog.snapshots(spark, dir).toSet == model.keys.toSet,
        s"step $step: retained ids diverged")
      model.foreach { case (id, rows) =>
        val got = SnapshotLog.read(spark, dir, asOf = Some(id)).get
          .select(col("id")).collect().map(_.getLong(0)).toSet
        assert(got == rows, s"step $step snapshot $id: $got != $rows")
      }
    }
    // the walk crossed checkpoint boundaries and expiry holes
    assert(head >= 20, s"walk too short: $head")
  }

  test("pinned-state merges: an interleaved commit fails the merge instead of corrupting it") {
    import spark.implicits._
    import graft.table._
    val dir = Files.createTempDirectory("graft-pinned").toString + "/t"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((1 to 10).map(k => (k.toLong, 0L)).toDF("id", "v")
        .coalesce(1), dir, statsCol = Some("id")))
    // a competitor MOR merge (which would leave a pending mask) fires at
    // the exact moment the victim COW merge tries to publish — under the
    // old read-latest-twice scheme the COW would re-stamp the touched
    // file PAST the mask's seq and resurrect the deleted row silently
    @volatile var fired = false
    val sabotage = new LogStore {
      override def putIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
          src: org.apache.hadoop.fs.Path, target: org.apache.hadoop.fs.Path): Boolean = {
        if (!fired) {
          fired = true
          Merge.mergeOnRead(spark, dir,
            Seq((5L, 0L, true)).toDF("id", "v", "is_del"), "id", Some("is_del"))
        }
        HardLinkLogStore.putIfAbsent(fs, src, target)
      }
    }
    intercept[SnapshotLog.ConcurrentCommitException] {
      LogStore.withLogStore(sabotage) {
        Merge.upsert(spark, dir, Seq((1L, 99L)).toDF("id", "v"), "id")
      }
    }
    // the competitor's delete is intact; the failed merge changed nothing
    val got = SnapshotLog.read(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!got.contains(5L) && got(1L) == 0L && got.size == 9, got.toString)
  }

  test("NULL delete flags mean not-deleted; NULL merge keys refuse loudly") {
    import spark.implicits._
    import graft.table.{Merge, SnapshotLog}
    val dir = Files.createTempDirectory("graft-nullsafe").toString + "/t"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((1 to 4).map(k => (k.toLong, 0L)).toDF("id", "v")
        .coalesce(1), dir, statsCol = Some("id")))
    // a nullable CDC flag: NULL rows are UPDATES, not deletes — the old
    // bare !col filter silently dropped them from the upserts while
    // their keys still anti-joined the existing rows away
    val delta = Seq((1L, 11L, Some(false)), (2L, 22L, None: Option[Boolean]),
      (3L, 0L, Some(true))).toDF("id", "v", "is_del")
    Merge.applyChanges(spark, dir, delta, "id", Some("is_del"))
    val got = SnapshotLog.read(spark, dir).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 11L, 2L -> 22L, 4L -> 0L), got.toString)
    // same contract on the merge-on-read path
    val dir2 = Files.createTempDirectory("graft-nullsafe2").toString + "/t"
    SnapshotLog.commit(spark, dir2, "append",
      SnapshotLog.writeData((1 to 4).map(k => (k.toLong, 0L)).toDF("id", "v")
        .coalesce(1), dir2, statsCol = Some("id")))
    Merge.mergeOnRead(spark, dir2, delta, "id", Some("is_del"))
    assert(SnapshotLog.read(spark, dir2).get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 11L, 2L -> 22L, 4L -> 0L))
    // a NULL merge key gets a CLEAR refusal, not a mid-merge NPE
    val e = intercept[IllegalArgumentException] {
      Merge.upsert(spark, dir,
        Seq((Some(1L), 5L), (None: Option[Long], 6L)).toDF("id", "v"), "id")
    }
    assert(e.getMessage.contains("NULL") && e.getMessage.contains("id"))
  }

  test("publishStaged is idempotent across the commit/cleanup crash window") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val dir = Files.createTempDirectory("graft-wap-idem").toString + "/t"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(Seq((1L, "a")).toDF("id", "v").coalesce(1), dir))
    val token = SnapshotLog.stageAppend(
      Seq((2L, "b")).toDF("id", "v").coalesce(1), dir)
    // simulate a crash between commit and staged-manifest delete: keep a
    // copy of the manifest and restore it after the first publish
    val staged = Paths.get(dir, "_graft_log", s".staged-$token.json")
    val bytes = Files.readAllBytes(staged)
    val id1 = SnapshotLog.publishStaged(spark, dir, token)
    Files.write(staged, bytes) // the manifest "survived" the crash
    val id2 = SnapshotLog.publishStaged(spark, dir, token)
    assert(id1 == id2, s"double publish must return the prior id: $id1 vs $id2")
    assert(SnapshotLog.commits(spark, dir).size == 2, "no duplicate append")
    assert(SnapshotLog.read(spark, dir).get.count() == 2)
    assert(SnapshotLog.stagedTokens(spark, dir).isEmpty)
  }

  test("pruned reads stay epoch-safe: drifted columns survive readWhere/readRange") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val dir = Files.createTempDirectory("graft-epochread").toString + "/t"
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(Seq((1L, "a")).toDF("id", "v").coalesce(1), dir,
        statsCol = Some("id")))
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData(Seq((2L, "b", 42L)).toDF("id", "v", "extra")
        .coalesce(1), dir, statsCol = Some("id")))
    // a raw multi-path read inferring the epoch-1 schema would silently
    // drop 'extra'; the epoch-safe assembly null-fills it on epoch 1
    val wide = SnapshotLog.readWhere(spark, dir, Map("id" -> (1L, 2L))).get
    assert(wide.columns.contains("extra"))
    val m = wide.collect().map(r => r.getLong(0) ->
      Option(r.getAs[java.lang.Long]("extra"))).toMap
    assert(m == Map(1L -> None, 2L -> Some(42L)), m.toString)
    assert(SnapshotLog.readRange(spark, dir, 1L, 2L).get
      .columns.contains("extra"))
  }

  test("advisor overlap is per-column: mixed stats domains never fabricate a finding") {
    import spark.implicits._
    import graft.table.{Advisor, SnapshotLog}
    val dir = Files.createTempDirectory("graft-advcol").toString + "/t"
    // two files whose FIRST stats slots describe DIFFERENT columns (a
    // clustering rewrite does exactly this) but whose shared column 'b'
    // is perfectly disjoint: the legacy mixed-domain fraction saw
    // overlapping [0,100]x[0,5] garbage; per-column sees disjoint 'b'
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((0 to 100 by 10).map(a => (a.toLong, a.toLong / 25))
        .toDF("a", "b").coalesce(1), dir, statsCol = Some("a"), statsCols = Seq("b")))
    SnapshotLog.commit(spark, dir, "append",
      SnapshotLog.writeData((0 to 4).map(b => (b.toLong + 1000, b.toLong + 100))
        .toDF("a", "b").coalesce(1), dir, statsCol = Some("b"), statsCols = Seq("b", "a")))
    val advice = Advisor.advise(spark, dir, retainLast = 5).collect()
      .filter(_.getString(0) == "cluster")
    // 'a' zones: [0,100] vs [1000,1004] disjoint; 'b' zones: [0,4] vs
    // [100,104] disjoint — no cluster debt exists on ANY real column
    assert(advice.isEmpty, advice.mkString(";"))
  }

  test("rename failure without a competing file surfaces as infrastructure, not a race") {
    import graft.table.AtomicRenameLogStore
    import org.apache.hadoop.fs.Path
    val base = Files.createTempDirectory("graft-renamefault").toString
    // an fs whose rename always fails for a NON-conflict reason (the
    // local fs masks this by falling back to copy, so inject it)
    val flaky = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def rename(src: Path, dst: Path): Boolean = false
    }
    flaky.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val src = new Path(s"$base/src.json")
    val out = flaky.create(src, false); out.write("x".getBytes); out.close()
    val e = intercept[java.io.IOException] {
      AtomicRenameLogStore.putIfAbsent(flaky, src, new Path(s"$base/target.json"))
    }
    assert(e.getMessage.contains("infrastructure"))
    // but when the target EXISTS after the failed rename, it is a race
    val winner = new Path(s"$base/won.json")
    val w = flaky.create(winner, false); w.write("y".getBytes); w.close()
    assert(!AtomicRenameLogStore.putIfAbsent(flaky, src, winner))
  }

  test("fillEarliest completes the Kafka-strict startingOffsets JSON with -2 sentinels") {
    // the real connector refuses a specific-offsets JSON that omits any
    // TopicPartition of the subscription; the fill makes the saved state
    // deployable against broker partition counts
    val saved = StartingOffsets.PerPartition(Map(
      "t.orders" -> Map(0 -> 6L)))
    val filled = StartingOffsets.fillEarliest(saved,
      Map("t.orders" -> 3, "t.customers" -> 2))
    assert(StartingOffsets.toJson(filled) ==
      """{"t.customers": {"0": -2, "1": -2}, """ +
        """{"0": 6, "1": -2, "2": -2}""".patch(0, "\"t.orders\": ", 0) + "}")
    // earliest passes through (string form needs no partition list)
    assert(StartingOffsets.fillEarliest(StartingOffsets.Earliest,
      Map("t" -> 1)) == StartingOffsets.Earliest)
    // counts that DROP a saved topic would silently lose its bounds
    intercept[IllegalArgumentException](
      StartingOffsets.fillEarliest(saved, Map("t.customers" -> 2)))
    // -2 reads as earliest on the file source too (offset >= -2 = all)
    val df = source.read(spark, Schemas.topicFor("orders"),
      StartingOffsets.PerPartition(Map(
        Schemas.topicFor("orders") -> Map(0 -> -2L))))
    assert(df.count() == 10)
  }

  test("production resume composition: saved state -> fillEarliest -> strict multi-topic options") {
    // the END-TO-END option map a real deployment hands spark-sql-kafka:
    // OffsetStore state for SOME topics/partitions, completed against
    // broker partition counts, rendered as ONE subscription whose
    // specific-offsets JSON lists EVERY TopicPartition (the connector
    // asserts on omissions — this map would drive it unchanged)
    val store = new OffsetStore(
      Files.createTempDirectory("graft-kstrict").toString)
    store.commitPartitioned("orders", Map(0 -> 5L), 5L)
    val topics = Seq("orders" -> Schemas.topicFor("orders"),
      "customers" -> Schemas.topicFor("customers"))
    val st = store.startingOffsetsForAll(topics)
    val filled = StartingOffsets.fillEarliest(st, Map(
      Schemas.topicFor("orders") -> 2, Schemas.topicFor("customers") -> 1))
    val opts = new KafkaCdcSource("broker:9092").optionsMulti(
      topics.map(_._2), filled)
    assert(opts("subscribe") == topics.map(_._2).mkString(","))
    assert(opts("kafka.bootstrap.servers") == "broker:9092")
    assert(opts("startingOffsets") ==
      s"""{"${Schemas.topicFor("customers")}": {"0": -2}, """ +
        s""""${Schemas.topicFor("orders")}": {"0": 6, "1": -2}}""")
  }

  test("null-status groups retract correctly through the incremental view") {
    import spark.implicits._
    // a status=null order arrives, then UPDATES to a real status: the
    // null group must vanish from the maintained view (null-safe join),
    // not linger as a phantom row
    val snapshot = Seq((1, null.asInstanceOf[String], 10.0, 1L))
      .toDF("order_id", "status", "amt", "kafka_offset")
    val delta = Seq((1, "NEW", 10.0, 2L))
      .toDF("order_id", "status", "amt", "kafka_offset")
    val vOld = snapshot.groupBy(col("status"))
      .agg(count(lit(1)).as("n"), sum(col("amt")).as("amt"))
    val retracted = snapshot.join(delta.select(col("order_id")), Seq("order_id"), "left_semi")
    val increments = delta.select(col("status"), col("amt").as("s_amt"), lit(1L).as("s_n"))
      .unionByName(retracted.select(col("status"), (-col("amt")).as("s_amt"), lit(-1L).as("s_n")))
    val vInc = increments.groupBy(col("status"))
      .agg(sum(col("s_n")).as("dn"), sum(col("s_amt")).as("damt"))
    val view = vOld.as("v").join(vInc.as("i"),
        col("v.status") <=> col("i.status"), "full_outer")
      .select(coalesce(col("v.status"), col("i.status")).as("status"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_orders"))
      .filter(col("n_orders") > 0)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(view == Map(Some("NEW") -> 1L), view.toString)
  }

  test("pipeline runner in snapshot mode stays consistent end-to-end") {
    val base = Files.createTempDirectory("graft-snap-pipeline").toString
    val report = PipelineRunner.run(spark, fixtures, s"$base/warehouse",
      s"$base/offsets", snapshotted = true, compactTargetBytes = Some(1L << 30))
    assert(report.allConsistent)
    // every table is snapshot-tracked with at least the sync commit
    PipelineRunner.DefaultTables.foreach { t =>
      assert(SnapshotLog.currentSnapshotId(spark,
        s"$base/warehouse/${t}_parquet").nonEmpty, s"no snapshot log for $t")
    }
    // re-run: empty deltas, still consistent, no new snapshots
    val ids = PipelineRunner.DefaultTables.map(t =>
      SnapshotLog.currentSnapshotId(spark, s"$base/warehouse/${t}_parquet"))
    val again = PipelineRunner.run(spark, fixtures, s"$base/warehouse",
      s"$base/offsets", snapshotted = true)
    assert(again.allConsistent)
    assert(PipelineRunner.DefaultTables.map(t =>
      SnapshotLog.currentSnapshotId(spark, s"$base/warehouse/${t}_parquet")) == ids)
  }
}
