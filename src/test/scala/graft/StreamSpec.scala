package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.CdcQueries
import graft.schema.{Fixtures, Tables}
import graft.stream.StreamSync
import graft.table.SnapshotLog

/** Structured Streaming path: checkpointed CDC sync (AvailableNow) and
  * watermarked windowed aggregation, pinned against their batch
  * equivalents (the streaming/batch unification Spark guarantees).
  */
class StreamSpec extends AnyFunSuite {
  lazy val spark = Sessions.local("4", "stream-spec")
  val sf = "/root/testdata/sf0.001"

  /** Drop the stream checkpoint's commit of batch `n` and its checksum
    * sidecar: what a crash after the batch's table commits but before
    * the checkpoint commit leaves, so the next drain replays batch `n`. */
  private def dropCheckpointCommit(chk: String, n: Int): Unit = {
    Files.delete(Paths.get(s"$chk/commits/$n"))
    Files.deleteIfExists(Paths.get(s"$chk/commits/.$n.crc"))
  }

  /** How many of the table's commits carry batch id `n`. */
  private def batchCommits(tableDir: String, n: Long): Int =
    SnapshotLog.commits(spark, tableDir)
      .count(_.summary.get("batch_id").contains(n.toString))

  test("streaming CDC sync: first drain writes all rows, re-run drains nothing new") {
    val base = Files.createTempDirectory("graft-stream").toString
    val topicDir = Files.createDirectories(Paths.get(s"$base/topic")).toString
    Files.copy(
      Paths.get(s"${CdcQueries.FixtureDir}/dbserver1.ecommerce.orders.jsonl"),
      Paths.get(s"$topicDir/batch-0.jsonl"))
    StreamSync.syncOnce(spark, topicDir, "orders",
      s"$base/warehouse", s"$base/checkpoints")
    val afterFirst = spark.read.parquet(s"$base/warehouse/orders_parquet").count()
    assert(afterFirst == 10)
    // second invocation: checkpoint says everything is processed → no dupes
    // (this is the exactly-once upgrade over the reference's offset file)
    StreamSync.syncOnce(spark, topicDir, "orders",
      s"$base/warehouse", s"$base/checkpoints")
    val afterSecond = spark.read.parquet(s"$base/warehouse/orders_parquet").count()
    assert(afterSecond == 10)
  }

  test("foreachBatch view maintenance equals batch recompute across drains") {
    val base = Fixtures.dir("graft-stream-ivm")
    val topicDir = Files.createDirectories(Paths.get(s"$base/topic")).toString
    val fixture = Files.readAllLines(
      Paths.get(s"${CdcQueries.FixtureDir}/dbserver1.ecommerce.orders.jsonl"))
    def drain(): Unit = StreamSync.maintainStatusView(
      StreamSync.wireStream(spark, topicDir), "orders",
      s"$base/view", s"$base/chk")
    def view(): Map[String, (Long, String)] =
      StreamSync.readStatusView(spark, s"$base/view").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2).toPlainString)).toMap
    def expectedOver(upTo: Int): Map[String, (Long, String)] = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("order_id")).orderBy(col("kafka_offset").desc)
      CdcQueries.queries("cdc_parse_orders")(spark, "")
        .filter(col("kafka_offset") < upTo && col("order_id").isNotNull)
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("total_amount").cast("decimal(10,2)")).cast("decimal(20,2)").as("amt"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2).toPlainString)).toMap
    }
    // first drain: offsets 0-5 only — the upsert at offset 3... (5 < 6)
    Files.write(Paths.get(s"$topicDir/part-0.jsonl"), fixture.subList(0, 6))
    drain()
    assert(view() == expectedOver(6), s"after first drain: ${view()}")
    // second drain: the rest — updates RETRACT their old group's counts
    Files.write(Paths.get(s"$topicDir/part-1.jsonl"), fixture.subList(6, fixture.size))
    drain()
    assert(view() == expectedOver(Int.MaxValue), s"after second drain: ${view()}")
    // third drain: nothing new — the view must not move
    drain()
    assert(view() == expectedOver(Int.MaxValue))
  }

  test("view maintenance replays a batch whose _COMMIT survived (crash before checkpoint commit)") {
    val base = Fixtures.dir("graft-stream-replay")
    val topicDir = Files.createDirectories(Paths.get(s"$base/topic")).toString
    val fixture = Files.readAllLines(
      Paths.get(s"${CdcQueries.FixtureDir}/dbserver1.ecommerce.orders.jsonl"))
    def drain(): Unit = StreamSync.maintainStatusView(
      StreamSync.wireStream(spark, topicDir), "orders",
      s"$base/view", s"$base/chk")
    def view(): Map[String, (Long, String)] =
      StreamSync.readStatusView(spark, s"$base/view").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2).toPlainString)).toMap
    Files.write(Paths.get(s"$topicDir/part-0.jsonl"), fixture.subList(0, 6))
    drain()
    Files.write(Paths.get(s"$topicDir/part-1.jsonl"), fixture.subList(6, fixture.size))
    drain()
    val settled = view()
    // simulate a crash AFTER batch 1's table commits (they play the old
    // _COMMIT marker's role) but BEFORE the stream checkpoint committed
    // it: the checkpoint commit file vanishes, and the next drain
    // replays batch 1
    dropCheckpointCommit(s"$base/chk", 1)
    drain() // must not throw (no self-read-overwrite) and must not move the view
    assert(view() == settled, s"replay changed the view: ${view()} vs $settled")
    Seq("state", "view").foreach(t =>
      assert(batchCommits(s"$base/view/$t", 1) == 1, s"$t holds batch 1 once"))
  }

  test("status view replays a batch whose view commit was lost (crash between state and view commits)") {
    val base = Fixtures.dir("graft-stream-viewcrash")
    val topicDir = Files.createDirectories(Paths.get(s"$base/topic")).toString
    val fixture = Files.readAllLines(
      Paths.get(s"${CdcQueries.FixtureDir}/dbserver1.ecommerce.orders.jsonl"))
    def drain(): Unit = StreamSync.maintainStatusView(
      StreamSync.wireStream(spark, topicDir), "orders",
      s"$base/view", s"$base/chk")
    def view(): Map[String, (Long, String)] =
      StreamSync.readStatusView(spark, s"$base/view").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2).toPlainString)).toMap
    Files.write(Paths.get(s"$topicDir/part-0.jsonl"), fixture.subList(0, 6))
    drain()
    Files.write(Paths.get(s"$topicDir/part-1.jsonl"), fixture.subList(6, fixture.size))
    drain()
    val settled = view()
    // the crash lands after batch 1's state commit, before its view
    // manifest was published: the view's newest manifest never existed
    val viewTable = s"$base/view/view"
    val newest = SnapshotLog.currentSnapshotId(spark, viewTable).get
    def crashBeforeViewCommit(): Unit = {
      Files.delete(Paths.get(f"$viewTable/_graft_log/$newest%020d.json"))
      Files.deleteIfExists(Paths.get(f"$viewTable/_graft_log/.$newest%020d.json.crc"))
      SnapshotLog.clearResolveCache()
      dropCheckpointCommit(s"$base/chk", 1)
    }
    crashBeforeViewCommit()
    assert(view() != settled, "the crash must leave the view a batch behind")
    // the replay skips the state (it holds batch 1) and rebuilds the view
    // from both tables as of the snapshot before batch 1
    drain()
    assert(view() == settled, s"replay changed the view: ${view()} vs $settled")
    assert(batchCommits(s"$base/view/state", 1) == 1)
    assert(batchCommits(viewTable, 1) == 1)
    // the same crash once the state's pre-batch snapshot was expired:
    // the replay fails loudly instead of rebuilding from an empty state
    crashBeforeViewCommit()
    SnapshotLog.expireSnapshots(spark, s"$base/view/state", retainLast = 1)
    val err = intercept[Exception](drain())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("replay horizon")), err.toString)
  }

  test("status view: the bytes a batch commits follow the batch, not the state") {
    import scala.jdk.CollectionConverters._
    def wire(id: Int, status: String, off: Long): String =
      raw"""{"key": "{\"order_id\": $id}", "value": "{\"order_id\": $id, \"customer_id\": 1, \"order_date\": 0, \"status\": \"$status\", \"total_amount\": \"10.50\", \"shipping_address\": \"x\"}", "topic": "dbserver1.ecommerce.orders", "partition": 0, "offset": $off, "timestamp": "2026-01-15 10:00:00"}"""
    val k = 20
    // (bytes batch 0 added, bytes batch 1 added) over both tables, for a
    // state of n orders and the same k-order update batch
    def committedBytes(n: Int): (Long, Long) = {
      val base = Fixtures.dir("graft-stream-viewcost")
      val topic = Files.createDirectories(Paths.get(s"$base/topic"))
      def drain(): Unit = StreamSync.maintainStatusView(
        StreamSync.wireStream(spark, topic.toString), "orders",
        s"$base/view", s"$base/chk")
      val statuses = Seq("PENDING", "SHIPPED", "DELIVERED")
      Files.write(topic.resolve("part-0.jsonl"),
        (1 to n).map(i => wire(i, statuses(i % 3), i - 1L)).asJava)
      drain()
      Files.write(topic.resolve("part-1.jsonl"),
        (1 to k).map(i => wire(i, "CANCELLED", n + i - 1L)).asJava)
      drain()
      val cancelled = StreamSync.readStatusView(spark, s"$base/view")
        .filter(col("status") === "CANCELLED").collect()
      assert(cancelled.map(_.getLong(1)).toSeq == Seq(k.toLong))
      def added(batch: Long): Long = Seq("state", "view")
        .flatMap(t => SnapshotLog.commits(spark, s"$base/view/$t"))
        .filter(_.summary.get("batch_id").contains(batch.toString))
        .flatMap(_.added).map(_.bytes).sum
      (added(0), added(1))
    }
    val (boot1, upd1) = committedBytes(2000)
    val (boot4, upd4) = committedBytes(8000)
    assert(boot4 > 2 * boot1, s"the state must really grow: $boot1 -> $boot4")
    assert(math.abs(upd4 - upd1) <= upd1 / 10,
      s"an update batch must commit O(batch) bytes: $upd1 at n, $upd4 at 4n")
  }

  test("streaming windowed agg equals the batch tumbling query") {
    val base = Files.createTempDirectory("graft-stream-win").toString
    // stage events as parquet dir for the file stream
    val events = Tables.events(spark, sf)
    events.write.mode("overwrite").parquet(s"$base/in")
    val stream = spark.readStream
      .schema(events.schema)
      .parquet(s"$base/in")
    val q = StreamSync.windowedCounts(stream)
      .writeStream
      .format("memory")
      .queryName("win_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("win_out")
      .select(col("hour_start"), col("event_type"), col("n"))
      .orderBy(col("hour_start"), col("event_type"))
      .collect()
    val expected = graft.ops.Events.tumbling(spark, sf)
      .select(col("hour_start"), col("event_type"), col("n"))
      .orderBy(col("hour_start"), col("event_type"))
      .collect()
    // append-mode emits only windows closed by the watermark; every emitted
    // window must match its batch counterpart
    val expMap = expected.map(r => (r.get(0), r.get(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(expMap((r.get(0), r.get(1))) == r.getLong(2))
    }
  }

  test("per-batch quantile sketches merge to the whole stream's quantiles") {
    val base = Fixtures.dir("graft-stream-qs")
    Files.createDirectories(Paths.get(s"$base/in"))
    val events = Tables.events(spark, sf)
    def drain(): Unit = StreamSync.maintainQuantileSketches(
      spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in"),
      s"$base/sk", s"$base/chk")
    // two incremental drains, 2 leaf files each ⇒ 4 micro-batches ⇒ 4
    // per-batch sketches for the merge to cover
    def addFiles(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val stage = s"$base/stage_$tag"
      df.coalesce(2).write.mode("overwrite").parquet(stage)
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(stage)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .foreach(p => Files.copy(p, Paths.get(s"$base/in/${tag}_${p.getFileName}")))
    }
    addFiles(events.filter(col("event_id") % 3 === 0), "a")
    drain()
    addFiles(events.filter(col("event_id") % 3 =!= 0), "b")
    drain()
    val row = StreamSync.readQuantileView(spark, s"$base/sk",
      Seq(0.25, 0.5, 0.95)).head()
    val n = row.getLong(0)
    assert(n == events.count(), "sketches must cover every drained event")
    // rank-check each estimate against the full drained dataset
    val values = events.select(col("value").cast("double")).collect()
      .map(_.getDouble(0)).sorted
    for ((q, i) <- Seq(0.25 -> 1, 0.5 -> 2, 0.95 -> 3)) {
      val est = row.getDouble(i)
      val rank = values.count(_ <= est).toDouble / values.length
      assert(math.abs(rank - q) <= 0.05, s"q=$q est=$est rank=$rank")
    }
    // idempotence: a drain with nothing new must not change the answer
    drain()
    val again = StreamSync.readQuantileView(spark, s"$base/sk",
      Seq(0.25, 0.5, 0.95)).head()
    assert(again.getLong(0) == n)
  }

  test("per-batch heavy-hitter sketches keep the Misra-Gries guarantee when merged") {
    val base = Fixtures.dir("graft-stream-hh")
    Files.createDirectories(Paths.get(s"$base/in"))
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val k = 32
    def drain(): Unit = StreamSync.maintainHeavyHitters(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in"),
      s"$base/sk", s"$base/chk", k)
    def addFiles(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val stage = s"$base/stage_$tag"
      df.coalesce(2).write.mode("overwrite").parquet(stage)
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(stage)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .foreach(p => Files.copy(p, Paths.get(s"$base/in/${tag}_${p.getFileName}")))
    }
    addFiles(docs.filter(col("doc_id") % 2 === 0), "a")
    drain()
    addFiles(docs.filter(col("doc_id") % 2 =!= 0), "b")
    drain()
    val got = StreamSync.readHeavyHitterView(spark, s"$base/sk", k).collect()
    assert(got.nonEmpty)
    val n = got.head.getAs[Long]("n_tokens")
    // exact token counts over everything drained
    val exact = docs.select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n == exact.values.sum, "sketches must cover every drained token")
    val bound = n.toDouble / (k + 1)
    val guaranteed = exact.filter(_._2 > bound).keySet
    assert(guaranteed.nonEmpty, "fixture must have guaranteed heavy hitters")
    val gotMap = got.map(r =>
      r.getAs[String]("token") -> r.getAs[Long]("est")).toMap
    assert(guaranteed.subsetOf(gotMap.keySet),
      s"lost guaranteed tokens: ${guaranteed -- gotMap.keySet}")
    gotMap.foreach { case (t, est) =>
      assert(est <= exact(t), s"$t overestimated: $est > ${exact(t)}")
      assert(est >= exact(t) - bound - 1, s"$t bound too loose: $est vs ${exact(t)}")
    }
  }

  test("RocksDB state store: windowed agg and dedup match their default-store results") {
    // the 100 TB state posture (state off-heap/on-disk, not JVM heap) must
    // be a config swap, not a semantics change
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val base = Files.createTempDirectory("graft-stream-rocks").toString
    val events = Tables.events(spark, sf)
    events.write.mode("overwrite").parquet(s"$base/in")
    def runWindowed(name: String): Array[org.apache.spark.sql.Row] = {
      val stream = spark.readStream.schema(events.schema).parquet(s"$base/in")
      val q = StreamSync.windowedCounts(stream)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name)
        .orderBy(col("hour_start"), col("event_type")).collect()
    }
    def runDedup(name: String): Long = {
      val stream = spark.readStream.schema(events.schema).parquet(s"$base/in")
      val q = StreamSync.dedupedEvents(stream)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name).count()
    }
    val (defWin, defDedup) = (runWindowed("rocks_base_win"), runDedup("rocks_base_dd"))
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rWin = runWindowed("rocks_win")
      assert(rWin.nonEmpty && rWin.map(_.toString).sameElements(defWin.map(_.toString)))
      assert(runDedup("rocks_dd") == defDedup)
    } finally spark.conf.unset(providerKey)
  }

  test("streaming session windows match the batch session_window grouping") {
    val base = Files.createTempDirectory("graft-stream-sess").toString
    val events = Tables.events(spark, sf)
    events.write.mode("overwrite").parquet(s"$base/in")
    val stream = spark.readStream.schema(events.schema).parquet(s"$base/in")
    val q = StreamSync.sessionCounts(stream)
      .writeStream.format("memory").queryName("sess_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("sess_out").collect()
    assert(got.nonEmpty)
    val expected = Tables.events(spark, sf)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
              col("n_events"))
      .collect()
      .map(r => (r.getLong(0), r.get(1)) -> r.getLong(2)).toMap
    // append mode emits only watermark-closed sessions; each must match batch
    got.foreach { r =>
      assert(expected((r.getLong(0), r.get(1))) == r.getLong(2))
    }
  }

  test("session windows on RocksDB: provider parity, watermark close, late-event eviction") {
    import spark.implicits._
    def ts(min: Int) = new java.sql.Timestamp(3600_000L + min * 60_000L)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"

    def scenario(tag: String): Set[(Long, Long)] = {
      val base = Files.createTempDirectory(s"graft-sess-rocks-$tag").toString
      Files.createDirectories(Paths.get(s"$base/in"))
      def addFile(rows: Seq[(Long, Long, String, Double, java.sql.Timestamp)],
                  name: String): Unit = {
        val stage = s"$base/stage_$name"
        rows.toDF("event_id", "user_id", "event_type", "value", "ts")
          .coalesce(1).write.mode("overwrite").parquet(stage)
        import scala.jdk.CollectionConverters._
        Files.list(Paths.get(stage)).iterator().asScala
          .filter(_.toString.endsWith(".parquet"))
          .foreach(p => Files.copy(p, Paths.get(s"$base/in/${name}_${p.getFileName}")))
      }
      def drain(): Unit = {
        val schema = spark.read.parquet(s"$base/in").schema
        val q = StreamSync.sessionCounts(
            spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(s"$base/in"))
          .writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.write.mode("append").parquet(s"$base/out")
          }
          .outputMode("append")
          .option("checkpointLocation", s"$base/chk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // user 1: events at t=0 and t=5 (one merged session); a far-future
      // event from user 2 pushes the watermark (2h delay) past the
      // session's end+gap, closing it
      addFile(Seq((1L, 1L, "click", 0.0, ts(0)), (2L, 1L, "click", 0.0, ts(5))), "a")
      addFile(Seq((3L, 2L, "click", 0.0, ts(600))), "b")
      drain()
      // LATE event for user 1 at t=10 — far behind the watermark (480):
      // it must be evicted at ingest, never resurrecting the closed session
      addFile(Seq((4L, 1L, "click", 0.0, ts(10))), "c")
      drain()
      spark.read.parquet(s"$base/out").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"))).toSet
    }

    val onDefault = scenario("default")
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val onRocks = try scenario("rocksdb") finally spark.conf.unset(providerKey)
    // exactly one closed session: user 1 with BOTH pre-watermark events
    // merged and the late event dropped — identically on both providers
    assert(onDefault == Set((1L, 2L)), s"default provider got $onDefault")
    assert(onRocks == onDefault, s"provider divergence: $onRocks vs $onDefault")
  }

  test("mapGroupsWithState: running totals accumulate across drains via checkpointed state") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream-state").toString
    val events = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
              col("value"), col("ts"))
    val half1 = events.filter(col("event_id") % 2 === 0)
    val half2 = events.filter(col("event_id") % 2 === 1)
    half1.write.mode("overwrite").parquet(s"$base/in")

    def drain(outDir: String): Unit = {
      val stream = spark.readStream.schema(events.schema).parquet(s"$base/in")
        .as[graft.stream.Ev]
      val q = StreamSync.userRunningTotals(stream)
        .toDF()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(outDir)
        }
        .outputMode("update")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain(s"$base/out1")
    half2.write.mode("append").parquet(s"$base/in")
    drain(s"$base/out2")
    // after the second drain, every user updated in batch 2 reports totals
    // over the FULL input — i.e. state survived the restart; per user take
    // the newest update (max n_events) in case the drain ran >1 micro-batch
    val expected = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val got2 = spark.read.parquet(s"$base/out2")
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"), max(col("total_value")).as("total_value"))
      .collect()
    assert(got2.nonEmpty)
    got2.foreach { r =>
      val uid = r.getLong(0)
      val (en, ev) = expected(uid)
      assert(r.getLong(1) == en, s"user $uid n_events")
      assert(math.abs(r.getDouble(2) - ev) < 1e-6, s"user $uid total_value")
    }
  }

  test("stream-static broadcast enrichment matches the batch join") {
    val base = Files.createTempDirectory("graft-stream-enrich").toString
    val events = Tables.events(spark, sf)
    events.write.mode("overwrite").parquet(s"$base/in")
    // static dim: per-user history profile (derived from the same events
    // here; in production a feature table refreshed out-of-band)
    val dim = events.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_seen"), count(lit(1)).as("hist_n"))
    val stream = spark.readStream.schema(events.schema).parquet(s"$base/in")
    val q = StreamSync.enrichedEvents(stream, dim)
      .select(col("event_id"), col("user_id"), col("first_seen"), col("hist_n"))
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("enrich_out").orderBy(col("event_id")).collect()
    val expected = StreamSync.enrichedEvents(events, dim)
      .select(col("event_id"), col("user_id"), col("first_seen"), col("hist_n"))
      .orderBy(col("event_id")).collect()
    assert(got.nonEmpty && got.map(_.toString).sameElements(expected.map(_.toString)))
  }

  test("stream-stream interval join matches the batch interval join") {
    val base = Files.createTempDirectory("graft-stream-join").toString
    val events = Tables.events(spark, sf)
    val clicks = events.filter(col("event_type") === "click")
    val purchases = events.filter(col("event_type") === "purchase")
    clicks.write.mode("overwrite").parquet(s"$base/clicks")
    purchases.write.mode("overwrite").parquet(s"$base/purchases")
    val cs = spark.readStream.schema(events.schema).parquet(s"$base/clicks")
    val ps = spark.readStream.schema(events.schema).parquet(s"$base/purchases")
    val q = StreamSync.clickPurchaseJoin(cs, ps)
      .writeStream.format("memory").queryName("ssj_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("ssj_out").count()
    val expected = StreamSync.clickPurchaseJoin(clicks, purchases).count()
    // the batch plan runs the same code path un-watermarked; in a single
    // AvailableNow drain nothing is late, so the counts must agree
    assert(got == expected && expected > 0, s"stream=$got batch=$expected")
  }

  test("stream-stream LEFT OUTER interval join: matches inner + watermark-proven null rows") {
    val base = Files.createTempDirectory("graft-stream-loj").toString
    val events = Tables.events(spark, sf)
    val clicks = events.filter(col("event_type") === "click")
    val purchases = events.filter(col("event_type") === "purchase")
    clicks.write.mode("overwrite").parquet(s"$base/clicks")
    purchases.write.mode("overwrite").parquet(s"$base/purchases")
    val cs = spark.readStream.schema(events.schema).parquet(s"$base/clicks")
    val ps = spark.readStream.schema(events.schema).parquet(s"$base/purchases")
    val q = StreamSync.clickPurchaseLeftJoin(cs, ps)
      .writeStream.format("memory").queryName("sslj_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("sslj_out")
    val matchedGot = got.filter(col("purchase_id").isNotNull).count()
    val matchedBatch = StreamSync.clickPurchaseJoin(clicks, purchases).count()
    // matched rows are identical to the inner join (nothing is late in one drain)
    assert(matchedGot == matchedBatch && matchedBatch > 0,
      s"matched: stream=$matchedGot batch=$matchedBatch")
    // every emitted null row is a genuinely unmatched click...
    val batchUnmatched = StreamSync.clickPurchaseLeftJoin(clicks, purchases)
      .filter(col("purchase_id").isNull).select(col("click_id"))
      .collect().map(_.getLong(0)).toSet
    val nullGot = got.filter(col("purchase_id").isNull)
      .select(col("click_id")).collect().map(_.getLong(0)).toSet
    assert(nullGot.subsetOf(batchUnmatched),
      s"spurious null rows: ${nullGot -- batchUnmatched}")
    // ...and clicks old enough for the final watermark to prove them
    // unmatched DID emit (state was evicted, not lost). The global
    // watermark is the MIN over both inputs' own (max ts − delay), so
    // compute it per side; a click is provable once watermark passes
    // click_ts + horizon (1-min slack for strictness at the boundary).
    val maxClick = clicks.agg(max(col("ts"))).head().getTimestamp(0).getTime
    val maxPurchase = purchases.agg(max(col("ts"))).head().getTimestamp(0).getTime
    val wm = math.min(maxClick - 60 * 60000L, maxPurchase - 120 * 60000L)
    val provable = StreamSync.clickPurchaseLeftJoin(clicks, purchases)
      .filter(col("purchase_id").isNull &&
        col("click_ts") < new java.sql.Timestamp(wm - 61 * 60000L))
      .select(col("click_id")).collect().map(_.getLong(0)).toSet
    assert(provable.nonEmpty, "fixture must contain provably-unmatched clicks")
    assert(provable.subsetOf(nullGot),
      s"watermark-proven unmatched clicks missing: ${provable -- nullGot}")
  }

  test("event-time timeout closes inactive sessions deterministically") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-stream-timeout").toString
    val t0 = java.sql.Timestamp.valueOf("2025-01-01 10:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val first = Seq(
      (1L, 1L, "click", 0.0, ts(0)),
      (2L, 1L, "click", 0.0, ts(5))).toDF("event_id", "user_id", "event_type", "value", "ts")
    first.write.mode("overwrite").parquet(s"$base/in")

    def drain(out: String): Unit = {
      val stream = spark.readStream.schema(first.schema).parquet(s"$base/in")
        .as[graft.stream.Ev]
      val q = StreamSync.inactivitySessions(stream, gapMinutes = 30)
        .toDF()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
        }
        .outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain(s"$base/out1")
    // user 1 is still open: watermark == last ts, gap not yet passed
    // a much-later event from ANOTHER user pushes the watermark past
    // user 1's timeout → the closed session must be emitted
    Seq((3L, 2L, "click", 0.0, ts(180)))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .write.mode("append").parquet(s"$base/in")
    drain(s"$base/out2")
    val closed = spark.read.parquet(s"$base/out2").collect()
    assert(closed.exists(r => r.getAs[Long]("user_id") == 1L &&
      r.getAs[Long]("n_events") == 2L), s"got ${closed.mkString(";")}")
  }

  test("snapshot sink: atomic per-batch commits; DiffConsumer tails the stream") {
    import spark.implicits._
    import graft.table.{DiffConsumer, SnapshotLog}
    val base = Files.createTempDirectory("graft-snap-sink").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    def addFile(rows: Seq[(Long, String)], tag: String): Unit = {
      val stage = s"$base/stage_$tag"
      rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(stage)
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(stage)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .foreach(p => Files.copy(p, Paths.get(s"$base/in/${tag}_${p.getFileName}")))
    }
    val schema = Seq((0L, "")).toDF("id", "v").schema
    def drain(): Unit = StreamSync.snapshotSink(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in"),
      s"$base/t", s"$base/chk", statsCol = Some("id"))

    addFile(Seq((1L, "a"), (2L, "b")), "a")
    addFile(Seq((3L, "c")), "b")
    drain()
    // one atomic snapshot per micro-batch, tagged with its batch id
    val commits = SnapshotLog.commits(spark, s"$base/t")
    assert(commits.size == 2 &&
      commits.flatMap(_.summary.get("batch_id")).toSet == Set("0", "1"))
    assert(SnapshotLog.read(spark, s"$base/t").get.count() == 3)

    // a downstream consumer tails the table as a change feed
    val consumer = new DiffConsumer(s"$base/state")
    val (d1, hwm1) = consumer.consume(spark, s"$base/t", "idx")
    assert(d1.get.count() == 3); consumer.commit("idx", hwm1)

    // idempotent re-drain: nothing new, no commits, consumer sees nothing
    drain()
    assert(SnapshotLog.commits(spark, s"$base/t").size == 2)
    assert(consumer.consume(spark, s"$base/t", "idx")._1.isEmpty)

    // next increment flows batch → snapshot → consumer delta
    addFile(Seq((4L, "d")), "c")
    drain()
    val (d2, hwm2) = consumer.consume(spark, s"$base/t", "idx")
    assert(d2.get.collect().map(_.getLong(0)).toSet == Set(4L))
    consumer.commit("idx", hwm2)

    // crash-sim: files staged without a commit stay invisible to everyone
    SnapshotLog.writeData(Seq((99L, "zz")).toDF("id", "v"), s"$base/t")
    assert(SnapshotLog.read(spark, s"$base/t").get.count() == 4)
    assert(consumer.consume(spark, s"$base/t", "idx")._1.isEmpty)
  }

  test("two streams with separate checkpoints into one table: replay guard is lineage-scoped") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val base = Files.createTempDirectory("graft-two-streams").toString
    def addFile(dir: String, rows: Seq[(Long, String)], tag: String): Unit = {
      val stage = s"$base/stage_$tag"
      rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(stage)
      import scala.jdk.CollectionConverters._
      Files.createDirectories(Paths.get(dir))
      Files.list(Paths.get(stage)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .foreach(p => Files.copy(p, Paths.get(s"$dir/${tag}_${p.getFileName}")))
    }
    val schema = Seq((0L, "")).toDF("id", "v").schema
    def drain(in: String, chk: String): Unit = StreamSync.snapshotSink(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in),
      s"$base/t", chk, statsCol = Some("id"))
    // stream A commits batches 0 and 1
    addFile(s"$base/inA", Seq((1L, "a")), "a0")
    addFile(s"$base/inA", Seq((2L, "b")), "a1")
    drain(s"$base/inA", s"$base/chkA")
    // stream B (own checkpoint, ids restart at 0) appends to the SAME
    // table: its batch 0 must NOT be mistaken for stream A's batch 0
    // (an unscoped guard would skip it — silent data loss)
    addFile(s"$base/inB", Seq((10L, "x")), "b0")
    drain(s"$base/inB", s"$base/chkB")
    assert(SnapshotLog.read(spark, s"$base/t").get
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 10L))
    // and each lineage's own replay still dedups: re-drain both, no dupes
    drain(s"$base/inA", s"$base/chkA")
    drain(s"$base/inB", s"$base/chkB")
    assert(SnapshotLog.read(spark, s"$base/t").get.count() == 3)
  }

  test("streaming upsert sink: rowdelta commits, zero rewrites, row-level change tailing") {
    import spark.implicits._
    import graft.table.{DiffConsumer, Merge, SnapshotLog}
    val base = Files.createTempDirectory("graft-upsert-sink").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    def addFile(rows: Seq[(Long, String, Long, Boolean)], tag: String): Unit = {
      val stage = s"$base/stage_$tag"
      rows.toDF("id", "v", "ord", "is_del").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(stage)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .foreach(p => Files.copy(p, Paths.get(s"$base/in/${tag}_${p.getFileName}")))
    }
    val schema = Seq((0L, "", 0L, false)).toDF("id", "v", "ord", "is_del").schema
    def drain(): Unit = StreamSync.upsertSink(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in"),
      s"$base/t", s"$base/chk", keyCol = "id", orderCol = "ord",
      deleteCol = Some("is_del"))

    // batch 0 bootstraps (with an in-batch update: ord resolves 3 → c2);
    // batch 1 deletes 1, updates 2, inserts 4
    addFile(Seq((1L, "a", 1L, false), (2L, "b", 1L, false),
      (3L, "c", 1L, false), (3L, "c2", 2L, false)), "a")
    addFile(Seq((2L, "b2", 3L, false), (1L, null, 3L, true),
      (4L, "d", 3L, false)), "b")
    drain()
    val commits = SnapshotLog.commits(spark, s"$base/t")
    assert(commits.map(_.op) == Seq("append", "rowdelta"))
    assert(commits.flatMap(_.summary.get("batch_id")) == Seq("0", "1"))
    // the standing table was not rewritten: batch-0 files survive by path
    val bootFiles = commits.head.added.map(_.path).toSet
    assert(bootFiles.subsetOf(SnapshotLog.filesAt(spark, s"$base/t").map(_.path).toSet))
    val got = SnapshotLog.read(spark, s"$base/t").get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "b2", 3L -> "c2", 4L -> "d"))

    // row-level tailing across the rowdelta commit (file diff must refuse)
    val consumer = new DiffConsumer(s"$base/state")
    intercept[IllegalArgumentException] { consumer.consume(spark, s"$base/t", "idx") }
    val (c1, hwm1) = consumer.consumeChanges(spark, s"$base/t", "idx")
    val feed = c1.get.collect()
      .map(r => (r.getLong(0), r.getAs[String]("_change_op"))).toSet
    assert(feed == Set((1L, "insert"), (2L, "insert"), (3L, "insert"),
      (1L, "delete"), (2L, "upsert"), (4L, "upsert")))
    consumer.commit("idx", hwm1)

    // idempotent re-drain: no new commits, nothing to consume
    drain()
    assert(SnapshotLog.commits(spark, s"$base/t").size == 2)
    assert(consumer.consumeChanges(spark, s"$base/t", "idx")._1.isEmpty)

    // maintenance folds the masks in without disturbing the feed
    assert(Merge.materializeDeletes(spark, s"$base/t").contains(3L))
    val (c2, hwm2) = consumer.consumeChanges(spark, s"$base/t", "idx")
    assert(c2.isEmpty && hwm2 == 3L)
    consumer.commit("idx", hwm2)
    assert(SnapshotLog.read(spark, s"$base/t").get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == got)
  }

  test("string-keyed streaming upsert sink: bloom-indexed bootstrap, masked deletes, replay") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val base = Files.createTempDirectory("graft-upsert-str").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    def addFile(rows: Seq[(String, String, Long, Boolean)], tag: String): Unit = {
      val stage = s"$base/stage_$tag"
      rows.toDF("pk", "v", "ord", "is_del").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(stage)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .foreach(p => Files.copy(p, Paths.get(s"$base/in/${tag}_${p.getFileName}")))
    }
    val schema = Seq(("", "", 0L, false)).toDF("pk", "v", "ord", "is_del").schema
    def drain(): Unit = StreamSync.upsertSink(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in"),
      s"$base/t", s"$base/chk", keyCol = "pk", orderCol = "ord",
      deleteCol = Some("is_del"))
    addFile(Seq(("u-1", "a", 1L, false), ("u-2", "b", 1L, false),
      ("u-3", "c", 1L, false)), "a")
    addFile(Seq(("u-2", "b2", 3L, false), ("u-1", null, 3L, true),
      ("u-4", "d", 3L, false)), "b")
    drain()
    val commits = SnapshotLog.commits(spark, s"$base/t")
    assert(commits.map(_.op) == Seq("append", "rowdelta"))
    // the bootstrap files carry the key BLOOM (their only prune index)
    assert(commits.head.added.forall(_.blooms.contains("pk")))
    val got = SnapshotLog.read(spark, s"$base/t").get.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("u-2" -> "b2", "u-3" -> "c", "u-4" -> "d"))
    // string point lookup over the streamed table skips the foreign file
    val (_, skipped) = SnapshotLog.pruneCounts(spark, s"$base/t",
      graft.table.Constraints.in("pk", "u-4"))
    assert(skipped >= 1)
    // idempotent re-drain
    drain()
    assert(SnapshotLog.commits(spark, s"$base/t").size == 2)
  }

  test("upsert sink auto-materializes masks past the threshold; feed unaffected") {
    import spark.implicits._
    import graft.table.{DiffConsumer, SnapshotLog}
    val base = Files.createTempDirectory("graft-automat").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    def addFile(rows: Seq[(Long, String, Long, Boolean)], tag: String): Unit = {
      val stage = s"$base/stage_$tag"
      rows.toDF("id", "v", "ord", "is_del").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(stage)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .foreach(p => Files.copy(p, Paths.get(s"$base/in/${tag}_${p.getFileName}")))
    }
    val schema = Seq((0L, "", 0L, false)).toDF("id", "v", "ord", "is_del").schema
    addFile((1L to 6L).map(k => (k, s"v$k", 1L, false)), "a")
    addFile(Seq((2L, "x", 2L, false), (3L, null, 2L, true)), "b")
    StreamSync.upsertSink(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in"),
      s"$base/t_parquet", s"$base/chk", keyCol = "id", orderCol = "ord",
      deleteCol = Some("is_del"))
    // batch 1 left 2 mask entries against 6 data rows, past the
    // advisor's mask ratio: the maintenance loop run after the drain
    // folds them in with a replace — live files are data-only, content exact
    assert(graft.cdc.PipelineRunner.maintainTable(spark, base, "t") ==
      Seq("materialize_deletes"))
    val commits = SnapshotLog.commits(spark, s"$base/t_parquet")
    assert(commits.map(_.op) == Seq("append", "rowdelta", "replace"))
    assert(SnapshotLog.filesAt(spark, s"$base/t_parquet").forall(_.kind == "data"))
    val got = SnapshotLog.read(spark, s"$base/t_parquet").get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "v1", 2L -> "x", 4L -> "v4", 5L -> "v5", 6L -> "v6"))
    // the replace is invisible to the row-level feed
    val consumer = new DiffConsumer(s"$base/state")
    val feed = consumer.consumeChanges(spark, s"$base/t_parquet", "idx")._1.get.collect()
      .map(r => (r.getLong(0), r.getAs[String]("_change_op"))).toSet
    assert(feed == ((1L to 6L).map(k => (k, "insert")).toSet
      + ((2L, "upsert")) + ((3L, "delete"))))
  }

  test("upsert sink mask files fold to one through consolidateMasks after the drain") {
    import spark.implicits._
    import graft.table.{DiffConsumer, Merge, SnapshotLog}
    val base = Files.createTempDirectory("graft-autoconsol").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    def addFile(rows: Seq[(Long, String, Long, Boolean)], tag: String): Unit = {
      val stage = s"$base/stage_$tag"
      rows.toDF("id", "v", "ord", "is_del").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(stage)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .foreach(p => Files.copy(p, Paths.get(s"$base/in/${tag}_${p.getFileName}")))
    }
    val schema = Seq((0L, "", 0L, false)).toDF("id", "v", "ord", "is_del").schema
    // bootstrap + 5 update batches, each leaving one tiny mask file
    addFile((1L to 8L).map(k => (k, s"v$k", 1L, false)), "a")
    for (i <- 2 to 6)
      addFile(Seq((i.toLong, s"u$i", i.toLong, false)), s"b$i")
    StreamSync.upsertSink(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in"),
      s"$base/t", s"$base/chk", keyCol = "id", orderCol = "ord",
      deleteCol = Some("is_del"))
    def masks = SnapshotLog.filesAt(spark, s"$base/t").filter(_.kind == "eqdelete")
    assert(masks.size == 5, s"one mask file per update batch: ${masks.size}")
    // maintenance after the drain folds the accrued files to one
    // (metadata-only; data files are never rewritten)
    val dataBefore = SnapshotLog.filesAt(spark, s"$base/t").filter(_.kind == "data")
    assert(Merge.consolidateMasks(spark, s"$base/t").isDefined)
    assert(masks.size == 1, s"mask files not folded: ${masks.size}")
    assert(SnapshotLog.filesAt(spark, s"$base/t").filter(_.kind == "data") == dataBefore)
    assert(SnapshotLog.commits(spark, s"$base/t").exists(c =>
      c.op == "replace" && c.summary.contains("consolidated_masks")))
    // content exact through the consolidations
    val got = SnapshotLog.read(spark, s"$base/t").get.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "v1", 2L -> "u2", 3L -> "u3", 4L -> "u4",
      5L -> "u5", 6L -> "u6", 7L -> "v7", 8L -> "v8"), got.toString)
    // the consolidation replaces are invisible to the row-level feed
    val feed = new DiffConsumer(s"$base/state")
      .consumeChanges(spark, s"$base/t", "idx")._1.get.collect()
      .map(r => (r.getLong(0), r.getAs[String]("_change_op")))
    assert(feed.count(_._2 == "upsert") == 5 && feed.count(_._2 == "insert") == 8
      && feed.count(_._2 == "delete") == 0, feed.mkString(";"))
  }

  test("streaming dedup index matches sequential admission over the pair graph") {
    val base = Fixtures.dir("graft-stream-dix")
    Files.createDirectories(Paths.get(s"$base/in"))
    val docs = graft.schema.Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    def drain(): Unit = StreamSync.maintainDedupIndex(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in"),
      s"$base/idx", s"$base/chk")
    def addFile(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val stage = s"$base/stage_$tag"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(stage)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .foreach(p => Files.copy(p, Paths.get(s"$base/in/${tag}_${p.getFileName}")))
    }
    // three ingest slices; one drain per file makes the arrival order exact
    val slices = Seq(0, 1, 2).map(m => docs.filter(col("doc_id") % 3 === m))
    slices.zip(Seq("a", "b", "c")).foreach { case (df, tag) =>
      addFile(df, tag); drain()
    }
    val got = StreamSync.readDedupDecisions(spark, s"$base/idx").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_dup")).toMap
    assert(got.size == docs.count())
    // expected: replay the documented admission rule over the exact pair
    // graph (within a batch: earlier-by-id docs are targets; across
    // batches: only admitted docs are)
    val pairs = graft.llm.Dedup.ngramJaccard(spark, sf).collect()
      .map(r => Set(r.getLong(0), r.getLong(1))).toSet
    def matched(a: Long, b: Long) = pairs.contains(Set(a, b))
    var admitted = Set.empty[Long]
    val expected = scala.collection.mutable.Map.empty[Long, Boolean]
    slices.foreach { df =>
      val ids = df.select(col("doc_id")).collect().map(_.getLong(0)).sorted
      ids.foreach { id =>
        val targets = admitted ++ ids.filter(_ < id)
        expected(id) = targets.exists(t => matched(t, id))
      }
      admitted ++= ids.filterNot(expected(_))
    }
    assert(got == expected.toMap,
      s"mismatch: ${(got.toSet diff expected.toSet) ++ (expected.toSet diff got.toSet)}")
    // a drain with nothing new must not change the decisions
    drain()
    val again = StreamSync.readDedupDecisions(spark, s"$base/idx").collect()
    assert(again.length == got.size)
  }

  test("drift monitor: per-batch JS matches a reference replay; disjoint vocab hits ln 2") {
    val base = Fixtures.dir("graft-stream-drift")
    Files.createDirectories(Paths.get(s"$base/in"))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // reference = the full corpus unigram distribution
    val refCounts = docs
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val refTotal = refCounts.values.sum.toDouble
    val reference = spark.createDataFrame(
        refCounts.toSeq.map { case (t, n) => (t, n / refTotal) })
      .toDF("token", "p_ref")
    def drain(): Unit = StreamSync.maintainDriftMonitor(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in"),
      reference, s"$base/mon", s"$base/chk")
    def addFile(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val stage = s"$base/stage_$tag"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(stage)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .foreach(p => Files.copy(p, Paths.get(s"$base/in/${tag}_${p.getFileName}")))
    }
    addFile(docs.filter(col("doc_id") % 2 === 0), "a"); drain()
    // disjoint-vocabulary batch: nothing overlaps the reference
    addFile(docs.limit(5).select(col("doc_id") + 900000,
      lit("qqxa qqxb qqxc qqxd qqxe").as("text"), col("lang"), col("source"),
      lit(24L).as("n_chars")).toDF(docs.columns: _*), "b")
    drain()
    val rows = StreamSync.readDriftView(spark, s"$base/mon").collect()
    assert(rows.length == 2)
    val jsCorpus = rows(0).getAs[Double]("js_divergence")
    val jsAlien = rows(1).getAs[Double]("js_divergence")
    // replay batch 0's JS driver-side from exact counts
    val slice = docs.filter(col("doc_id") % 2 === 0)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sliceTotal = slice.values.sum.toDouble
    val vocab = slice.keySet ++ refCounts.keySet
    val expected = vocab.toSeq.map { t =>
      val p = slice.getOrElse(t, 0L) / sliceTotal
      val q = refCounts.getOrElse(t, 0L) / refTotal
      val m = (p + q) / 2.0
      (if (p > 0) p * math.log(p / m) / 2.0 else 0.0) +
        (if (q > 0) q * math.log(q / m) / 2.0 else 0.0)
    }.sum
    assert(math.abs(jsCorpus - expected) < 1e-9,
      s"engine js=$jsCorpus expected=$expected")
    // disjoint support ⇒ JS = ln 2 exactly; and the alien batch must alarm
    assert(math.abs(jsAlien - math.log(2.0)) < 1e-12)
    assert(jsAlien > jsCorpus)
  }

  test("sketch, drift and dedup stores: a replayed batch changes no answer and commits once") {
    val base = Fixtures.dir("graft-stream-store-replay")
    Files.createDirectories(Paths.get(s"$base/in"))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val tokens = docs.select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val nTokens = tokens.count().toDouble
    val reference = tokens.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .select(col("token"), (col("n") / nTokens).as("p_ref"))
    def stream() = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    def drain(): Unit = {
      StreamSync.maintainQuantileSketches(stream().withColumn("value", col("n_chars")),
        s"$base/qs", s"$base/chk_qs")
      StreamSync.maintainHeavyHitters(stream(), s"$base/hh", s"$base/chk_hh")
      StreamSync.maintainDriftMonitor(stream(), reference, s"$base/mon", s"$base/chk_mon")
      StreamSync.maintainDedupIndex(stream(), s"$base/idx", s"$base/chk_idx")
    }
    def answers() = (
      StreamSync.readQuantileView(spark, s"$base/qs", Seq(0.5, 0.95)).collect().toSeq,
      StreamSync.readHeavyHitterView(spark, s"$base/hh").collect().toSeq,
      StreamSync.readDriftView(spark, s"$base/mon").collect().toSeq,
      StreamSync.readDedupDecisions(spark, s"$base/idx").collect().map(_.toSeq).toSet)
    for ((m, tag) <- Seq(0 -> "a", 1 -> "b")) {
      val stage = s"$base/stage_$tag"
      docs.filter(col("doc_id") % 2 === m).coalesce(1).write.parquet(stage)
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(stage)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .foreach(p => Files.copy(p, Paths.get(s"$base/in/${tag}_${p.getFileName}")))
    }
    drain() // one file per trigger: batches 0 and 1 in every stream
    val settled = answers()
    assert(settled._3.size == 2 && settled._4.size == docs.count())
    Seq("qs", "hh", "mon", "idx").foreach(t => dropCheckpointCommit(s"$base/chk_$t", 1))
    drain()
    assert(answers() == settled, s"replay changed an answer: ${answers()} vs $settled")
    Seq("qs", "hh", "mon", "idx/keys", "idx/sh", "idx/decisions").foreach(t =>
      assert(batchCommits(s"$base/$t", 1) == 1, s"$t must hold batch 1 once"))
  }

  test("streamed IVF vector index: partition-pruned ANN equals the batch IVF query") {
    val base = Files.createTempDirectory("graft-stream-vix").toString
    Files.createDirectories(Paths.get(s"$base/in"))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    def drain(): Unit = StreamSync.maintainVectorIndex(
      spark.readStream.schema(emb.schema).parquet(s"$base/in"),
      centroids, s"$base/idx", s"$base/chk")
    def addFile(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val stage = s"$base/stage_$tag"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      import scala.jdk.CollectionConverters._
      Files.list(Paths.get(stage)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .foreach(p => Files.copy(p, Paths.get(s"$base/in/${tag}_${p.getFileName}")))
    }
    addFile(emb.filter(col("vec_id") % 2 === 0), "a"); drain()
    addFile(emb.filter(col("vec_id") % 2 =!= 0), "b"); drain()
    val query = emb.filter(col("vec_id") === 0)
      .head().getSeq[Float](1).toArray
    val res = StreamSync.queryVectorIndex(spark, s"$base/idx", centroids, query, k = 11)
    // the cell filter must prune at the partition level, not post-scan
    val scan = res.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PartitionFilters") && scan.contains("centroid_id"),
      s"probe must prune cells via partition filters:\n$scan")
    val got = res.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        BigDecimal(r.getAs[Double]("cosine")).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
      .filterNot(_._1 == 0L).take(10)
    val want = graft.llm.Similarity.ivfTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        BigDecimal(r.getAs[Double]("cosine")).setScale(6, BigDecimal.RoundingMode.HALF_UP)))
    assert(got.toSeq == want.toSeq,
      s"streamed-index ANN must equal the batch IVF query:\n$got\nvs\n$want")
    // exactly-once appends: an empty drain must not grow the index
    val n = spark.read.parquet(s"$base/idx").count()
    drain()
    assert(spark.read.parquet(s"$base/idx").count() == n)
  }

  test("streaming curation keeps exactly the batch pipeline's distinct quality hashes") {
    val base = Files.createTempDirectory("graft-stream-cur").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.repartition(4).write.mode("overwrite").parquet(s"$base/in")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = StreamSync.curatedDocs(stream)
      .writeStream.format("memory").queryName("cur_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("cur_out").collect()
    // the kept doc per duplicate group depends on micro-batch arrival
    // order, but the kept HASH SET and its size are order-invariant and
    // must equal the one-shot batch pipeline over the same staged input
    val expected = StreamSync.curatedDocs(spark.read.parquet(s"$base/in"))
      .select(col("content_sha")).collect().map(_.getString(0)).toSet
    assert(got.nonEmpty)
    assert(got.map(_.getAs[String]("content_sha")).toSet == expected)
    assert(got.length == expected.size, "stream must emit each content hash once")
  }

  test("streaming dedup drops replayed event_ids") {
    val base = Files.createTempDirectory("graft-stream-dedup").toString
    val events = Tables.events(spark, sf).limit(100)
    // write the same batch twice → duplicates in the input
    events.write.mode("overwrite").parquet(s"$base/in")
    events.write.mode("append").parquet(s"$base/in")
    val stream = spark.readStream.schema(events.schema).parquet(s"$base/in")
    val q = StreamSync.dedupedEvents(stream)
      .writeStream.format("memory").queryName("dedup_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val n = spark.table("dedup_out").count()
    assert(n == 100, s"expected 100 deduped events, got $n")
  }

  test("V2 table-name streaming: readStream.table / writeStream.toTable drain like the path faces") {
    import spark.implicits._
    import graft.table.SnapshotLog
    val base = Files.createTempDirectory("graft-v2-stream").toString
    spark.conf.set("spark.sql.catalog.gvstream",
      classOf[graft.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gvstream.warehouse", base)
    // source table: two append commits through the V1 writer face
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.format("graft")
      .option("statsCols", "id").save(s"$base/src")
    Seq((3L, "c")).toDF("id", "v").write.format("graft").mode("append")
      .option("statsCols", "id").save(s"$base/src")
    // the full V2-NAME loop: table in, table out — must match the
    // format("graft")+path loop row for row (same checkpoint contract)
    // the engine's writeToV1Table contract: the writer's format must
    // name the table's provider (the same rule stock V1 tables follow)
    def drain(): Unit = {
      val q = spark.readStream.table("gvstream.src")
        .writeStream.format("graft")
        .option("checkpointLocation", s"$base/cp")
        .toTable("gvstream.dst")
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    assert(spark.sql("SELECT * FROM gvstream.dst").collect().toSet ===
      spark.sql("SELECT * FROM gvstream.src").collect().toSet)
    // replay-safe: an idle re-drain commits nothing new
    val commits0 = SnapshotLog.commits(spark, s"$base/dst").size
    drain()
    assert(spark.sql("SELECT count(*) FROM gvstream.dst").head.getLong(0) === 3)
    // incremental: only the delta flows on the shared checkpoint
    Seq((4L, "d")).toDF("id", "v").write.format("graft").mode("append")
      .save(s"$base/src")
    drain()
    assert(spark.sql("SELECT * FROM gvstream.dst").collect().toSet ===
      spark.sql("SELECT * FROM gvstream.src").collect().toSet)
    // reader OPTIONS pass through the table-name face: a CDF stream by
    // V2 name carries the change columns and the row-level events
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    val qc = spark.readStream
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .table("gvstream.src")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.select("id", "v", "_change_op").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        ()
      }
      .option("checkpointLocation", s"$base/cp_cdf")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    qc.awaitTermination()
    assert(got.toSet === Set((1L, "a", "insert"), (2L, "b", "insert"),
      (3L, "c", "insert"), (4L, "d", "insert")))
    // a time-travel pinned relation refuses to stream
    val e = intercept[Exception] {
      spark.readStream.table("gvstream.src VERSION AS OF 1") }
    assert(e != null)
  }
}
