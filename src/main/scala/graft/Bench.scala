package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.streaming.Trigger

object Bench {

  /** Monotonic per-process counter for probe-unique catalog names. */
  private val probeSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming throughput probe: replay the events table through the
    * watermarked windowed-count pipeline
    * ([[graft.stream.StreamSync.windowedCounts]]) with AvailableNow and
    * time the drain. Semantics are pinned in StreamSpec; this measures the
    * rate, in two shapes:
    *   - `filesPerTrigger = Some(1)`: nFiles single-file micro-batches —
    *     dominated by per-batch fixed cost (file listing, state store
    *     snapshot, parquet commit), the latency-bound shape;
    *   - `filesPerTrigger = None`: one bulk drain — the state-store path's
    *     actual throughput once per-batch overhead is amortized, the shape
    *     a backlogged production stream runs in. */
  private def streamReplay(spark: SparkSession, sfDir: String,
                           nFiles: Int = 8,
                           filesPerTrigger: Option[Int] = Some(1),
                           replicate: Int = 1,
                           rocksdb: Boolean = false,
                           pipeline: org.apache.spark.sql.DataFrame =>
                             org.apache.spark.sql.DataFrame =
                             graft.stream.StreamSync.windowedCounts): (Double, Long, Int) = {
    val tmp = graft.schema.Fixtures.dir("graft-stream-bench")
    val src = s"$tmp/in"; val chk = s"$tmp/chk"; val out = s"$tmp/out"
    val ev0 = graft.schema.Tables.events(spark, sfDir)
    // The bulk probe replays the table ×replicate (events are tiny at test
    // sf): with one batch the per-batch fixed cost (listing, state-store
    // snapshot, commit) amortizes over real volume, so the measured rate
    // is the state path's throughput, not the constant. Only counts grow —
    // the replication leaves the key space (window × event_type) as is.
    val ev = if (replicate <= 1) ev0
      else ev0.crossJoin(broadcast(
        spark.range(replicate.toLong).toDF("rep_i"))).drop("rep_i")
    val n = ev.count()
    ev.repartition(nFiles).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    // The probe measures micro-batch THROUGHPUT, not state-store fan-out:
    // 32 state partitions × nFiles batches is pure fixed overhead at this
    // volume, so pin the stream's shuffle width low (fresh checkpoint each
    // run, so the pinned width never conflicts with prior state).
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // RocksDB state store: the 100 TB posture for stateful streams (state
    // spills off-heap/on-disk instead of growing the JVM heap). Provider is
    // read at query start, so a per-probe conf swap is safe.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    if (rocksdb) spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val t0 = System.nanoTime()
      val reader = spark.readStream.schema(schema)
      val stream = filesPerTrigger
        .fold(reader)(k => reader.option("maxFilesPerTrigger", k.toString))
        .parquet(src)
      val q = pipeline(stream)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val batches = q.recentProgress.length
      val dt = (System.nanoTime() - t0) / 1e9
      (dt, n, batches)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      prevProvider.fold(spark.conf.unset(providerKey))(v => spark.conf.set(providerKey, v))
    }
  }

  /** CDC APPLY throughput probe: a lineitem-derived keyed table is
    * pre-seeded through the snapshot log (untimed), then ONE bulk
    * micro-batch of ~29% updates + ~5% inserts drains through
    * [[graft.stream.StreamSync.upsertSink]] — the merge-on-read apply
    * path (latest-per-key resolve → mask selection against manifest
    * zones → rowdelta commit). Measures the rate of the engine's answer
    * to the reference's core job: applying a CDC delta to a standing
    * warehouse, at O(delta) write cost. The mix is update-dominated
    * (~29% of keys rewritten vs ~5% inserts) so the measured rate is
    * the mask-writing apply path, not the cheap append path. */
  private def upsertApplyProbe(spark: SparkSession, sfDir: String): (Double, Long) = {
    import org.apache.spark.sql.functions._
    import graft.table.SnapshotLog
    val tmp = graft.schema.Fixtures.dir("graft-upsert-bench")
    val (src, chk, tbl) = (s"$tmp/in", s"$tmp/chk", s"$tmp/t")
    val state = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select((col("l_orderkey").cast("long") * 100 + col("l_linenumber")).as("id"),
        col("l_extendedprice").as("v"), lit(0L).as("ord"),
        lit(false).as("is_del"))
    SnapshotLog.commit(spark, tbl, "append",
      SnapshotLog.writeData(state.repartitionByRange(8, col("id")), tbl,
        statsCol = Some("id")))
    // ~29% of keys updated, ~5% brand-new inserts, a sprinkle of
    // deletes. Moduli must be COPRIME to the id's 100-multiplier or the
    // predicate collapses onto l_linenumber alone and the mix silently
    // shifts (pmod(id,4) would select exactly linenumber==4).
    val delta = state.filter(pmod(col("id"), lit(7)) < 2)
      .select(col("id"), (col("v") * 2).as("v"), lit(1L).as("ord"),
        (pmod(col("id"), lit(63)) === 0).as("is_del"))
      .unionByName(state.filter(pmod(col("id"), lit(19)) === 3)
        .select((col("id") + lit(1000000000L)).as("id"), col("v"),
          lit(1L).as("ord"), lit(false).as("is_del")))
    delta.write.mode("overwrite").parquet(src)
    val n = spark.read.parquet(src).count()
    val schema = spark.read.parquet(src).schema
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val t0 = System.nanoTime()
      graft.stream.StreamSync.upsertSink(
        spark.readStream.schema(schema).parquet(src),
        tbl, chk, keyCol = "id", orderCol = "ord", deleteCol = Some("is_del"))
      ((System.nanoTime() - t0) / 1e9, n)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  /** CDC TAIL probe — the read-side twin of [[upsertApplyProbe]]: the
    * same lineitem-keyed table is seeded and merged-on-read (both
    * untimed), then a `readChangeFeed=true` stream started AFTER the
    * seed drains the row-level events of the delta commit. Measures the
    * rate a downstream incremental materialization consumes CDC at —
    * O(delta) manifest-ranged reads, never a table rescan. */
  private def cdfTailProbe(spark: SparkSession, sfDir: String): (Double, Long) = {
    import org.apache.spark.sql.functions._
    import graft.table.SnapshotLog
    val tmp = graft.schema.Fixtures.dir("graft-cdf-bench")
    val (chk, out, tbl) = (s"$tmp/chk", s"$tmp/out", s"$tmp/t")
    val state = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select((col("l_orderkey").cast("long") * 100 + col("l_linenumber")).as("id"),
        col("l_extendedprice").as("v"))
    SnapshotLog.commit(spark, tbl, "append",
      SnapshotLog.writeData(state.repartitionByRange(8, col("id")), tbl,
        statsCol = Some("id")))
    // same update-dominated mix as the apply probe (coprime moduli)
    val delta = state.filter(pmod(col("id"), lit(7)) < 2)
      .select(col("id"), (col("v") * 2).as("v"), lit(false).as("is_del"))
      .unionByName(state.filter(pmod(col("id"), lit(19)) === 3)
        .select((col("id") + lit(1000000000L)).as("id"), col("v"),
          lit(false).as("is_del")))
    graft.table.Merge.mergeOnRead(spark, tbl, delta, "id",
      deleteCol = Some("is_del"))
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val t0 = System.nanoTime()
      // the stream tails the table BY V2 NAME (readStream.table through
      // the catalog face) — same plan as format("graft")+path, and the
      // reader options (CDF vocabulary, startingVersion) pass through.
      // The catalog NAME is unique per probe pass: CatalogManager caches
      // the plugin instance per name, so re-pointing one name's
      // warehouse conf would keep tailing the FIRST pass's table
      val cat = s"gbench_cdf_${Bench.probeSeq.incrementAndGet()}"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.connector.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp)
      val q = spark.readStream
        .option("readChangeFeed", "true").option("startingVersion", "1")
        .table(s"$cat.t")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .start()
      try q.processAllAvailable() finally q.stop()
      val dt = (System.nanoTime() - t0) / 1e9
      (dt, spark.read.parquet(out).count())
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus, "graft-bench")
    // Deterministic execution order; failures surface as -1 so a broken
    // query can't silently shrink the measured set.
    // Session warm-up (codegen compiler, block manager, scheduler paths)
    // so the alphabetically-first query doesn't absorb ~5 s of one-time
    // startup cost in its measurement.
    spark.range(1000).selectExpr("sum(id)").count()
    // Optional comma-separated filter for isolated re-measurement
    // (SPARK_GRAFT_ONLY=q1,q2; unset = full suite, what the driver runs).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Per-query time = MIN over SPARK_GRAFT_PASSES runs (default 2). This
    // host shows bursty hypervisor CPU steal that inflates whole minutes-
    // long windows 20-40× (BASELINE.md): a single-pass suite is a lottery,
    // while the min of two temporally-separated passes (full suite per
    // pass, so pass 2 of a query runs minutes after pass 1) is stable to
    // a few percent. Pass 2 also runs with warm JIT — closer to the
    // steady state a long-lived cluster actually sees.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // UNTIMED warm pass before the measured ones (r15): a handful of
    // entries memoize one-time JVM-scale state on first touch (the
    // spherical k-means fit, the PQ code table) — without warming, their
    // pass-1 sample is structurally inflated by the build and min-of-N
    // degenerates to a SINGLE later sample with no steal protection
    // (exactly how r14 reported sim_ivf_trained_topk 6.1 s on unchanged
    // code: one unlucky pass-2 sample). Warming makes every entry's
    // samples all-warm, so the min estimator holds for all of them.
    val warmPasses = sys.env.getOrElse("SPARK_GRAFT_WARM", "1").toInt
    def runOnce(): Map[String, Double] = ordered.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable => System.err.println(s"[bench] $name: ${e.getMessage}"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      // Drop cross-query session state so one query's footprint can't
      // distort the next measurement: clearCache() empties the SQL
      // CacheManager (persist()), but localCheckpoint() blocks live only
      // in the block manager — unpersist those explicitly (r2 bench: the
      // leaked checkpoint blocks inflated 8 queries 20-40×).
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      name -> (if (ok) dt else -1.0)
    }.toMap
    (1 to warmPasses).foreach(_ => runOnce()) // discarded — state warm-up
    val allPasses = (1 to passes).map(_ => runOnce())
    val results = ordered.map { case (name, _) =>
      val samples = allPasses.map(_(name))
      // a failure in ANY pass reports as failure; otherwise the min sample
      name -> (if (samples.exists(_ < 0)) -1.0 else samples.min)
    }
    // the shared exclusion/failure contract for every one-shot probe: an
    // excluded probe is omitted, a thrown one reports its sentinel.
    // Each probe reports the MIN of `probePasses` independent runs (fresh
    // temp dirs each — the probes build their own): these fixed-cost
    // stream shapes were the only entries whose graded numbers swung
    // >1.3× round-over-round on identical code, and the min over
    // temporally-separated samples is the same steal-robust estimator
    // the per-query loop already uses (BASELINE.md's host-steal note).
    val probePasses = sys.env.getOrElse("SPARK_GRAFT_PROBE_PASSES", "3").toInt
    def guarded[T](key: String, excluded: T, secOf: T => Double)(body: => T): T =
      if (only.exists(!_.contains(key))) excluded
      else
        try (1 to probePasses).map(_ => body).minBy(secOf)
        catch { case e: Throwable =>
          System.err.println(s"[bench] $key: ${e.getMessage}"); excluded }
    def probe(key: String, filesPerTrigger: Option[Int],
              replicate: Int, rocksdb: Boolean = false,
              pipeline: org.apache.spark.sql.DataFrame =>
                org.apache.spark.sql.DataFrame =
                graft.stream.StreamSync.windowedCounts): (Double, Long, Int) =
      guarded[(Double, Long, Int)]("" + key, (-1.0, 0L, 0), _._1)(
        streamReplay(spark, sfDir, filesPerTrigger = filesPerTrigger,
          replicate = replicate, rocksdb = rocksdb, pipeline = pipeline))
    val (streamSec, streamRows, streamBatches) = probe("stream_replay", Some(1), 1)
    // bulk drain: same pipeline, one batch over ×10 volume — the
    // amortized-throughput shape a backlogged production stream runs in
    val (bulkSec, bulkRows, _) = probe("stream_bulk", None, 10)
    // same bulk drain on the RocksDB state store — the provider stateful
    // streams run at 100 TB state; rate parity proves the swap is config,
    // not a rewrite
    val (rocksSec, rocksRows, _) = probe("stream_bulk_rocksdb", None, 10, rocksdb = true)
    // merging SESSION-window state (variable-width windows that coalesce
    // as events arrive) on the RocksDB provider — the stateful shape whose
    // eviction semantics StreamSpec pins; here its bulk throughput
    val (sessSec, sessRows, _) = probe("stream_session_rocksdb", None, 10,
      rocksdb = true, pipeline = graft.stream.StreamSync.sessionCounts)
    // the CDC APPLY probe: one bulk micro-batch of updates+inserts+
    // deletes merged into a pre-seeded snapshot table (merge-on-read);
    // one single-sample run, outside the min-of-passes query loop
    val (applySec, applyRows) =
      guarded[(Double, Long)]("stream_upsert_apply", (-1.0, 0L), _._1)(
        upsertApplyProbe(spark, sfDir))
    // the CDC TAIL probe: a readChangeFeed stream drains the row-level
    // events of a merge-on-read delta against a pre-seeded table
    val (cdfSec, cdfRows) =
      guarded[(Double, Long)]("stream_cdf_tail", (-1.0, 0L), _._1)(
        cdfTailProbe(spark, sfDir))
    // a probe excluded by SPARK_GRAFT_ONLY is omitted, not reported failed
    val all = results ++
      Seq("stream_replay" -> streamSec, "stream_bulk" -> bulkSec,
          "stream_bulk_rocksdb" -> rocksSec,
          "stream_session_rocksdb" -> sessSec,
          "stream_upsert_apply" -> applySec,
          "stream_cdf_tail" -> cdfSec)
        .filter { case (k, _) => only.forall(_.contains(k)) }
    // Locale.ROOT: the f-interpolator honors the JVM default locale, and a
    // comma-decimal locale (de_DE) would make every emitted JSON unparseable.
    def sec(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val total = all.map(_._2).filter(_ >= 0).sum
    val streamRate = if (streamSec > 0) math.round(streamRows / streamSec) else 0L
    val bulkRate = if (bulkSec > 0) math.round(bulkRows / bulkSec) else 0L
    val rocksRate = if (rocksSec > 0) math.round(rocksRows / rocksSec) else 0L
    val sessRate = if (sessSec > 0) math.round(sessRows / sessSec) else 0L
    val applyRate = if (applySec > 0) math.round(applyRows / applySec) else 0L
    val cdfRate = if (cdfSec > 0) math.round(cdfRows / cdfSec) else 0L
    val nFailed = all.count(_._2 < 0)
    def qmap(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + sec(v) }.mkString("{", ",", "}")
    // Full per-query detail: an EARLIER stdout line + a JSON file. The
    // driver's tail capture holds only ~2 KB, so the final line (below)
    // must stay small — r3's ~2.6 KB single line came back truncated at
    // the FRONT and unparseable.
    val detail = s"""{"metric":"total","value":${sec(total)},"unit":"sec","queries":${qmap(all)},"sf":"$sfDir","stream_rows":$streamRows,"stream_batches":$streamBatches,"stream_rows_per_sec":$streamRate,"stream_bulk_rows_per_sec":$bulkRate,"stream_bulk_rocksdb_rows_per_sec":$rocksRate,"stream_session_rocksdb_rows_per_sec":$sessRate,"stream_upsert_apply_rows_per_sec":$applyRate,"stream_cdf_tail_rows_per_sec":$cdfRate}"""
    println(s"BENCH_DETAIL $detail")
    try {
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_DETAIL.json")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), detail + "\n")
    } catch { case e: Throwable => System.err.println(s"[bench] detail write: ${e.getMessage}") }
    // Final line: totals first, then only the slowest queries (plus any
    // failures — a -1 must never be hidden by the cap), shrunk until the
    // line fits a hard byte budget well under the ~2 KB tail capture so
    // the driver always parses it regardless of name lengths.
    def finalLine(topN: Int): String = {
      val slowest = all.sortBy(-_._2).take(topN)
      val shown = (slowest ++ all.filter(_._2 < 0)).distinct.sortBy(_._1)
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","sf":"$sfDir","n_queries":${all.size},"n_failed":$nFailed,"stream_rows_per_sec":$streamRate,"stream_bulk_rows_per_sec":$bulkRate,"stream_bulk_rocksdb_rows_per_sec":$rocksRate,"stream_session_rocksdb_rows_per_sec":$sessRate,"stream_upsert_apply_rows_per_sec":$applyRate,"stream_cdf_tail_rows_per_sec":$cdfRate,"queries_shown":${shown.size},"queries":${qmap(shown)}}"""
    }
    val line = (25 to 0 by -5).iterator.map(finalLine)
      .find(_.length <= 1400).getOrElse(finalLine(0))
    spark.stop()
    // Emit the final line LAST, after Spark's shutdown chatter, on BOTH
    // streams: stdout for the driver's tail capture (prefix-free now that
    // run/outputStrategy inherits stdout), stderr as a redundant channel in
    // case the capture merges or prefers it.
    System.out.println(line); System.out.flush()
    System.err.println(line); System.err.flush()
    // A broken query must fail the run, not just report -1: a gate keyed
    // on exit status (sbt prints [success] on rc 0) would otherwise pass
    // with n_failed > 0 (ADVICE r5).
    if (nFailed > 0) sys.exit(1)
  }
}
