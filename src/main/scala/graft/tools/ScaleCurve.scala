package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale-curve harness for the dedup/ANN families (r5 VERDICT
  * item 7): build ×1/×5/×10 corpora derived from sf0.1 and measure how
  * candidate-pair counts and wall time grow with corpus size. The 100 TB
  * claims rest on these families being ~O(n) (bucketed candidate
  * generation, never all-pairs); this prints the measured curve that
  * guards them (recorded in BASELINE.md).
  *
  * Corpus construction: replica r of each document gets doc_id offset
  * r·10⁶ and a replica-unique token (`u<r>x<i>`) interleaved after every
  * 2nd word. Every word-3-gram then contains an injected token, so
  * replicas share NO shingles across r (no artificial mega-clusters),
  * while near-dup pairs WITHIN a replica keep their aligned mutated
  * shingles (the injected token at word index i is the same for both) —
  * i.e. the natural pair structure replicates ~linearly with the corpus,
  * which is exactly the regime the curve should probe. Embeddings
  * replicate with vec_id offsets (cells grow uniformly ×k).
  */
object ScaleCurve {

  private def buildCorpus(spark: SparkSession, src: String, base: String, k: Int): String = {
    val out = s"$base/x$k"
    if (!new java.io.File(s"$out/documents.parquet/_SUCCESS").exists ||
        !new java.io.File(s"$out/lineitem.parquet/_SUCCESS").exists) {
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val reps = (0 until k).map { r =>
        if (r == 0) docs
        else docs
          .withColumn("doc_id", col("doc_id") + lit(r * 1000000L))
          .withColumn("text", expr(
            s"""array_join(flatten(transform(split(text, ' '),
               |  (w, i) -> CASE WHEN i % 2 = 1
               |            THEN array(w, concat('u$r', 'x', CAST(i AS STRING)))
               |            ELSE array(w) END)), ' ')""".stripMargin))
      }
      reps.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")
      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      (0 until k).map { r =>
        if (r == 0) emb else emb.withColumn("vec_id", col("vec_id") + lit(r * 1000000L))
      }.reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      // relational fact/dim replicas for the skew-join curve: orderkeys
      // offset by r·10⁷ per replica. The offset is EVEN, so the parity-
      // based hot-key mapping (even keys → 0) keeps collapsing ~half of
      // EVERY replica onto the same single key — the hot partition grows
      // ×k with the corpus, which is precisely the regime that must not
      // fall over if AQE's runtime skew split is real.
      for (t <- Seq("lineitem", "orders")) {
        val keyCol = if (t == "lineitem") "l_orderkey" else "o_orderkey"
        val df = spark.read.parquet(s"$src/$t.parquet")
        (0 until k).map { r =>
          if (r == 0) df
          else df.withColumn(keyCol, col(keyCol) + lit(r * 10000000L))
        }.reduce(_ unionByName _)
          .repartition(32).write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
    }
    out
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"), "scale-curve")
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val base = "/tmp/graft-scale"
    for (k <- Seq(1, 5, 10)) {
      val dir = buildCorpus(spark, src, base, k)
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      def settle(): Unit = { System.gc(); Thread.sleep(200) }
      val (nCand, tCand) = timed(graft.llm.Dedup.minhashCandidates(spark, dir).count()); settle()
      val (nSim, tSim) = timed(graft.llm.Dedup.simhashPairs(spark, dir).count()); settle()
      val (nEx, tEx) = timed(graft.llm.Dedup.exact(spark, dir).count()); settle()
      val (nKeep, tKeep) = timed(graft.llm.Dedup.resolveKeepers(spark, dir).count()); settle()
      val (_, tIvf) = timed(graft.llm.Similarity.ivfTopK(spark, dir).count()); settle()
      // incremental admission (r6): the batch slice grows ×k with the
      // corpus here, so candidate counts should grow ~×k — the O(batch)
      // claim is that they NEVER grow ×k² (a corpus×corpus probe would)
      val (nInc, tInc) = timed(
        graft.llm.Dedup.incremental(spark, dir).filter(col("is_dup")).count()); settle()
      // r7 additions: df-capped containment (pair growth must stay ~×k —
      // the df cap is what kills the ×k² postings blow-up), BM25 (one
      // keyed agg + doc-score pass), and the deliberately-skewed AQE join
      // whose hot key grows ×k with the corpus
      val (nCont, tCont) = timed(graft.llm.Dedup.containment(spark, dir).count()); settle()
      val (_, tBm25) = timed(graft.llm.TextOps.bm25TopK(spark, dir).count()); settle()
      val (nHot, _) = timed(spark.read.parquet(s"$dir/lineitem.parquet")
        .filter(pmod(col("l_orderkey"), lit(2)) === 0).count())
      val (_, tSkew) = timed(graft.ops.Relational.q36SkewJoinAqe(spark, dir).count()); settle()
      // r7: table-format write-amplification curve — the same constant-size
      // keyed delta applied to a ×k table via copy-on-write (rewrites every
      // key-intersecting file: cost ∝ table) vs merge-on-read (delta files
      // + one mask file: cost ∝ delta). The table is key-clustered into 32
      // files and the delta's keys span the whole key space, the
      // worst case for COW and the steady state for a CDC apply stream.
      import graft.table.{Merge, SnapshotLog}
      val state = spark.read.parquet(s"$dir/lineitem.parquet")
        .select((col("l_orderkey").cast("long") * 100 + col("l_linenumber"))
          .as("id"), col("l_extendedprice").as("v"))
        .repartitionByRange(32, col("id"))
      val tfBase = graft.schema.Fixtures.dir(s"graft-tf-x$k")
      for (t <- Seq("cow", "mor"))
        SnapshotLog.commit(spark, s"$tfBase/$t", "append",
          SnapshotLog.writeData(state, s"$tfBase/$t", statsCol = Some("id")))
      val nState = spark.read.parquet(s"$dir/lineitem.parquet").count()
      // sample ~constant-count delta keys UNIFORMLY across the ×k key
      // space: the orderkey step scales with the table, and the replica
      // offsets are not multiples of it, so hits spread over every
      // replica's range — all 32 clustered files intersect the delta
      // (the COW worst case / CDC steady state)
      val step = math.max(1L, nState / 2000)
      val delta = spark.read.parquet(s"$dir/lineitem.parquet")
        .filter(pmod(col("l_orderkey"), lit(step)) === 0 &&
          col("l_linenumber") === 1)
        .select((col("l_orderkey").cast("long") * 100 + col("l_linenumber"))
          .as("id"), (col("l_extendedprice") * 2.0).as("v"))
      val (cowRes, tCow) = timed(Merge.upsert(spark, s"$tfBase/cow", delta, "id")); settle()
      val (morRes, tMor) = timed(
        Merge.mergeOnRead(spark, s"$tfBase/mor", delta, "id")); settle()
      val (_, tMorRead) = timed(SnapshotLog.read(spark, s"$tfBase/mor").get.count()); settle()
      // r12: POSITIONAL deletion-vector curve — a ~constant-count ranged
      // DELETE against the ×k table. Writes must stay O(matches) (one
      // tiny posdelete file, ZERO data files rewritten) while the
      // locating scan is zone-bounded by the predicate's range; the
      // masked read stays a metadata anti-join (no key-column reads).
      val posTbl = s"$tfBase/pos"
      SnapshotLog.commit(spark, posTbl, "append",
        SnapshotLog.writeData(state, posTbl, statsCol = Some("id")))
      val posLo = 0L
      val posHi = nState / 16 // ~2 of 32 clustered files intersect
      val (posId, tPosDel) = timed(Merge.deleteWhere(spark, posTbl,
        col("id").between(posLo, posHi) && pmod(col("id"), lit(97)) === 0,
        ranges = Map("id" -> (posLo, posHi)))); settle()
      val posMasks = SnapshotLog.filesAt(spark, posTbl)
        .filter(_.kind == "posdelete")
      val (_, tPosRead) = timed(
        SnapshotLog.read(spark, posTbl).get.count()); settle()
      require(posId.isDefined, "posdelete curve: the ranged DELETE matched nothing")
      // read-rate-vs-mask-debt curves for the VECTORIZED masked V2 scan,
      // each priced against its twin through SnapshotLog's merge-on-read
      // plan (the reference implementation) at identical debt; answers
      // must agree exactly. The mask debt grows ~×k with the table
      // (fixed key-space fraction, fixed modulus); the vectorized read
      // must hold its per-row rate — masked files pay a binary search per
      // row, not a Row bridge.
      val morCat = s"gsc_mor_x$k"
      spark.conf.set(s"spark.sql.catalog.$morCat",
        classOf[graft.connector.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$morCat.warehouse", tfBase)
      val posDebt = posMasks.map(_.rows).sum
      /** (vectorized answer, its time, reference answer, its time) of one
        * aggregate over table `t`; `withPos` reads the reference WITH the
        * row-id columns (SnapshotLog's delta-DML source read). */
      def twins(t: String, aggs: String*)(withPos: Boolean) = {
        val (vec, tVec) = timed(spark.sql(
          s"SELECT ${aggs.mkString(", ")} FROM $morCat.$t").collect()(0))
        settle()
        val (ref, tRef) = timed {
          val (dels, data) = SnapshotLog.filesAt(spark, s"$tfBase/$t")
            .partition(SnapshotLog.isMask)
          (if (withPos) SnapshotLog.applyMasksWithPos(spark, data, dels)
           else SnapshotLog.read(spark, s"$tfBase/$t").get)
            .selectExpr(aggs: _*).collect()(0)
        }
        settle()
        require(vec == ref, s"vectorized read of $t diverged from the " +
          s"merge-on-read plan: $vec vs $ref")
        (tVec, tRef)
      }
      // integer checksums: a double sum's value depends on reduction
      // order, which legitimately differs between the two plans;
      // sum(_graft_pos) holds on both (survivors keep original ordinals)
      val vAgg = Seq("count(*) AS n", "sum(CAST(v * 100 AS BIGINT)) AS s")
      val posAgg = Seq("count(*) AS n", "sum(_graft_pos) AS s")
      val (tVecRead, tRefRead) = twins("pos", vAgg: _*)(withPos = false)
      // ROW-ID scan curve: the same masked table read WITH the
      // scan-metadata columns (what every vanilla-session DML source
      // scan projects)
      val (tRidVec, tRidRef) = twins("pos", posAgg: _*)(withPos = true)
      // EQUALITY-mask read curve: the write-amplification section's mor
      // table carries eqdelete masks; the vectorized read probes the
      // folded keys per batch where the reference pays a broadcast join
      val (tEqVec, tEqRef) = twins("mor", vAgg: _*)(withPos = false)
      // ROW-ID + EQUALITY composed curve: the source scan of every
      // vanilla-session DML on an upsert-ingest table
      val (tEqRidVec, tEqRidRef) = twins("mor", posAgg: _*)(withPos = true)
      // r9: CDC apply-rate curve — a ~constant-size (~100k-row)
      // update-dominated delta drained through the STREAMING upsert sink
      // against the ×k table. The apply path costs O(delta + file
      // metadata), never O(table), so the measured rate should hold
      // ~flat while the standing table grows ×10 — the wall-clock twin
      // of the write-amplification rows-written curve above.
      val applyTbl = s"$tfBase/apply"
      val seed = state.select(col("id"), col("v"),
        lit(0L).as("ord"), lit(false).as("is_del"))
      SnapshotLog.commit(spark, applyTbl, "append",
        SnapshotLog.writeData(seed.repartitionByRange(32, col("id")), applyTbl,
          statsCol = Some("id")))
      val stepA = math.max(1L, nState / 100000)
      // modulus must be COPRIME to the id's 100-multiplier or the
      // selection collapses onto l_linenumber (see Bench's probe)
      var applyMod = stepA * 7 + 1
      while (BigInt(applyMod).gcd(BigInt(100)) != 1) applyMod += 1
      val applySrc = s"$tfBase/apply_in"
      seed.filter(pmod(col("id"), lit(applyMod)) < 7)
        .select(col("id"), (col("v") * 2).as("v"), lit(1L).as("ord"),
          (pmod(col("id"), lit(63)) === 0).as("is_del"))
        .write.mode("overwrite").parquet(applySrc)
      val applyIn = spark.read.parquet(applySrc)
      val (nApply, applySchema) = (applyIn.count(), applyIn.schema)
      // min-of-3 (r10): the r9 single-sample ×10 reading dipped 1.7×
      // inside this host's hypervisor-steal band; the min over three
      // fresh-checkpoint drains of the SAME delta is the steal-robust
      // estimator of the apply path's actual cost (each drain is a full
      // re-apply — mask files accrue, which only biases AGAINST the
      // flat-curve claim)
      val tApply = (0 until 3).map { i =>
        val (_, t) = timed(graft.stream.StreamSync.upsertSink(
          spark.readStream.schema(applySchema).parquet(applySrc),
          applyTbl, s"$tfBase/apply_chk$i", keyCol = "id", orderCol = "ord",
          deleteCol = Some("is_del")))
        settle(); t
      }.min
      // r10: CDF tail curve — a readChangeFeed stream started after the
      // seed drains the three rowdelta commits' ROW-LEVEL events (the
      // read-side twin of the apply curve). The feed reads O(delta
      // events + ranged manifests), never the standing table, so the
      // drain should hold ~flat while the table grows ×10.
      val (nCdf, tCdf) = {
        val out = s"$tfBase/cdf_out"
        val (_, t) = timed {
          val q = spark.readStream.format("graft")
            .option("readChangeFeed", "true").option("startingVersion", "1")
            .load(applyTbl)
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", s"$tfBase/cdf_chk")
            .start()
          try q.processAllAvailable() finally q.stop()
        }
        settle(); (spark.read.parquet(out).count(), t)
      }
      // r13: CDF PRE-IMAGE curve (the one r12 perf claim left uncurved):
      // drain the same three rowdelta commits as update_preimage /
      // update_postimage pairs — each commit resolves its delta keys'
      // pre-images against its PARENT state (prune → mask-apply →
      // semi-join, zone∧bloom-bounded). The claim this measures: the
      // per-commit driver probe jobs cost O(delta keys), so the wall
      // stays ~flat while the standing table grows ×10 — events/s is
      // the amortized rate the graded conn_cdf_preimages constant
      // buys at size.
      val (nPre, tPre) = timed(
        SnapshotLog.changes(spark, applyTbl, 1L, None, preImages = true)
          .get.count()); settle()
      // r9: bloom point-lookup curve — one snapshot of ~constant-size
      // ingest-ordered files (≈2k keys/file, the 4 KB manifest bloom's
      // design point), every file spanning the whole key space via the
      // id%S round-robin. Zone maps are blind by construction (every
      // file's [min,max] covers any key), so zone-kept grows ~linearly
      // with the corpus; the per-file blooms keep the point lookup at
      // ~1 file + a few false positives REGARDLESS of corpus size.
      val nFiles = math.max(8, (nState / 2000).toInt)
      val blDir = s"$tfBase/bloomidx"
      SnapshotLog.commit(spark, blDir, "append",
        SnapshotLog.writeData(state.repartition(nFiles), // round-robin: every
          blDir, statsCol = Some("id"), bloomCol = Some("id"))) // file spans the range
      // probe an INTERIOR key (median of one file ≈ global median under the
      // cyclic distribution, and an actually-present id): extremal keys are
      // trivially zone-selective and would hide the blindness being measured
      val probeKey = spark.read
        .parquet(SnapshotLog.filesAt(spark, blDir).head.path)
        .agg(expr("percentile_approx(id, 0.5, 1000)")).head().getLong(0)
      val (zoneKept, _) = SnapshotLog.pruneCounts(spark, blDir,
        graft.table.Constraints(ranges = Map("id" -> (probeKey, probeKey))))
      val (bloomKept, _) = SnapshotLog.pruneCounts(spark, blDir,
        graft.table.Constraints.in("id", probeKey))
      // r10: checkpointed-log curve — one tiny append against the table
      // whose live set is nFiles (+1 from the bloom commit, grows ×k).
      // Under the v1 self-contained format the new manifest serialized
      // the FULL live list (bytes ∝ nFiles); under v2 delta manifests
      // its bytes are O(delta) and must stay ~flat across ×1/×5/×10.
      // Resolution (filesAt) folds from the nearest checkpoint anchor —
      // its cost term is the live SET itself (the output), never the
      // history length.
      val (ckptId, _) = timed(SnapshotLog.commit(spark, blDir, "append",
        SnapshotLog.writeData(state.limit(16).coalesce(1), blDir,
          statsCol = Some("id"))))
      val manifestBytes = new java.io.File(
        f"$blDir/_graft_log/$ckptId%020d.json").length()
      val (_, tCkptJson) = timed(SnapshotLog.writeCheckpoint(spark, blDir, ckptId))
      // the r11 memo would otherwise hand these probes a cache hit (the
      // checkpoint write itself resolves the live set): clear it so the
      // timing is the genuinely COLD anchor-plus-delta fold it claims
      SnapshotLog.clearResolveCache()
      val (liveN, tResolve) = timed(SnapshotLog.filesAt(spark, blDir).size)
      // r11: the PARQUET checkpoint form (threshold forced to 0 so the
      // fixture-scale live set exercises it) — write the same live set
      // as distributed parquet rows at the next id, then cold-resolve
      // through that anchor. The walls carry the flat-per-core claim:
      // both the encode and the decode are Spark jobs over one row per
      // live file, so growing the live set ×10 widens the job instead
      // of a single-threaded JSON parse.
      val (ckptId2, _) = timed(SnapshotLog.commit(spark, blDir, "append",
        SnapshotLog.writeData(state.limit(16).coalesce(1), blDir,
          statsCol = Some("id"))))
      spark.conf.set("graft.checkpoint.parquetThreshold", "0")
      val (_, tCkptPq) =
        try timed(SnapshotLog.writeCheckpoint(spark, blDir, ckptId2))
        finally spark.conf.unset("graft.checkpoint.parquetThreshold")
      SnapshotLog.clearResolveCache() // cold decode, not a memo hit
      val (liveN2, tResolvePq) = timed(
        SnapshotLog.filesAt(spark, blDir, Some(ckptId2)).size)
      require(liveN2 == liveN + 1, s"parquet anchor resolved $liveN2 files")
      // r10: the same point lookup through the CONNECTOR face — the
      // planned parquet scan's file count must track bloom_kept (~flat
      // while the table grows ×k), proving the manifest pruning engages
      // inside Spark's own planner, not only in the Scala read API
      val connQ = spark.read.format("graft").load(blDir)
        .filter(col("id") === probeKey)
      // execute THIS frame (count() would plan a separate execution and
      // leave connQ's own metrics at zero)
      val (_, tConn) = timed(connQ.collect().length)
      val connFiles = {
        import org.apache.spark.sql.execution.FileSourceScanExec
        import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
        val p = connQ.queryExecution.executedPlan
        val eff = p.collectFirst { case a: AdaptiveSparkPlanExec => a.executedPlan }
          .getOrElse(p)
        eff.collectFirst { case f: FileSourceScanExec =>
          f.metrics("numFiles").value }.getOrElse(-1L)
      }
      // r10: SQL-DML curve — the same ~2k-rows-per-file range-clustered
      // layout, live file count growing ×k with the table. A DELETE of a
      // CONSTANT-footprint key band must touch a ~constant file count
      // (zone pruning) and cost ~flat wall time while the table grows
      // ×10; an insert-only MERGE of brand-new keys must touch ZERO
      // files (bloom/zone proves absence) and cost O(inserts). Together:
      // SQL DML cost ∝ predicate/source footprint, never table size.
      val dmlDir = s"$tfBase/dml"
      SnapshotLog.commit(spark, dmlDir, "append",
        SnapshotLog.writeData(state.repartitionByRange(nFiles, col("id")),
          dmlDir, statsCol = Some("id")))
      // EXACT constant-row band: median start, then the 4000th id after
      // it (percentile_approx cannot resolve a 4000/nState fraction at
      // ×10 and the band would silently widen with the table)
      val bandLo = state.agg(expr("percentile_approx(id, 0.5, 1000)"))
        .head().getLong(0)
      val bandHi = state.filter(col("id") >= bandLo).sort(col("id"))
        .limit(4000).agg(max(col("id"))).head().getLong(0) + 1
      spark.sql(s"CREATE TABLE scale_dml_x$k USING graft OPTIONS (path '$dmlDir')")
      val (_, tSqlDel) = timed(spark.sql(
        s"DELETE FROM scale_dml_x$k WHERE id >= $bandLo AND id < $bandHi")); settle()
      val delC = SnapshotLog.commits(spark, dmlDir).last
      val maxId = state.agg(max(col("id"))).head().getLong(0)
      spark.range(2000).select((col("id") + maxId + 1000L).as("id"),
        lit(0.0).as("v")).createOrReplaceTempView(s"scale_dml_src_x$k")
      val (_, tSqlIns) = timed(spark.sql(
        s"""MERGE INTO scale_dml_x$k t USING scale_dml_src_x$k s ON t.id = s.id
           |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin))
      settle()
      val insC = SnapshotLog.commits(spark, dmlDir).last
      spark.sql(s"DROP TABLE scale_dml_x$k")
      // r11: file-level metadata DELETE curve — a predicate covering a
      // GROWING number of whole files (everything below the median) must
      // drop them from the manifest without reading them: dropped-file
      // count grows ×k while wall time stays ~flat (one boundary file
      // rewrites; the interior is metadata)
      spark.sql(s"CREATE TABLE scale_mdel_x$k USING graft OPTIONS (path '$dmlDir')")
      val (_, tMetaDel) = timed(spark.sql(
        s"DELETE FROM scale_mdel_x$k WHERE id < $bandLo"))
      settle()
      val mdelC = SnapshotLog.commits(spark, dmlDir).last
      spark.sql(s"DROP TABLE scale_mdel_x$k")
      // r13: storage-partitioned-join curve — two co-bucketed tables of
      // the ×k keyed state joined on the bucket column, measured with
      // SPJ reporting ON (zero exchange — the ConnectorV2Spec plan pin)
      // vs OFF (two full shuffles). The saving should GROW with the
      // table: the shuffled join moves ×k rows twice, the SPJ join
      // moves none.
      // (walls at fixture scale are ~comparable — local in-memory
      // shuffle is nearly free; the measured CLAIM is the shuffle BYTES
      // the SPJ plan never writes, which at 100 TB is the whole fact
      // crossing the network twice)
      val spjProbe = {
        val (aDir, bDir) = (s"$tfBase/spj_a", s"$tfBase/spj_b")
        state.write.format("graft").option("bucketBy", "16,id").save(aDir)
        state.select(col("id"), (col("v") * 2).as("w"))
          .write.format("graft").option("bucketBy", "16,id").save(bDir)
        val cat = s"gscale_spj_x$k"
        spark.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.connector.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tfBase)
        val prevB = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
        val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val shuffled = new java.util.concurrent.atomic.AtomicLong(0L)
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null)
              shuffled.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
        spark.sparkContext.addSparkListener(listener)
        def joinOnce(): (Long, Long, Double) = {
          shuffled.set(0L)
          val (n, t) = timed(spark.sql(
            s"""SELECT count(*) AS n FROM $cat.spj_a a
               |JOIN $cat.spj_b b ON a.id = b.id""".stripMargin)
            .head().getLong(0))
          Thread.sleep(800) // listener events drain asynchronously
          (n, shuffled.get(), t)
        }
        try {
          spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          val (nSpj, bSpj, tSpj) = joinOnce(); settle()
          spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
          val (nShuf, bShuf, tShuf) = joinOnce(); settle()
          require(nSpj == nShuf && nSpj >= nState,
            s"SPJ join must equal the shuffled join: $nSpj vs $nShuf " +
              s"(state rows $nState)")
          // r15: the same co-located join AFTER positional deletes land
          // on both sides — the merge-on-read state between compactions.
          // Key-grouped reporting must hold (masks never change bucket
          // membership): shuffle bytes stay ~zero while the shuffled
          // twin's keep growing ×k, and both see the same masked rows.
          graft.table.Merge.deleteWhere(spark, aDir, pmod(col("id"), lit(9)) === 4)
          graft.table.Merge.deleteWhere(spark, bDir, pmod(col("id"), lit(11)) === 5)
          spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          // first masked plan pays the ONE-TIME mask-load shuffle
          // (memoized per snapshot); the steady-state join traffic is
          // the SECOND run's bytes
          joinOnce(); settle()
          val (nSpjM, bSpjM, tSpjM) = joinOnce(); settle()
          spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
          val (nShufM, bShufM, tShufM) = joinOnce(); settle()
          require(nSpjM == nShufM && nSpjM < nSpj,
            s"masked SPJ join must equal its shuffled twin and shrink: " +
              s"$nSpjM vs $nShufM (clean $nSpj)")
          // r15 pass 2: EQUALITY masks on top of the positional state —
          // the upsert-ingest shape. Key-grouped reporting must hold
          // (eq-deletes remove rows, never move them between buckets);
          // pos + eq masks compose in the bucketed reader, and the
          // steady-state (fold-memoized) SPJ traffic stays ~zero while
          // the shuffled twin keeps moving the whole table.
          graft.table.Merge.mergeOnRead(spark, aDir,
            state.filter(pmod(col("id"), lit(13)) === 6)
              .withColumn("_del", lit(true)), "id", deleteCol = Some("_del"))
          spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          joinOnce(); settle() // one-time eq fold, memoized per snapshot
          val (nSpjE, bSpjE, tSpjE) = joinOnce(); settle()
          spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
          val (nShufE, bShufE, tShufE) = joinOnce(); settle()
          require(nSpjE == nShufE && nSpjE < nSpjM,
            s"eq-masked SPJ join must equal its shuffled twin and shrink: " +
              s"$nSpjE vs $nShufE (pos-masked $nSpjM)")
          (bSpj, tSpj, bShuf, tShuf, bSpjM, tSpjM, bShufM, tShufM,
            bSpjE, tSpjE, bShufE, tShufE)
        } finally {
          spark.sparkContext.removeSparkListener(listener)
          prevB.fold(spark.conf.unset("spark.sql.sources.v2.bucketing.enabled"))(
            spark.conf.set("spark.sql.sources.v2.bucketing.enabled", _))
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
        }
      }
      // r15: write READ-BACK curve — the V1 writeData path re-reads
      // every byte it just wrote to aggregate manifest stats (a second
      // IO pass ∝ data written), while the real V2 write computes stats
      // INLINE in the writing task. Measured as task input bytes during
      // each write of the SAME ×k frame — the V1 number grows ×k
      // (minus source-read bytes, identical in both), the V2 one reads
      // the source alone. At 100 TB the difference is the write's IO
      // halving.
      val writeProbe = {
        val readBytes = new java.util.concurrent.atomic.AtomicLong(0L)
        val rlistener = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null)
              readBytes.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
        }
        spark.sparkContext.addSparkListener(rlistener)
        def measured[A](f: => A): (Long, Double) = {
          readBytes.set(0L)
          val (_, t) = timed(f)
          Thread.sleep(800) // listener events drain asynchronously
          (readBytes.get(), t)
        }
        try {
          // full metadata surface (two zone columns + a bloom): the V1
          // read-back pass prunes to exactly these columns, so a
          // single-column declaration would understate it
          val (v1B, v1T) = measured {
            state.write.format("graft").option("statsCols", "id,v")
              .option("bloomCol", "id").save(s"$tfBase/w_v1")
          }
          val wcat = s"gsc_w_x$k"
          spark.conf.set(s"spark.sql.catalog.$wcat",
            classOf[graft.connector.GraftCatalog].getName)
          spark.conf.set(s"spark.sql.catalog.$wcat.warehouse", tfBase)
          spark.sql(s"CREATE TABLE $wcat.w_v2 (id BIGINT, v DOUBLE) " +
            "TBLPROPERTIES ('statsCols' = 'id,v', 'bloomCol' = 'id')")
          state.createOrReplaceTempView(s"gsc_w_src_x$k")
          val (v2B, v2T) = measured {
            spark.sql(s"INSERT INTO $wcat.w_v2 SELECT id, v FROM gsc_w_src_x$k")
          }
          require(spark.sql(s"SELECT count(*) FROM $wcat.w_v2")
            .head.getLong(0) == nState, "real V2 write row-count parity")
          (v1B, v1T, v2B, v2T)
        } finally spark.sparkContext.removeSparkListener(rlistener)
      }
      // r11: OCC rebase curve — a pinned replace that loses its id race
      // to j interleaved appends must rebase in O(j) MANIFEST reads:
      // wall time ~flat while the table (live rows and files) grows ×k,
      // and grows only with the interleave count. Staging cost is
      // excluded — the probe times exactly the lost-race path
      // (commitPinned: miss, read j manifests, classify, re-commit).
      val occTimes = Seq(1, 8).map { j =>
        val occBase = SnapshotLog.currentSnapshotId(spark, dmlDir).get
        val occLive = SnapshotLog.filesAt(spark, dmlDir)
          .filter(_.kind == "data").sortBy(_.bytes).take(2)
        val occStaged = SnapshotLog.writeData(
          SnapshotLog.readEpochSafe(spark, occLive).repartition(1),
          dmlDir, statsCol = Some("id"))
        for (i <- 0 until j) // the interleaves that steal the pinned id
          SnapshotLog.commit(spark, dmlDir, "append",
            SnapshotLog.writeData(
              spark.range(i, i + 1).select((col("id") - 1000000L).as("id"),
                lit(-1.0).as("v")), dmlDir, statsCol = Some("id")))
        val (_, tOcc) = timed(SnapshotLog.commitPinned(spark, dmlDir, occBase,
          "replace", occStaged, occLive.map(_.path), Map("table" -> "occ")))
        j -> tOcc
      }.toMap
      def s(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      println(s"SCALE x$k docs=$nDocs " +
        s"minhash_cand=$nCand/${s(tCand)}s simhash_pairs=$nSim/${s(tSim)}s " +
        s"exact=$nEx/${s(tEx)}s keepers=$nKeep/${s(tKeep)}s ivf_topk=${s(tIvf)}s " +
        s"incremental_dups=$nInc/${s(tInc)}s " +
        s"containment=$nCont/${s(tCont)}s bm25_topk=${s(tBm25)}s " +
        s"skew_hot_rows=$nHot skew_join_aqe=${s(tSkew)}s " +
        s"state_rows=$nState cow_touched=${cowRes.filesTouched}f/${cowRes.rowsWritten}rw/${s(tCow)}s " +
        s"mor_masks=${morRes.deleteEntries}/${morRes.rowsWritten}rw/${s(tMor)}s " +
        s"mor_read=${s(tMorRead)}s " +
        s"pos_delete=${posMasks.map(_.rows).sum}pos/0rw/${s(tPosDel)}s " +
        s"pos_read=${s(tPosRead)}s " +
        s"mask_debt=$posDebt v2_masked_vec=${s(tVecRead)}s " +
        s"v2_masked_mor=${s(tRefRead)}s " +
        s"rowid_vec=${s(tRidVec)}s rowid_mor=${s(tRidRef)}s " +
        s"eq_vec=${s(tEqVec)}s eq_mor=${s(tEqRef)}s " +
        s"eq_rowid_vec=${s(tEqRidVec)}s eq_rowid_mor=${s(tEqRidRef)}s " +
        s"apply=$nApply/${s(tApply)}s cdf_tail=$nCdf/${s(tCdf)}s " +
        s"cdf_preimages=$nPre/${s(tPre)}s " +
        s"bloom_files=$nFiles zone_kept=$zoneKept bloom_kept=$bloomKept " +
        s"log_manifest_bytes=$manifestBytes log_live_files=$liveN " +
        s"log_resolve=${s(tResolve)}s ckpt_json=${s(tCkptJson)}s " +
        s"ckpt_parquet=${s(tCkptPq)}s resolve_parquet=${s(tResolvePq)}s " +
        s"conn_scan_files=$connFiles conn_lookup=${s(tConn)}s " +
        s"sql_delete=${delC.summary("files_touched")}f/" +
        s"${delC.summary("rows_deleted")}rd/${s(tSqlDel)}s " +
        s"sql_insmerge=${insC.summary("files_touched")}f/${s(tSqlIns)}s " +
        s"meta_delete=${mdelC.summary("files_dropped_metadata")}dropped/" +
        s"${mdelC.summary("files_touched")}f/" +
        s"${mdelC.summary("rows_deleted")}rd/${s(tMetaDel)}s " +
        s"occ_rebase_j1=${s(occTimes(1))}s occ_rebase_j8=${s(occTimes(8))}s " +
        s"spj_join=${spjProbe._1}B/${s(spjProbe._2)}s " +
        s"shuffled_join=${spjProbe._3}B/${s(spjProbe._4)}s " +
        s"spj_mor_join=${spjProbe._5}B/${s(spjProbe._6)}s " +
        s"shuffled_mor_join=${spjProbe._7}B/${s(spjProbe._8)}s " +
        s"spj_eq_join=${spjProbe._9}B/${s(spjProbe._10)}s " +
        s"shuffled_eq_join=${spjProbe._11}B/${s(spjProbe._12)}s " +
        s"v1_write_read=${writeProbe._1}B/${s(writeProbe._2)}s " +
        s"v2_write_read=${writeProbe._3}B/${s(writeProbe._4)}s")
    }
    spark.stop()
  }
}
