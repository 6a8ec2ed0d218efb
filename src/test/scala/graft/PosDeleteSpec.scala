package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.{Constraints, Merge, SnapshotLog}

/** POSITIONAL deletion vectors ([[Merge.deleteWhere]] — the Iceberg
  * position-delete / Delta deletion-vector school): a predicate DELETE
  * commits (file path, row ordinal) pairs as a `posdelete` mask — zero
  * data files rewritten — and masked scans anti-join on scan METADATA
  * instead of reading key columns. Pins: exact read-back, composition
  * with equality masks and the pruned read faces, full-payload feed
  * events in both CDF modes, materialization, and the COW-refusal +
  * OCC guards that keep positions from ever pointing at dead files. */
class PosDeleteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local("4", "posdelete-spec")

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-posdel-$tag").toString + "/t"

  /** Two appends of 1000 rows each — a wide-ish row with a composite
    * natural key (id, k2), the shape whose equality masks would pay
    * key-column reads on every scan. */
  private def seed(tag: String): String = {
    val dir = tmp(tag)
    def rows(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id"), (col("id") % 10).as("k2"),
        concat(lit("p"), col("id")).as("payload"), (col("id") * 2).as("v"))
    rows(0, 1000).coalesce(2).write.format("graft")
      .option("statsCols", "id").save(dir)
    rows(1000, 2000).coalesce(2).write.format("graft").mode("append")
      .option("statsCols", "id").save(dir)
    dir
  }

  test("deleteWhere masks positions: zero rewrites, exact read-back") {
    val dir = seed("basic")
    val before = SnapshotLog.filesAt(spark, dir)
      .filter(_.kind == "data").map(_.path).toSet
    assert(Merge.deleteWhere(spark, dir, col("id") % 100 === 7).contains(3L))
    val after = SnapshotLog.filesAt(spark, dir)
    assert(after.filter(_.kind == "data").map(_.path).toSet === before,
      "a positional delete must rewrite no data file")
    assert(after.filter(_.kind == "posdelete").map(_.rows).sum === 20)
    val got = spark.read.format("graft").load(dir)
    assert(got.count() === 1980)
    assert(got.filter(col("id") % 100 === 7).count() === 0)
    assert(got.filter(col("id") === 107).count() === 0)
    // payload of a surviving neighbor is untouched
    assert(got.filter(col("id") === 108).head.getString(2) === "p108")
    // nothing matched -> no commit at all
    assert(Merge.deleteWhere(spark, dir, col("id") === -1).isEmpty)
    assert(SnapshotLog.currentSnapshotId(spark, dir).contains(3L))
    // time travel to the pre-delete snapshot still sees every row
    assert(SnapshotLog.read(spark, dir, asOf = Some(2)).get.count() === 2000)
    // manifest zone pruning bounds the locating scan
    assert(Merge.deleteWhere(spark, dir, col("id") === 1500,
      ranges = Map("id" -> (1500L, 1500L))).contains(4L))
    assert(spark.read.format("graft").load(dir).count() === 1979)
  }

  test("positional and equality masks compose; pruned read faces apply both") {
    val dir = seed("mixed")
    // an equality mask from a merge-on-read upsert...
    def rows(lo: Long, hi: Long) = spark.range(lo, hi)
      .select(col("id"), (col("id") % 10).as("k2"),
        concat(lit("q"), col("id")).as("payload"), (col("id") * 3).as("v"))
    Merge.mergeOnRead(spark, dir, rows(500, 510), "id")
    // ...then a positional delete over the masked table
    assert(Merge.deleteWhere(spark, dir, col("id") >= 1990).isDefined)
    val got = spark.read.format("graft").load(dir)
    assert(got.count() === 1990)
    assert(got.filter(col("id") === 505).head.getString(2) === "q505",
      "the MOR upsert's new version must win")
    assert(got.filter(col("id") >= 1990).count() === 0)
    // the pruned point/range faces apply both mask kinds too
    assert(SnapshotLog.readPruned(spark, dir, Constraints.in("id", 1995L)).get
      .filter(col("id") === 1995).count() === 0)
    assert(SnapshotLog.readPruned(spark, dir, Constraints.in("id", 505L)).get
      .filter(col("id") === 505).head.getString(2) === "q505")
    assert(SnapshotLog.readPruned(spark, dir,
        Constraints(ranges = Map("id" -> (1980L, 2010L)))).get
      .filter(col("id").between(1980, 2010)).count() === 10)
  }

  test("changes() derives FULL-PAYLOAD delete events from positions, both modes") {
    val dir = seed("feed")
    Merge.deleteWhere(spark, dir, col("id") < 5)
    for (pre <- Seq(false, true)) {
      val feed = SnapshotLog.changes(spark, dir, from = 2L, preImages = pre).get
      val dels = feed.filter(col("_change_op") === "delete")
      assert(dels.count() === 5, s"preImages=$pre")
      val payloads = dels.select(col("payload")).collect()
        .map(_.getString(0)).sorted
      assert(payloads === Array("p0", "p1", "p2", "p3", "p4"),
        s"preImages=$pre: delete events must carry the deleted values")
      assert(dels.select(col("_change_snapshot")).distinct().head.getLong(0) === 3L)
    }
  }

  test("materializeDeletes folds positions in; COW merge refuses pending masks") {
    val dir = seed("mat")
    Merge.deleteWhere(spark, dir, col("id") % 2 === 0)
    // a COW rewrite would remove the targeted files — positions would
    // dangle, deleted rows resurrect; refused loudly
    val e = intercept[IllegalArgumentException] {
      Merge.upsert(spark, dir,
        spark.range(0, 1).select(col("id"), (col("id") % 10).as("k2"),
          lit("x").as("payload"), lit(0L).as("v")), "id")
    }
    assert(e.getMessage.contains("pending delete mask"))
    assert(Merge.materializeDeletes(spark, dir).isDefined)
    val after = SnapshotLog.filesAt(spark, dir)
    assert(!after.exists(SnapshotLog.isMask), "masks folded in and retired")
    val got = spark.read.format("graft").load(dir)
    assert(got.count() === 1000)
    assert(got.filter(col("id") % 2 === 0).count() === 0)
    assert(got.filter(col("id") === 1).head.getString(2) === "p1")
  }

  test("SQL DELETE on a posDeletes table commits deletion vectors, composes repeatedly") {
    val dir = seed("sqldv")
    spark.sql(s"CREATE TABLE posdv_t USING graft " +
      s"OPTIONS (path '$dir', posDeletes 'true')")
    try {
      spark.sql("DELETE FROM posdv_t WHERE id % 10 = 3")
      val c = SnapshotLog.commits(spark, dir).last
      assert(c.op === "rowdelta" && c.summary("mode") === "posdelete")
      assert(c.removed.isEmpty && c.added.forall(_.kind == "posdelete"),
        "a deletion-vector DELETE must rewrite nothing")
      assert(spark.sql("SELECT count(*) FROM posdv_t").head.getLong(0) === 1800)
      // a SECOND delete composes on the already-masked table — exactly
      // the case the copy-on-write path refuses (pending masks)
      spark.sql("DELETE FROM posdv_t WHERE id < 100")
      assert(spark.sql("SELECT count(*) FROM posdv_t").head.getLong(0) === 1710)
      // the non-DELETE DML posture is unchanged: rewrites refuse masks
      val e = intercept[Exception] {
        spark.sql("UPDATE posdv_t SET v = 0 WHERE id = 500") }
      assert(e.getMessage.contains("delete mask"))
      // OPTIMIZE materializes the vectors; everything is exact after
      spark.sql("OPTIMIZE posdv_t")
      assert(spark.sql("SELECT count(*) FROM posdv_t").head.getLong(0) === 1710)
      assert(spark.sql("SELECT count(*) FROM posdv_t WHERE id % 10 = 3")
        .head.getLong(0) === 0)
      spark.sql("UPDATE posdv_t SET v = 0 WHERE id = 500")
      assert(spark.sql("SELECT v FROM posdv_t WHERE id = 500")
        .head.getLong(0) === 0)
    } finally spark.sql("DROP TABLE posdv_t")
  }

  test("positions apply across SCHEMA EPOCHS: drifted files read through the merge") {
    // epoch 1: narrow schema; epoch 2: a widened/extra-column epoch —
    // the masked read must merge epochs through the Evolution lattice
    // WITH the scan-metadata columns attached per epoch group
    val dir = tmp("drift")
    spark.range(0, 100).select(col("id"), (col("id") % 7).cast("int").as("units"))
      .coalesce(1).write.format("graft").option("statsCols", "id").save(dir)
    spark.range(100, 200).select(col("id"), col("id").cast("long").as("units"),
        concat(lit("n"), col("id")).as("note"))
      .coalesce(1).write.format("graft").mode("append")
      .option("statsCols", "id").save(dir)
    // positions in BOTH epochs' files
    assert(Merge.deleteWhere(spark, dir, col("id") % 50 === 1).isDefined)
    val got = spark.read.format("graft").load(dir)
    assert(got.count() === 196) // ids 1, 51, 101, 151 gone
    assert(got.filter(col("id") % 50 === 1).count() === 0)
    // the drifted columns survive the masked merge intact
    assert(got.filter(col("id") === 150).head.getAs[String]("note") === "n150")
    assert(got.filter(col("id") === 2).schema("units").dataType ===
      org.apache.spark.sql.types.LongType)
    // and the feed derives full payloads from both epochs' positions
    val feed = SnapshotLog.changes(spark, dir, from = 2L).get
      .filter(col("_change_op") === "delete")
    assert(feed.count() === 4)
    assert(feed.filter(col("id") === 151).head.getAs[String]("note") === "n151")
  }

  test("soak: deletion vectors race live appends — rebases, no losses, no resurrection") {
    val dir = seed("soak")
    @volatile var appenderErr: Option[Throwable] = None
    val appended = new java.util.concurrent.atomic.AtomicLong(0L)
    val appender = new Thread(() => {
      try {
        for (i <- 0 until 10) {
          spark.range(100000L + i * 10, 100000L + i * 10 + 10)
            .select(col("id"), (col("id") % 10).as("k2"),
              concat(lit("a"), col("id")).as("payload"), (col("id") * 2).as("v"))
            .coalesce(1).write.format("graft").mode("append")
            .option("statsCols", "id").save(dir)
          appended.addAndGet(10)
        }
      } catch { case t: Throwable => appenderErr = Some(t) }
    })
    appender.start()
    var rebases = 0
    try {
      // ranged deletes of single low keys: every interleaved append's
      // zone (1e5+) is provably outside the range, so lost races REBASE
      for (k <- 0 until 10) {
        val id = Merge.deleteWhere(spark, dir, col("id") === k * 7,
          ranges = Map("id" -> (k * 7L, k * 7L)))
        assert(id.isDefined, s"key ${k * 7} must exist and delete")
      }
      rebases = SnapshotLog.commits(spark, dir)
        .count(_.summary.contains("rebased_from"))
    } finally appender.join()
    assert(appenderErr.isEmpty, s"appender failed: $appenderErr")
    val got = spark.read.format("graft").load(dir)
    assert(got.count() === 2000 - 10 + appended.get())
    assert(got.filter(col("id") % 7 === 0 && col("id") < 64).count() === 0)
    assert(got.filter(col("id") >= 100000L).count() === appended.get(),
      "no appended row may be lost to a delete rebase")
    info(s"soak observed $rebases rebased commit(s)")
  }

  test("OCC: an interleaved append of possibly-matching rows aborts the rebase") {
    val dir = seed("occ")
    // stage the locating scan's inputs by hand: pin, interleave, commit —
    // the guard deleteWhere hands commitPinned must classify the append
    // as ConcurrentAppend (rows it should have deleted)
    val baseId = SnapshotLog.currentSnapshotId(spark, dir).get
    val candidates = SnapshotLog.filesAt(spark, dir, Some(baseId))
      .filter(_.kind == "data")
    val raw = spark.range(0, 10).select(col("id"), (col("id") % 10).as("k2"),
      lit("z").as("payload"), lit(9L).as("v"))
    raw.coalesce(1).write.format("graft").mode("append")
      .option("statsCols", "id").save(dir) // interleave
    val masks = SnapshotLog.writeData(
      spark.range(0, 3).select(lit("file:///nonexistent").as(SnapshotLog.PosFileCol),
        col("id").as(SnapshotLog.PosOrdCol)).coalesce(1),
      dir, kind = "posdelete", rawPhysical = true)
    val ex = intercept[SnapshotLog.ConcurrentCommitException] {
      SnapshotLog.commitPinned(spark, dir, baseId, "rowdelta", masks,
        removed = Seq.empty, summary = Map("mode" -> "posdelete"),
        guard = SnapshotLog.ConflictGuard(
          mayReadAdded = Some(fs => fs),
          readPaths = candidates.map(_.path).toSet,
          masksOnly = true))
    }
    assert(ex.getMessage.contains("may hold rows"))
    // an interleaved MASK-ONLY commit (another writer's all-tombstone
    // rowdelta — the streaming-sink race) COMPOSES: positions are
    // untouched by someone else's masks, so the lost race rebases
    val dir2 = seed("occ2")
    val base2 = SnapshotLog.currentSnapshotId(spark, dir2).get
    val cand2 = SnapshotLog.filesAt(spark, dir2, Some(base2))
      .filter(_.kind == "data")
    val hits2 = SnapshotLog.readEpochSafeWithPos(spark, cand2)
      .filter(col("id") === 1999)
      .select(col(SnapshotLog.PosFileCol), col(SnapshotLog.PosOrdCol))
    val masks2 = SnapshotLog.writeData(hits2.coalesce(1), dir2,
      kind = "posdelete", rawPhysical = true)
    Merge.mergeOnRead(spark, dir2, // interleave: tombstones only, no data
      spark.range(10, 12).select(col("id"), lit(true).as("del")),
      "id", deleteCol = Some("del"))
    val id2 = SnapshotLog.commitPinned(spark, dir2, base2, "rowdelta",
      masks2, removed = Seq.empty, summary = Map("mode" -> "posdelete"),
      guard = SnapshotLog.ConflictGuard(
        mayReadAdded = Some(fs => fs),
        readPaths = cand2.map(_.path).toSet,
        masksOnly = true))
    assert(id2 === base2 + 2, "a mask-only interleave must rebase, not abort")
    val got2 = spark.read.format("graft").load(dir2)
    assert(got2.filter(col("id") === 1999).count() === 0)
    assert(got2.filter(col("id").isin(10, 11)).count() === 0)
    assert(got2.count() === 1997)
  }
}
