package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.GlobalRank

/** Pins the r15 distributed-rank machinery (the scale-safe replacement
  * for no-partition WindowExec sorts): rank integrity, ntile equality
  * against Spark's own window NTile on the same total order, and the
  * exact-percentile selection's bit-identity against the builtin
  * `percentile` aggregate.
  */
class RankSpec extends AnyFunSuite {
  lazy val spark = Sessions.local("4", "rank-spec")
  val sf = "/root/testdata/sf0.001"

  /** `body` with every size switch forced onto its distributed shape. */
  private def forcedDistributed[T](body: => T): T = {
    val prev = spark.conf.getOption("graft.rank.distributedMinBytes")
    spark.conf.set("graft.rank.distributedMinBytes", "0")
    try body
    finally prev.fold(spark.conf.unset("graft.rank.distributedMinBytes"))(
      v => spark.conf.set("graft.rank.distributedMinBytes", v))
  }

  test("ranked assigns a dense 0-based global rank in ord order") {
    val df = spark.range(5000).select(
      (col("id") * 2654435761L % 100003L).as("k"), col("id"))
    val r = GlobalRank.ranked(df, Seq(col("k"), col("id")), 7)
    val chk = r.agg(count(lit(1)), countDistinct(col("_rank")),
      min(col("_rank")), max(col("_rank")), max(col("_n"))).collect()(0)
    assert(chk.getLong(0) == 5000L)
    assert(chk.getLong(1) == 5000L) // dense: no gaps, no duplicates
    assert(chk.getLong(2) == 0L && chk.getLong(3) == 4999L)
    assert(chk.getLong(4) == 5000L)
    // rank order IS ord order: rank 0 carries the smallest key
    val viaRank = r.orderBy(col("_rank")).select(col("k")).limit(3)
      .collect().map(_.getLong(0)).toSeq
    val viaSort = df.orderBy(col("k"), col("id")).select(col("k")).limit(3)
      .collect().map(_.getLong(0)).toSeq
    assert(viaRank == viaSort)
  }

  test("ntileRanked equals window ntile on the same total order") {
    for (n <- Seq(7, 64, 6000)) { // remainder path, even path, n > N path
      val df = spark.range(4999).select(
        (col("id") * 40503L % 65521L).as("k"), col("id"))
      val dist = GlobalRank.ntileRanked(df, Seq(col("k"), col("id")), n, 7)
        .select(col("id"), col("file_id").cast("int").as("b"))
      val win = df.select(col("id"),
        ntile(n).over(Window.orderBy(col("k"), col("id"))).as("b"))
      assert(dist.exceptAll(win).isEmpty && win.exceptAll(dist).isEmpty,
        s"ntile($n) mismatch between distributed and window assignment")
    }
  }

  test("exactPercentiles matches the builtin percentile bit-for-bit") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_extendedprice").cast("double").as("v"))
    val qs = Seq(0.25, 0.5, 0.75, 0.95)
    val got = GlobalRank.exactPercentiles(li, col("v"), qs, 7).collect()(0)
    val ref = li.agg(expr("percentile(v, array(0.25, 0.5, 0.75, 0.95))"))
      .collect()(0).getSeq[Double](0)
    qs.indices.foreach { i =>
      assert(java.lang.Double.doubleToLongBits(got.getDouble(i)) ==
        java.lang.Double.doubleToLongBits(ref(i)),
        s"q=${qs(i)}: got ${got.getDouble(i)} want ${ref(i)}")
    }
    // interpolation edge: tiny frames where floor(pos) == ceil(pos)
    // for some q and the two boundary values coincide for others
    val tiny = spark.range(5).select((col("id") % 3).cast("double").as("v"))
    val g2 = GlobalRank.exactPercentiles(tiny, col("v"), qs, 3).collect()(0)
    val r2 = tiny.agg(expr("percentile(v, array(0.25, 0.5, 0.75, 0.95))"))
      .collect()(0).getSeq[Double](0)
    qs.indices.foreach { i =>
      assert(java.lang.Double.doubleToLongBits(g2.getDouble(i)) ==
        java.lang.Double.doubleToLongBits(r2(i)))
    }
  }

  test("zorder layout stats agree across the window and distributed paths") {
    val base = graft.llm.Curation.zorderLayout(spark, sf).collect().toSeq
    forcedDistributed {
      val dist = graft.llm.Curation.zorderLayout(spark, sf).collect().toSeq
      assert(dist == base)
    }
  }

  test("groupedCumSum equals the per-key window running sum") {
    // skewed keys (one key owns most rows), several partitions, values
    // with repeats — the exclusive prefix must match the window exactly
    val df = spark.range(5000).select(
      when(col("id") % 10 < 7, lit("big")).otherwise(
        concat(lit("k"), (col("id") % 3).cast("string"))).as("key"),
      col("id"), (col("id") % 13 + 1).as("v"))
    val dist = GlobalRank.groupedCumSum(df, "key", Seq(col("id")), col("v"), 7)
      .select(col("key"), col("id"), col("_cum"))
    val win = df.select(col("key"), col("id"),
      coalesce(sum(col("v")).over(Window.partitionBy(col("key"))
        .orderBy(col("id")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)).as("_cum"))
    assert(dist.exceptAll(win).isEmpty && win.exceptAll(dist).isEmpty,
      "grouped cumulative sum mismatch between distributed and window paths")
  }

  test("funnels agree across the collect-fold and chained paths") {
    val ops = graft.ops.Events
    val base = ops.funnel(spark, sf).collect().toSeq
    val baseW = ops.windowedFunnel(spark, sf).collect().toSeq
    forcedDistributed { // the chained funnel
      assert(ops.funnel(spark, sf).collect().toSeq == base)
      assert(ops.windowedFunnel(spark, sf).collect().toSeq == baseW)
    }
  }

  test("containment agrees across the checkpoint and members-only paths") {
    val base = graft.llm.Dedup.containment(spark, sf).collect().toSeq
    forcedDistributed { // the members-only path
      assert(graft.llm.Dedup.containment(spark, sf).collect().toSeq == base)
    }
  }

  /** A pair graph with a long path (ids permuted, so its minimum sits
    * mid-path and the pointer jump has work), isolated pairs and two
    * stars (one centred on its minimum, one not), read back from parquet
    * so the size switch sees real input bytes. */
  private def pairGraph(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-keepers").toString + "/p"
    pairs.toDF("doc_a", "doc_b").coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }
  private val pathIds = (0 until 64).map(i => 100L + (i * 37L + 20) % 64)
  private val fixture: Seq[(Long, Long)] =
    pathIds.zip(pathIds.tail) ++
      Seq((500L, 501L), (600L, 602L), (703L, 700L)) ++
      (901L to 910L).map(900L -> _) ++
      ((1001L to 1005L).map(1000L -> _) :+ (950L -> 1000L))

  private def keepers(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
  private def electedOnDriver(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  test("keeper election agrees across the driver and label-propagation paths") {
    import graft.llm.Dedup
    for (pairs <- Seq(fixture, Seq.empty[(Long, Long)])) {
      val g = pairGraph(pairs)
      val small = Dedup.keepersOf(g, g)
      assert(electedOnDriver(small))
      val viaLoop = forcedDistributed {
        val df = Dedup.keepersOf(g, g)
        assert(!electedOnDriver(df))
        keepers(df)
      }
      assert(keepers(small) == viaLoop)
      val byId = viaLoop.map(k => k._1 -> k._2).toMap
      if (pairs.isEmpty) assert(viaLoop.isEmpty)
      else {
        assert(viaLoop.size == 64 + 6 + 11 + 7)
        assert(pathIds.forall(byId(_) == 100L))
        assert(byId(501L) == 500L && byId(703L) == 700L && byId(602L) == 600L)
        assert((901L to 910L).forall(byId(_) == 900L) && byId(900L) == 900L)
        assert((1000L to 1005L).forall(byId(_) == 950L))
        assert(viaLoop.forall { case (d, k, dup) => dup == (d != k) })
      }
    }
  }

  test("keeper election over maxLocalPairs edges takes the label-propagation loop") {
    val g = pairGraph(fixture)
    val capped = graft.llm.Dedup.keepersOf(g, g, maxLocalPairs = fixture.size - 1)
    assert(!electedOnDriver(capped))
    val fits = graft.llm.Dedup.keepersOf(g, g, maxLocalPairs = fixture.size)
    assert(electedOnDriver(fits))
    assert(keepers(capped) == keepers(fits))
  }

  test("token shards and pack sequences agree across the cumsum paths") {
    val baseShards = graft.llm.Curation.tokenShards(spark, sf).collect().toSeq
    val basePack = graft.llm.Curation.packSequences(spark, sf).collect().toSeq
    forcedDistributed {
      assert(graft.llm.Curation.tokenShards(spark, sf).collect().toSeq == baseShards)
      assert(graft.llm.Curation.packSequences(spark, sf).collect().toSeq == basePack)
    }
  }
}
