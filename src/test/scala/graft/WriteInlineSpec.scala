package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.SnapshotLog

/** The ONE data-file writer: `writeData` computes every manifest
  * statistic in the writing task. The contract is METADATA IDENTITY
  * with an oracle kept here — a SQL aggregate over the written bytes,
  * grouped by `input_file_name()`, using the recording expressions:
  * `cast(_ AS long)` / `unix_micros` / `unix_date` zones and null
  * counts, `cast(_ AS string)` partition-value sets, the
  * `bucketIdExpr` formula, and `bloom_build` over `keyAsLong` — with
  * the whole read-back IO gone. */
class WriteInlineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local("4", "write-inline-spec")

  private val Zones = Seq("id", "i", "d", "dt", "ts", "m")
  private val Parts = Seq("s", "b", "pd", "pts", "pm", "bucket(4,id)")

  private def frame() = {
    // every tag domain at once: long, int, double (fractional +
    // negative), date, timestamp and decimal (negative, truncated
    // toward zero) zones; string, boolean, date, timestamp (fractional
    // seconds) and decimal (trailing zeros) partition values; nulls
    // sprinkled into zone and partition columns
    spark.range(0, 1000)
      .select(
        col("id"),
        when(col("id") % 97 === 0, lit(null))
          .otherwise((col("id") % 41).cast("int")).as("i"),
        when(col("id") % 89 === 0, lit(null))
          .otherwise(col("id") * -1.75).as("d"),
        date_add(lit(java.sql.Date.valueOf("2024-01-01")),
          (col("id") % 30).cast("int")).as("dt"),
        timestamp_seconds(lit(1700000000L) + col("id") % 50 * 7207).as("ts"),
        concat(lit("k-"), (col("id") % 5).cast("string")).as("s"),
        when(col("id") % 83 === 0, lit(null))
          .otherwise((col("id") * -0.37).cast("decimal(12,2)")).as("m"),
        (col("id") % 3 === 0).as("b"),
        date_add(lit(java.sql.Date.valueOf("2023-12-30")),
          (col("id") % 4).cast("int")).as("pd"),
        when(col("id") % 71 === 0, lit(null)).otherwise(timestamp_micros(
          lit(1704103200000000L) + col("id") % 3 * 500000L)).as("pts"),
        ((col("id") % 5 - 2) * 1.5).cast("decimal(6,2)").as("pm"))
      .repartition(3, col("id"))
  }

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-wi-$tag").toString

  private type Meta = (Long, Seq[(String, (Long, Long))],
    Seq[(String, Long)], Seq[(String, Seq[String])], Seq[(String, String)])

  private def meta(f: SnapshotLog.DataFile): Meta =
    (f.rows, f.stats.toSeq.sortBy(_._1),
      f.nulls.toSeq.sortBy(_._1),
      f.parts.toSeq.sortBy(_._1).map { case (k, vs) => (k, vs.sorted) },
      f.blooms.toSeq.sortBy(_._1))

  /** The long-domain zone expression of a stats column (None: no zone
    * kind for its type). */
  private def zoneOf(df: DataFrame, c: String): Option[Column] =
    df.schema(c).dataType match {
      case _: NumericType => Some(col(c).cast("long"))
      case TimestampType => Some(unix_micros(col(c)))
      case DateType => Some(unix_date(col(c)).cast("long"))
      case _ => None
    }

  /** The oracle: every file's manifest metadata recomputed by one SQL
    * aggregate over the written files, keyed by path. */
  private def oracle(files: Seq[SnapshotLog.DataFile], stats: Seq[String],
                     bloom: Option[String], parts: Seq[String]): Map[String, Meta] = {
    val written = spark.read.parquet(files.map(_.path): _*)
    val zoned = stats.filter(c => zoneOf(written, c).isDefined)
    val aggs: Seq[Column] = (count(lit(1)).as("rows") +: zoned.zipWithIndex
      .flatMap { case (c, i) => Seq(min(zoneOf(written, c).get).as(s"smin_$i"),
        max(zoneOf(written, c).get).as(s"smax_$i"),
        count(when(col(c).isNull, lit(1))).as(s"snull_$i")) }) ++
      parts.zipWithIndex.map { case (c, i) =>
        val v = c match {
          case SnapshotLog.BucketKeyPattern(n, inner) =>
            SnapshotLog.bucketIdExpr(col(inner), n.toInt,
              written.schema(inner).dataType == StringType).cast("string")
          case _ => col(c).cast("string")
        }
        slice(sort_array(collect_set(v)), 1, SnapshotLog.MaxPartValuesPerFile + 1)
          .as(s"pvals_$i")
      } ++ bloom.map(c => graft.functions.GraftFunctions.bloom_build(
        SnapshotLog.keyAsLong(written, c), SnapshotLog.BloomBits,
        SnapshotLog.BloomHashes).as("bloom"))
    written.groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*).collect().map { r =>
        val z = zoned.zipWithIndex.flatMap { case (c, i) =>
          Option(r.getAs[java.lang.Long](s"smin_$i")).map(mn =>
            c -> (mn.longValue, r.getAs[Long](s"smax_$i")))
        }.toMap
        val pv = parts.zipWithIndex.flatMap { case (c, i) =>
          val vs = r.getAs[scala.collection.Seq[String]](s"pvals_$i")
          if (vs.isEmpty || vs.size > SnapshotLog.MaxPartValuesPerFile) None
          else Some(c -> vs.toSeq.sorted)
        }
        new java.net.URI(r.getAs[String]("file")).getPath ->
          (r.getAs[Long]("rows"), z.toSeq.sortBy(_._1),
            zoned.zipWithIndex.collect { case (c, i) if z.contains(c) =>
              c -> r.getAs[Long](s"snull_$i") }.sortBy(_._1),
            pv.sortBy(_._1),
            bloom.map(c => c -> java.util.Base64.getEncoder
              .encodeToString(r.getAs[Array[Byte]]("bloom"))).toSeq)
      }.toMap
  }

  test("inline manifest metadata equals the SQL aggregate oracle") {
    val base = tmp("parity")
    val df = frame()
    // one bloom key per write: string (xxhash64), timestamp (epoch
    // seconds) and double (truncated) domains
    for ((bloom, k) <- Seq("s", "ts", "d").zipWithIndex) {
      val files = SnapshotLog.writeData(df, s"$base/t$k", statsCols = Zones,
        bloomCol = Some(bloom), partitionCols = Parts)
      assert(files.size === 3, "one file per partition")
      assert(files.forall(_.bytes > 0))
      assert(files.map(f => f.path -> meta(f)).toMap ===
        oracle(files, Zones, Some(bloom), Parts), s"bloom on $bloom")
      // every requested shape recorded something (nothing degraded)
      assert(files.forall(f => Zones.forall(f.stats.contains) &&
        f.blooms.contains(bloom) &&
        Seq("b", "pd", "pts", "pm", "bucket(4,id)").forall(f.parts.contains)),
        files.map(f => (f.stats.keySet, f.parts.keySet)).toString)
      // the whole frame reads back through the entries
      val a = spark.read.parquet(files.map(_.path): _*)
      assert(a.count() === 1000)
      assert(a.agg(sum(col("id")), sum((col("m") * 100).cast("long"))).head ===
        df.agg(sum(col("id")), sum((col("m") * 100).cast("long"))).head)
    }
  }

  test("writeData runs ZERO read-back IO for every metadata shape") {
    val base = tmp("io")
    // a range-derived frame: ANY task input bytes are read-back
    def ioOf(body: => Unit): Long = {
      Thread.sleep(800) // drain earlier statements' task events
      val bytes = new java.util.concurrent.atomic.AtomicLong(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            bytes.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
      }
      spark.sparkContext.addSparkListener(l)
      try { body; Thread.sleep(800) } finally
        spark.sparkContext.removeSparkListener(l)
      bytes.get()
    }
    val src = spark.range(0, 20000).select(col("id"), (col("id") * 3).as("v"))
    val plainIo = ioOf {
      SnapshotLog.writeData(src, s"$base/a", statsCol = Some("id"))
    }
    assert(plainIo === 0L,
      s"the write must not re-read its own output (read $plainIo B)")
    // decimal zones, a timestamp bloom, boolean/date/timestamp/decimal
    // partition values and a derived bucket id: still zero read-back
    val richIo = ioOf {
      SnapshotLog.writeData(frame(), s"$base/b", statsCols = Zones,
        bloomCol = Some("ts"), partitionCols = Parts)
    }
    assert(richIo === 0L,
      s"every metadata shape is computed in the writing task (read $richIo B)")
  }

  test("maxRecordsPerFile rolls inline files at the cap; stats stay exact") {
    val base = tmp("roll")
    val df = spark.range(0, 1000).select(col("id"), (col("id") * 2).as("v"))
      .coalesce(1)
    val files = SnapshotLog.writeData(df, s"$base/t", statsCol = Some("id"),
      maxRecordsPerFile = Some(300L))
    assert(files.size === 4, s"1000 rows / cap 300 = 4 files, got ${files.size}")
    assert(files.map(_.rows).sorted === Seq(100L, 300L, 300L, 300L))
    assert(files.map(_.rows).sum === 1000L)
    // zones partition the key space (a coalesced ascending write)
    val zones = files.flatMap(_.stats.get("id")).sortBy(_._1)
    assert(zones.head._1 === 0L && zones.last._2 === 999L)
    assert(spark.read.parquet(files.map(_.path): _*).count() === 1000)
  }

  test("empty frames, decimal zones and absent columns") {
    val base = tmp("edge")
    // empty frame: no files, no entries
    assert(SnapshotLog.writeData(
      spark.range(0, 10).filter(col("id") < 0).toDF(),
      s"$base/e", statsCol = Some("id")) === Seq.empty)
    // DECIMAL stats column: zoned in the writing task
    val dec = spark.range(0, 100)
      .select(col("id"), col("id").cast("decimal(10,2)").as("m"))
    val files = SnapshotLog.writeData(dec, s"$base/d", statsCols = Seq("m"))
    assert(files.nonEmpty && files.forall(_.stats.contains("m")),
      files.map(_.stats).toString)
    assert(files.flatMap(_.stats.get("m")).map(_._1).min === 0L)
    assert(files.flatMap(_.stats.get("m")).map(_._2).max === 99L)
    // absent column: refused before any file is written, never silent
    intercept[IllegalArgumentException] {
      SnapshotLog.writeData(
        spark.range(0, 10).toDF(), s"$base/x", statsCol = Some("nope"))
    }
    assert(!new java.io.File(s"$base/x/data").exists())
  }

  test("derived bucket-id sets match the SQL recording formula") {
    val base = tmp("bkt")
    // an UNARRANGED frame (one partition, mixed residues): the recorded
    // set is multi-valued and must equal the bucketIdExpr values
    val df = spark.range(0, 64).select(col("id"),
      concat(lit("u"), col("id").cast("string")).as("sk")).coalesce(1)
    val parts = Seq("bucket(4,id)", "bucket(4,sk)")
    val files = SnapshotLog.writeData(df, s"$base/a", partitionCols = parts)
    assert(files.size === 1)
    // 64 ids spread over 4 buckets: at most 4 distinct ids per key
    // (under the cap of 8), recorded as the same sorted sets
    assert(files.map(f => f.path -> meta(f)).toMap ===
      oracle(files, Nil, None, parts))
    assert(files.head.parts.keySet === Set("bucket(4,id)", "bucket(4,sk)"))
  }

  test("a date bloom key is refused before any file is written") {
    val base = tmp("datebloom")
    val df = spark.range(0, 50).select(col("id"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        col("id").cast("int")).as("dt"))
    val e = intercept[IllegalArgumentException] {
      SnapshotLog.writeData(df, s"$base/t", statsCol = Some("id"),
        bloomCol = Some("dt"))
    }
    assert(e.getMessage.contains("dt"), e.getMessage)
    assert(!new java.io.File(s"$base/t/data").exists(),
      "a refused write must leave no data directory behind")
  }

  test("a decimal beyond the long range drops its file's zone, not the write") {
    val base = tmp("bigdec")
    // partition 0 holds one value past Long.MaxValue; partition 1 fits
    val df = spark.range(0, 40).select(col("id"),
      when(col("id") === 3, lit(BigDecimal("123456789012345678901234567890")))
        .otherwise(col("id").cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("m"))
      .repartitionByRange(2, col("id"))
    val files = SnapshotLog.writeData(df, s"$base/t",
      statsCols = Seq("id", "m"), bloomCol = Some("m"))
    assert(files.size === 2 && files.map(_.rows).sum === 40L)
    val (big, small) = files.partition(f => f.stats("id")._1 <= 3L)
    assert(big.size === 1 && small.size === 1)
    // the out-of-range file records no `m` zone, null count or bloom:
    // it stays under every prune
    assert(!big.head.stats.contains("m") && !big.head.nulls.contains("m"),
      big.head.stats.toString)
    assert(!big.head.blooms.contains("m"))
    assert(big.head.stats.contains("id"))
    // the in-range file keeps its exact zone and bloom
    val lo = small.head.stats("id")._1
    assert(small.head.stats.get("m") === Some((lo, 39L)))
    assert(small.head.blooms.contains("m"))
    assert(spark.read.parquet(files.map(_.path): _*).count() === 40)
  }
}
