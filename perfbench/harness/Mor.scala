package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.table.SnapshotLog

/** Writes and reads on one standing table. Set-up seeds the table. Each
  * cycle is one writer cycle, which applies one update-heavy batch through
  * [[graft.stream.StreamSync.upsertSink]] and then pays the debts
  * [[graft.table.Advisor]] names ([[graft.cdc.PipelineRunner.maintainTable]]),
  * followed by one reader round: an aggregate scan and a fixed set of
  * point lookups through `spark.read.format("graft")`. */
final class Mor(run: Run, data: String) extends Phase {
  private val Table = "lineitem_mor"
  private val (spark, tr) = (run.spark, run.tracer)
  private val wh = run.dir("mor")
  private val tbl = s"$wh/${Table}_parquet"
  private val (src, chk) = (run.dir("mor_src"), s"${run.dir("mor_chk")}/upsert")

  private def tsv(name: String) = scala.io.Source.fromFile(s"$data/mor/$name").getLines()
    .map(_.split("\t", -1)).toSeq
  /** The generator's latest-per-key model after each batch (-1 = seed). */
  private val expect = tsv("expect.tsv").map(r => r(0).toInt -> (r(1).toLong, r(2).toDouble)).toMap
  private val lookups = tsv("lookups.tsv").groupBy(_(0).toInt).map { case (b, rs) =>
    b -> rs.map(r => r(1).toLong -> Some(r(2)).filter(_.nonEmpty).map(_.toDouble))
  }
  private val base = spark.read.parquet(s"$data/mor/base")
  private def table: DataFrame = spark.read.format("graft").load(tbl)

  private var scanned: Array[Row] = _
  private var looked: Seq[(Long, Seq[Double])] = Nil
  private var before: Map[String, Long] = Map.empty
  private var (added, input) = (0L, 0L)

  private def readers(): Unit = {
    val scan = table.agg(count(lit(1)), sum(col("v")))
    val (rows, s) = Timed(tr.span("connector.scan")(scan.collect()))
    scanned = rows
    run.sample("scan_s", s)
    Mor.scanNotes(tr, scan, 1)
    looked = lookups(-1).map { case (k, _) =>
      val q = table.filter(col("id") === k).select(col("v"))
      val (got, s) = Timed(tr.span("connector.lookup")(q.collect()))
      run.sample("lookup_s", s)
      Mor.scanNotes(tr, q, got.length)
      k -> got.map(_.getDouble(0)).toSeq
    }
  }

  private def verify(batch: Int): Unit = {
    val (n, total) = expect(batch)
    run.check(scanned(0).getLong(0) == n && scanned(0).getDouble(1) == total,
      s"scan after batch $batch: ${scanned(0)}, the model has ($n, $total)")
    looked.zip(lookups(batch)).foreach { case ((k, got), (_, want)) =>
      run.check(got == want.toSeq, s"lookup $k after batch $batch: $got, the model has $want")
    }
  }

  /** Set-up: seed the standing table, range-clustered on the key, check
    * it, then warm up with batch 0. Cycle c applies batch c + 1. */
  def setup(): Unit = {
    SnapshotLog.commit(spark, tbl, "append", SnapshotLog.writeData(
      base.repartitionByRange(8, col("id")), tbl, statsCol = Some("id")))
    readers()
    verify(-1)
    require(prepare(-1))
    step(-1)
    check(-1)
  }

  override def prepare(cycle: Int): Boolean = expect.contains(cycle + 1) && {
    val batch = f"$data/mor/batch_${cycle + 1}%04d/part-0.parquet"
    Files2.copy(batch, f"$src/batch_${cycle + 1}%04d.parquet")
    input += java.nio.file.Files.size(java.nio.file.Paths.get(batch))
    before = Files2.sizes(tbl)
    true
  }

  def step(cycle: Int): Unit = {
    run.sample("apply_s", Timed {
      tr.span("stream.upsert")(tr.written(tbl)(graft.stream.StreamSync.upsertSink(
        spark.readStream.schema(base.schema).parquet(src), tbl, chk,
        keyCol = "id", orderCol = "ord", deleteCol = Some("is_del"))))
      Maintain.traced(tr, spark, wh, Table)
    }._2)
    readers()
  }

  override def check(cycle: Int): Unit = {
    verify(cycle + 1)
    val after = Files2.sizes(tbl)
    val fresh = after.keySet -- before.keySet
    added += fresh.toSeq.map(after).sum
    run.values("mor.write_amp") = added.toDouble / input
    run.sample("stream.upsert.files_added", fresh.count(_.endsWith(".parquet")))
    val (masks, files) = SnapshotLog.filesAt(spark, tbl).partition(SnapshotLog.isMask)
    run.sample("table.masks.live_mask_files", masks.size)
    run.sample("table.masks.live_mask_rows", masks.map(_.rows).sum)
    run.sample("table.masks.live_data_files", files.size)
  }
}

object Mor {
  /** Note the files and rows the scans of an executed read produced and
    * the rows it returned, on the read's span (traced only). */
  def scanNotes(tr: Tracer, df: DataFrame, returned: Long): Unit =
    if (tr.enabled) {
      def scans(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: QueryStageExec => scans(q.plan)
        case s if s.nodeName.contains("Scan") => Seq(s)
        case o => o.children.flatMap(scans)
      }
      val ms = scans(df.queryExecution.executedPlan).map(_.metrics)
      def total(k: String) = ms.flatMap(_.get(k)).map(_.value).sum.toDouble
      tr.noteLast("files_read", total("numFiles"))
      tr.noteLast("rows_scanned", total("numOutputRows"))
      tr.noteLast("rows_returned", returned)
    }
}
