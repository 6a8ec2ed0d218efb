package graftbench

import java.nio.file.{Files, Paths}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cdc._
import graft.schema.Schemas

/** The reference's own traffic through [[PipelineRunner.run]] in snapshot,
  * epoch and auto-maintain mode. Set-up runs the initial-snapshot backfill
  * of the four tables; each cycle is one incremental pipeline run. A
  * cycle's events are appended to the topic files before it (untimed),
  * as a Kafka topic grows between two runs of the 5-minute job. */
final class Cdc(run: Run, data: String) extends Phase {
  private val Tables = PipelineRunner.DefaultTables
  private val (spark, tr) = (run.spark, run.tracer)

  /** Generator manifest: (cycle, table) -> (last offset, events); the
    * backfill is cycle -1. */
  private val manifest: Map[(Int, String), (Long, Long)] =
    scala.io.Source.fromFile(s"$data/cdc/manifest.tsv").getLines().map { l =>
      val Array(c, t, off, n) = l.split("\t")
      (c.toInt, t) -> (off.toLong, n.toLong)
    }.toMap
  private val cycles = manifest.keys.map(_._1).max + 1
  private val topics = run.dir("cdc/topics")
  private val (wh, offsets) = (s"${run.dir("cdc")}/wh", s"${run.dir("cdc")}/offsets")
  private var newest = -1 // the cycle whose events are the newest in the topic files
  private var report: PipelineRunner.PipelineReport = _

  private def append(files: String): Unit = Tables.foreach { t =>
    val name = s"${Schemas.topicFor(t)}.jsonl"
    Files2.append(s"$files/$name", Paths.get(topics, name))
  }

  private def pipeline(): PipelineRunner.PipelineReport =
    if (tr.enabled) Cdc.traced(run, topics, wh, offsets,
      topic => manifest((newest, Schemas.tableFor(topic)))._1 + 1)
    else PipelineRunner.run(spark, topics, wh, offsets, Tables,
      snapshotted = true, autoMaintain = true, epoch = true)

  /** The pipeline's own consistency report, each committed offset
    * against the generator's last offset, and the epoch's pins. */
  private def verify(what: String): Unit = {
    run.check(report.allConsistent, s"$what: source and sink counts differ: " +
      report.tables.map(t => s"${t.table} ${t.sourceRows}/${t.sinkRows}").mkString(", "))
    val store = new OffsetStore(offsets)
    Tables.foreach { t =>
      val (want, got) = (manifest((newest, t))._1, store.lastOffset(t))
      run.check(got == want, s"$what: $t committed offset $got, generator's last is $want")
    }
    val pins = graft.table.SyncEpoch.pins(spark, wh).keySet
    run.check(Tables.forall(pins.contains),
      s"$what: the epoch pins ${pins.mkString(",")}, not all of ${Tables.mkString(",")}")
  }

  /** Set-up: the initial snapshot into an empty warehouse. */
  def setup(): Unit = {
    append(s"$data/cdc/backfill")
    val (r, s) = Timed(pipeline())
    report = r
    run.values("cdc.backfill_events_per_s") = Tables.map(t => manifest((-1, t))._2).sum / s
    verify("backfill")
  }

  override def prepare(cycle: Int): Boolean = cycle < cycles && {
    append(f"$data/cdc/cycle_$cycle%04d")
    newest = cycle
    true
  }

  def step(cycle: Int): Unit = {
    val (r, s) = Timed(pipeline())
    report = r
    run.sample("sync_s", s)
  }

  override def check(cycle: Int): Unit = verify(s"cycle $cycle")
}

object Cdc {
  /** [[PipelineRunner.run]]'s stage sequence for snapshot + epoch +
    * auto-maintain mode, composed from the same public calls, with a span
    * around each: staged sync fan-out, epoch publish, maintenance,
    * verify, reconcile. `history` gives a topic's record count. */
  def traced(run: Run, fixture: String, wh: String, offsetDir: String,
             history: String => Long): PipelineRunner.PipelineReport = {
    val (spark, tr) = (run.spark, run.tracer)
    val tables = PipelineRunner.DefaultTables
    Files.createDirectories(Paths.get(wh))
    val healthy = tables.map(t =>
      t -> Files.exists(Paths.get(s"$fixture/${Schemas.topicFor(t)}.jsonl"))).toMap
    val source = new TracedSource(new FileCdcSource(fixture), tr, history)
    val job = new SyncJob(source, new OffsetStore(offsetDir), wh, snapshotted = true, wap = true)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val parent = tr.current
    val staged = Await.result(Future.traverse(tables.filter(healthy))(t =>
      Future(tr.span("cdc.sync", t, parent)(
        tr.written(s"$wh/${t}_parquet")(job.stageSync(spark, t))))), Duration.Inf)
    val (synced, _) = tr.span("cdc.publish") {
      val r = job.publishEpoch(spark, staged)
      tr.note("commits", staged.count(_.token.isDefined) + r._2.size)
      r
    }
    val maintained = tables.filter(healthy).map(t => t -> Maintain.traced(tr, spark, wh, t)).toMap
    val sinkCounts = tr.span("cdc.verify")(job.verifyCounts(spark, tables))
    val reports = tables.map { t =>
      val src =
        if (healthy(t)) tr.span("cdc.reconcile", t)(
          source.read(spark, Schemas.topicFor(t), StartingOffsets.Earliest).count())
        else 0L
      val s = synced.find(_.table == t)
      PipelineRunner.TableReport(t, s.map(_.records).getOrElse(0L),
        s.map(_.maxOffset).getOrElse(-1L), src, sinkCounts.getOrElse(t, 0L),
        maintained.getOrElse(t, Nil))
    }
    PipelineRunner.PipelineReport(healthy, reports)
  }
}

/** A [[CdcSource]] that notes, per read, the records its topic holds
  * (`history`: the JSON scan parses all of them, the offset bound is a
  * filter) and the records at or past the requested offsets (what the
  * read returns). */
final class TracedSource(inner: CdcSource, tr: Tracer, history: String => Long)
    extends CdcSource {
  override def read(spark: SparkSession, topic: String, starting: StartingOffsets): DataFrame =
    tr.span("cdc.source", topic) {
      val n = history(topic)
      val from = starting match {
        case StartingOffsets.PerPartition(m) => m.get(topic).flatMap(_.get(0)).getOrElse(0L)
        case StartingOffsets.Earliest => 0L
      }
      tr.note("rows_scanned", n)
      tr.note("rows_returned", math.max(0L, n - from))
      inner.read(spark, topic, starting)
    }
}

object Maintain {
  /** [[PipelineRunner.maintainTable]] in a span noting each paid action. */
  def traced(tr: Tracer, spark: SparkSession, wh: String, table: String): Seq[String] =
    tr.span("table.maintain", table) {
      val paid = tr.written(s"$wh/${table}_parquet")(PipelineRunner.maintainTable(spark, wh, table))
      paid.foreach(k => tr.note(s"actions.$k", 1))
      paid
    }
}
