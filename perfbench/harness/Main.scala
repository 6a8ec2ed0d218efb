package graftbench

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload's activity. `setup` runs before the timed loop and ends
  * with the activity's warm-up. Each
  * cycle of the loop is `prepare` (untimed: stage the cycle's inputs;
  * false when the generated inputs are used up), `step` (timed: one
  * closed-loop cycle of the workload's single caller) and `check`
  * (untimed: compare the cycle's outputs with the generator's model). */
trait Phase {
  def setup(): Unit
  def prepare(cycle: Int): Boolean = true
  def step(cycle: Int): Unit
  def check(cycle: Int): Unit = ()
}

/** What one run records: samples, values, and every checked operation.
  * Operations run inside the timed region; outputs are checked after. */
final class Run(val spark: SparkSession, val tracer: Tracer, val work: String) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Count one checked operation; a false check is a failed operation. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += what
  }

  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }
}

/** Two activities in one closed loop: each cycle runs `a`'s, then `b`'s. */
final class Both(a: Phase, b: Phase) extends Phase {
  def setup(): Unit = { a.setup(); b.setup() }
  override def prepare(cycle: Int): Boolean = a.prepare(cycle) && b.prepare(cycle)
  def step(cycle: Int): Unit = { a.step(cycle); b.step(cycle) }
  override def check(cycle: Int): Unit = { a.check(cycle); b.check(cycle) }
}

object Timed {
  def apply[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Benchmark harness JVM: runs one workload against the engine's public
  * entry points and writes `result.json` (traced: also `spans.jsonl`).
  *
  *   --workload ingest|query_fullwork|cdc_pipeline --data <inputs>
  *   --work <scratch dir> --out <dir> --seconds <timed loop length>
  *   --trace 0|1 --min-cycles <n>
  *
  * After each phase's set-up, which includes its warm-up, the timed loop
  * runs cycles until --seconds have passed, and at least --min-cycles.
  * Traced, timed cycles alternate untraced and traced (one more cycle
  * runs), so their ratio is the tracing overhead. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val out = Paths.get(a("out"))

    val spark = graft.Sessions.local(appName = "graftbench")
    val tracer = new Tracer(spark.sparkContext)
    val listener = new SpanListener(tracer)
    spark.sparkContext.addSparkListener(listener)
    val run = new Run(spark, tracer, a("work"))
    if (a("workload") == "query_fullwork") Queries.writeOracles(out) // read during set-up
    // the inputs are generated while the session starts; wait for them
    while (!Files.exists(Paths.get(a("data"), "READY"))) Thread.sleep(20)
    val phase: Phase = a("workload") match {
      case "cdc_pipeline" => new Cdc(run, a("data"))
      case "ingest" => new Both(new Cdc(run, a("data")), new Mor(run, a("data")))
      case "query_fullwork" => new Queries(run, a("data"))
    }
    val minCycles = a("min-cycles").toInt + (if (traced) 1 else 0)
    val gc0 = Jvm.gcSeconds()
    val crashed =
      try {
        phase.setup()
        run.samples.clear() // set-up's reads are not samples
        run.values("setup_end_ms") = System.currentTimeMillis().toDouble
        Jvm.resetPeaks()
        val loop0 = System.nanoTime()
        var cycle = 0
        while ((cycle < minCycles || (System.nanoTime() - loop0) / 1e9 < seconds) &&
               phase.prepare(cycle)) {
          tracer.enabled = traced && cycle % 2 == 1
          val start = System.currentTimeMillis()
          val steal0 = Jvm.steal()
          val (_, s) = Timed(tracer.span("cycle", cycle.toString)(phase.step(cycle)))
          listener.cycle(start, System.currentTimeMillis())
          val steal1 = Jvm.steal()
          run.sample("host.steal_share",
            (steal1._1 - steal0._1).toDouble / math.max(1L, steal1._2 - steal0._2))
          run.sample(if (tracer.enabled) "cycle_traced_s" else "cycle_s", s)
          tracer.enabled = false
          phase.check(cycle)
          cycle += 1
        }
        None
      } catch { case e: Throwable => e.printStackTrace(); Some(e.toString) }
    run.values("jvm.gc_s") = Jvm.gcSeconds() - gc0
    run.values("jvm.heap_peak_mb") = Jvm.heapPeakMb()
    spark.stop() // drains the listener bus: every task is charged by now
    listener.cycleCpuSeconds.foreach(run.sample("cycle_cpu_s", _))
    crashed.foreach(e => run.failures += s"crashed: $e")
    if (traced)
      Files.write(out.resolve("spans.jsonl"),
        tracer.spans.map(s => Json.span(s, tracer.notesOf(s.id))).mkString("\n").getBytes)
    Files.write(out.resolve("result.json"), Json.result(run).getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    sys.exit(if (crashed.isEmpty) 0 else 1)
  }
}

object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  /** (stolen, total) CPU time over all CPUs so far, in jiffies, from
    * Linux's /proc/stat; (0, 0) where there is none. Time the hypervisor
    * gives to other guests slows every wall-clock figure of a cycle. */
  def steal(): (Long, Long) = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (xs(7), xs.take(8).sum)
    } finally f.close()
  }.getOrElse((0L, 0L))
  def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def result(r: Run): String = {
    val samples = r.samples.map { case (k, v) => s"${str(k)}: ${v.map(num).mkString("[", ", ", "]")}" }
    val values = r.values.map { case (k, v) => s"${str(k)}: ${num(v)}" }
    s"""{"attempted": ${r.attempted}, "failures": ${r.failures.map(str).mkString("[", ", ", "]")},
       |"samples": {${samples.mkString(", ")}},
       |"values": {${values.mkString(", ")}}}""".stripMargin
  }

  def span(s: Span, notes: Map[String, Double]): String = {
    val c = s.spark
    s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${str(s.name)}, "detail": ${str(s.detail)}, """ +
      s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "jobs": ${c.jobs.get}, "tasks": ${c.tasks.get}, """ +
      s""""cpu_ns": ${c.cpuNs.get}, "sched_ms": ${c.schedMs.get}, "input_records": ${c.inputRecords.get}, """ +
      s""""shuffle_read": ${c.shuffleRead.get}, "shuffle_write": ${c.shuffleWrite.get}, """ +
      s""""spill": ${c.spill.get}, "notes": {""" +
      notes.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ") + "}}"
  }
}

object Files2 {
  /** Regular files under `dir` with their sizes. */
  def sizes(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => p.toString -> Files.size(p)).toMap
      } finally s.close()
    }
  }
  def copy(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to).getParent)
    Files.copy(Paths.get(from), Paths.get(to))
  }
  def append(from: String, to: Path): Unit =
    Files.write(to, Files.readAllBytes(Paths.get(from)),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
}
