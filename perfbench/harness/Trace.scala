package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span, filled in by [[SpanListener]]. */
final class SparkCounters {
  val jobs, tasks, cpuNs, schedMs = new AtomicLong
  val inputRecords, shuffleRead, shuffleWrite, spill = new AtomicLong
}

/** One timed call into a layer's public function. */
final case class Span(id: Int, parent: Int, name: String, detail: String,
                      startNs: Long, endNs: Long, spark: SparkCounters)

/** In-memory span recorder. Spans are kept in memory and written once at
  * the end of the run. Each span tags the Spark jobs started inside it
  * through a thread-local Spark property, so [[SpanListener]] can charge
  * jobs and tasks to the span. Disabled, `span` is a plain call. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val nextId = new AtomicInteger(1)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val counters = new ConcurrentHashMap[Int, SparkCounters]
  private val notes = new ConcurrentHashMap[Int, ConcurrentHashMap[String, Double]]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private val lastClosed = new ThreadLocal[Int] { override def initialValue = 0 }

  private def add(id: Int, key: String, v: Double): Unit =
    if (enabled) notes.computeIfAbsent(id, _ => new ConcurrentHashMap).merge(key, v, _ + _)
  /** Add a count to the innermost open span of this thread. */
  def note(key: String, v: Double): Unit = add(current, key, v)
  /** Add a count to the span this thread closed last. */
  def noteLast(key: String, v: Double): Unit = add(lastClosed.get, key, v)

  /** Note as `bytes_written` the bytes of the files `body` adds under
    * `dir` (task output metrics stay 0 for these writes, so the files
    * are listed before and after; traced only). */
  def written[T](dir: String)(body: => T): T =
    if (!enabled) body
    else {
      val before = Files2.sizes(dir)
      val r = body
      note("bytes_written", Files2.sizes(dir).collect {
        case (p, n) if !before.contains(p) => n
      }.sum)
      r
    }

  def current: Int = stack.get.headOption.getOrElse(0)

  /** Time `body` as span `name`; `parent` defaults to the enclosing span
    * of this thread (pass it explicitly across thread hops). */
  def span[T](name: String, detail: String = "", parent: Int = -1)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val c = new SparkCounters
      counters.put(id, c)
      val par = if (parent >= 0) parent else current
      val prevProp = sc.getLocalProperty(Tracer.Prop)
      stack.set(id :: stack.get)
      sc.setLocalProperty(Tracer.Prop, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.Prop, prevProp)
        stack.set(stack.get.tail)
        lastClosed.set(id)
        done.add(Span(id, par, name, detail, t0, t1, c))
      }
    }

  def countersOf(id: Int): Option[SparkCounters] = Option(counters.get(id))
  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)
  def notesOf(id: Int): Map[String, Double] =
    Option(notes.get(id)).map(_.asScala.toMap).getOrElse(Map.empty)
}

object Tracer {
  val Prop = "graftbench.span"
}

/** Charges each job, and every task of its stages, to the span whose id
  * the job carries; jobs outside every span are not charged. Also keeps
  * each task's finish time and CPU time, so the executor CPU of every
  * timed cycle can be summed once the listener bus has drained (cycles
  * run one after another, and a cycle ends only when all its tasks
  * have). */
final class SpanListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, SparkCounters]
  private val taskCpu = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
  private val cycles = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

  /** Mark one timed cycle, in wall-clock milliseconds. */
  def cycle(startMs: Long, endMs: Long): Unit = cycles += ((startMs, endMs))

  def cycleCpuSeconds: Seq[Double] = {
    val tasks = taskCpu.asScala.toSeq
    cycles.toSeq.map { case (a, b) =>
      tasks.collect { case (t, ns) if t >= a && t <= b => ns }.sum / 1e9
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toInt).getOrElse(0)
    tracer.countersOf(id).foreach { c =>
      c.jobs.incrementAndGet()
      e.stageIds.foreach(s => stageSpan.put(s, c))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (m != null) taskCpu.add((e.taskInfo.finishTime, m.executorCpuTime))
    if (c != null && m != null) {
      c.tasks.incrementAndGet()
      c.cpuNs.addAndGet(m.executorCpuTime)
      val info = e.taskInfo
      val overhead = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime + info.gettingResultTime
      c.schedMs.addAndGet(math.max(0L, info.duration - overhead))
      c.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
    }
  }
}
