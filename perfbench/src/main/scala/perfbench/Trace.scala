package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One layer call made by the benchmark: name, start, end, the span that
  * caused it (0 = none) and the run it belongs to. Times are wall-clock
  * milliseconds so they share a clock with Spark's job events. `warmUp`
  * marks a call made before the measured calls of its kind. */
final case class Span(id: Long, parent: Long, name: String, runId: String, startMs: Double, warmUp: Boolean) {
  @volatile var endMs: Double = Double.NaN
  def wallMs: Double = endMs - startMs
}

/** Spark cost of the jobs launched while one span was the innermost open
  * span, as reported to a [[CostListener]]. */
final class Cost {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuMs = 0.0
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  /** [start, end] wall ms of each job, for the time no job was running. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/**
 * The one SparkListener of a traced run. Every job is attributed to the span
 * that was innermost on the driver thread when it was submitted, read back
 * from a Spark local property: local properties are inherited by threads the
 * driver starts (a streaming query's micro-batch thread), so a stream's jobs
 * land on the span that started it. Micro-batch jobs are also keyed by their
 * batch id, which gives the per-trigger cost.
 */
final class CostListener extends SparkListener {
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Option[Long], Double)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val bySpan = new ConcurrentHashMap[Long, Cost]()
  val byBatch = new ConcurrentHashMap[(Long, Long), Cost]()
  @volatile var lastSentinel: String = ""

  private def costs(jobId: Int): Seq[Cost] = Option(jobSpan.get(jobId)).toSeq.flatMap {
    case (span, batch, _) =>
      Seq(bySpan.computeIfAbsent(span, _ => new Cost)) ++
        batch.map(b => byBatch.computeIfAbsent((span, b), _ => new Cost))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).map(_.toLong)
    span.foreach { s =>
      val batch = props.flatMap(p => Option(p.getProperty(Tracer.BatchKey))).map(_.toLong)
      jobSpan.put(e.jobId, (s, batch, e.time.toDouble))
      e.stageIds.foreach(stageJob.put(_, e.jobId))
      costs(e.jobId).foreach(c => c.synchronized(c.jobs += 1))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobSpan.get(e.jobId)).foreach { case (_, _, start) =>
      costs(e.jobId).foreach(c => c.synchronized(c.jobIntervals += ((start, e.time.toDouble))))
    }
    Option(jobSpan.get(e.jobId)).filter(_._1 == Tracer.SentinelSpan).foreach { _ =>
      lastSentinel = e.jobId.toString
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    Option(stageJob.get(e.stageId)).foreach { job =>
      costs(job).foreach { c =>
        c.synchronized {
          c.tasks += 1
          c.taskMs += m.executorRunTime
          c.cpuMs += m.executorCpuTime / 1e6
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }
}

/**
 * Span recorder for the benchmark's calls into each layer. Spans are kept in
 * memory and written out when the run ends. With tracing off, [[span]] just
 * runs its body: the untraced run installs no listener and sets no property.
 */
final class Tracer(spark: SparkSession, val runId: String, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  /** False while warm-up calls run: their spans are kept but marked. */
  @volatile var recording = true
  val listener: Option[CostListener] =
    if (enabled) { val l = new CostListener; spark.sparkContext.addSparkListener(l); Some(l) }
    else None

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(ids.incrementAndGet(), open.headOption.fold(0L)(_.id), name, runId, Tracer.nowMs(),
        warmUp = !recording)
      recorded.synchronized(recorded += s)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      open = s :: open
      try body
      finally {
        s.endMs = Tracer.nowMs()
        open = open.tail
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  def spans: Seq[Span] = recorded.synchronized(recorded.toList)
  /** Finished measured calls of one name, warm-up calls left out, so that
    * per-layer medians cover the calls the end-to-end figures cover. */
  def named(name: String): Seq[Span] = measured.filter(_.name == name)
  def measured: Seq[Span] = spans.filter(s => !s.warmUp && !s.endMs.isNaN)

  /** Block until the listener has seen every job submitted so far: listener
    * events arrive asynchronously but in order, so the end of a sentinel job
    * submitted now follows every earlier event. */
  def flush(): Unit = listener.foreach { l =>
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, Tracer.SentinelSpan.toString)
    val before = l.lastSentinel
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Tracer.SpanKey, prev)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (l.lastSentinel == before && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def cost(s: Span): Cost = listener.flatMap(l => Option(l.bySpan.get(s.id))).getOrElse(new Cost)
  /** Cost of one micro-batch of the streaming query started inside `s`. */
  def batchCost(s: Span, batchId: Long): Cost =
    listener.flatMap(l => Option(l.byBatch.get((s.id, batchId)))).getOrElse(new Cost)

  /** Span duration minus the part of it its child spans cover. */
  def selfMs(s: Span, all: Seq[Span]): Double =
    s.wallMs - Tracer.unionMs(all.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)), s)

  /** Span duration during which none of its jobs was running. */
  def driverMs(s: Span): Double = driverMs(s.startMs, s.endMs, cost(s))
  def driverMs(start: Double, end: Double, c: Cost): Double =
    (end - start) - Tracer.unionMs(c.synchronized(c.jobIntervals.toList), start, end)

  /** Per-name summary of the measured calls, written next to the raw spans. */
  def summary(): Map[String, Map[String, Double]] = {
    val all = spans.filter(!_.endMs.isNaN)
    measured.groupBy(_.name).map { case (name, ss) =>
      name -> Map(
        "count" -> ss.size.toDouble,
        "wall_ms" -> ss.map(_.wallMs).sum,
        "self_ms" -> ss.map(selfMs(_, all)).sum,
        "driver_ms" -> ss.map(driverMs).sum,
        "jobs" -> ss.map(cost(_).jobs).sum.toDouble,
        "tasks" -> ss.map(cost(_).tasks).sum.toDouble,
        "cpu_ms" -> ss.map(cost(_).cpuMs).sum)
    }
  }

  def spansJson(): Map[String, Any] = {
    val all = spans.filter(!_.endMs.isNaN)
    Map(
      "run_id" -> runId,
      "spans" -> all.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run_id" -> s.runId,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> selfMs(s, all), "warm_up" -> s.warmUp)),
      "summary" -> summary())
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Spark's local property naming the micro-batch a streaming job serves. */
  val BatchKey = "streaming.sql.batchId"
  val SentinelSpan: Long = -1L

  // wall-clock ms (the clock of Spark's job events) with nanoTime resolution
  private val anchorWallMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorWallMs + (System.nanoTime() - anchorNs) / 1e6

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var covered = 0.0
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }
  def unionMs(intervals: Seq[(Double, Double)], s: Span): Double = unionMs(intervals, s.startMs, s.endMs)
}
