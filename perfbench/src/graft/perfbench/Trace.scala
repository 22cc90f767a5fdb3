package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer's public function (or one whole op, for the
 * root span of a trace). `parent` is 0 for a root; spans of one op share
 * `traceId`. Times are wall-clock epoch milliseconds plus a nanosecond
 * duration, so task intervals (reported in epoch ms) line up with them. */
final case class Span(id: Long, name: String, traceId: Long, parent: Long,
                      startMs: Long, endMs: Long, durNs: Long)

/** Spark task metrics summed over the jobs one span launched. */
final class SpanTasks {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var readBytes = 0L
  var shuffleBytes = 0L
  var writeBytes = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)] // task launch → finish, epoch ms
}

/** Attributes every task to the span whose job group launched its job.
 * Listener-bus callbacks arrive on one thread, in posting order; the
 * client reads the maps only after [[Tracer.drain]] has seen a marker job
 * end, which orders those reads after every earlier event. */
final class TaskListener extends SparkListener {
  val bySpan = mutable.HashMap.empty[Long, SpanTasks]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val markerJobs = mutable.HashMap.empty[Int, Long]
  @volatile var drained: Long = -1L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group: String = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group == null) return
    if (group.startsWith(Tracer.SpanGroup)) {
      val id = group.stripPrefix(Tracer.SpanGroup).toLong
      bySpan.getOrElseUpdate(id, new SpanTasks).jobs += 1
      e.stageIds.foreach(s => stageSpan(s) = id)
    } else if (group.startsWith(Tracer.DrainGroup))
      markerJobs(e.jobId) = group.stripPrefix(Tracer.DrainGroup).toLong
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    markerJobs.remove(e.jobId).foreach(n => drained = n)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageSpan.get(e.stageId).foreach { id =>
      val s = bySpan.getOrElseUpdate(id, new SpanTasks)
      s.tasks += 1
      s.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.readBytes += m.inputMetrics.bytesRead
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.writeBytes += m.outputMetrics.bytesWritten
      }
    }
}

/**
 * Span recorder for the benchmark's single client thread.
 *
 * With `enabled` false every method is a pass-through: no listener is
 * registered and no job group is set, so untraced runs measure the engine
 * alone. A traced run registers a [[TaskListener]] and sets one job group
 * per span; [[pause]]/[[resume]] detach and re-attach it so a traced run
 * can interleave untraced ops and report the tracing overhead.
 *
 * Spans are only kept in memory and written out by the caller at the end.
 */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val listener = new TaskListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private var traceId = 0L
  private var drains = 0L
  private var attached = false

  def resume(): Unit = if (enabled && !attached) { sc.addSparkListener(listener); attached = true }

  def pause(): Unit = if (attached) { drain(); sc.removeSparkListener(listener); attached = false }

  resume()

  /** Wait until the listener has processed every event posted so far: run a
   * one-task marker job and wait for its end event. */
  def drain(): Unit = if (attached) {
    drains += 1
    val n = drains
    sc.setJobGroup(Tracer.DrainGroup + n, "perfbench drain", interruptOnCancel = false)
    try sc.parallelize(Seq(0), 1).count()
    finally restoreGroup()
    val deadline = System.currentTimeMillis() + 60000L
    while (listener.drained < n) {
      require(System.currentTimeMillis() < deadline, "listener bus did not drain within 60 s")
      Thread.sleep(1)
    }
  }

  private def restoreGroup(): Unit = stack match {
    case p :: _ => sc.setJobGroup(Tracer.SpanGroup + p, "perfbench span", interruptOnCancel = false)
    case Nil    => sc.clearJobGroup()
  }

  /** Root span of one op: opens a new trace id. */
  def op[T](name: String)(body: => T): T = {
    if (attached) traceId += 1
    span(name)(body)
  }

  /** Times `body` as one call into layer `name` (e.g. `index.build`). */
  def span[T](name: String)(body: => T): T =
    if (!attached) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setJobGroup(Tracer.SpanGroup + id, name, interruptOnCancel = false)
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val dur = System.nanoTime() - t0
        spans += Span(id, name, traceId, parent, m0, System.currentTimeMillis(), dur)
        stack = stack.tail
        restoreGroup()
      }
    }

  /** Every span recorded so far, with its task totals (drains first). */
  def collected(): Seq[(Span, SpanTasks)] = {
    drain()
    spans.toSeq.map(s => s -> listener.bySpan.getOrElse(s.id, new SpanTasks))
  }
}

object Tracer {
  val SpanGroup = "perfbench-span-"
  val DrainGroup = "perfbench-drain-"

  /** Milliseconds of [startMs, endMs] during which no task of the span ran. */
  def idleMs(span: Span, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = span.startMs
    intervals.map { case (a, b) => (math.max(a, span.startMs), math.min(b, span.endMs)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    math.max(0L, span.endMs - span.startMs - covered)
  }

  /** Per-layer statistics: for every span name, the median per call of each
   * stat. Self time is the span minus the wall time its child spans cover. */
  def layerStats(all: Seq[(Span, SpanTasks)]): Map[String, Map[String, Double]] = {
    val children = all.map(_._1).groupBy(_.parent)
    all.groupBy(_._1.name).map { case (name, calls) =>
      def med(f: ((Span, SpanTasks)) => Double): Double = Stats.median(calls.map(f))
      val mb = 1024d * 1024d
      name -> Map(
        "s" -> med(_._1.durNs / 1e9),
        "self_s" -> med { case (s, _) =>
          (s.durNs - children.getOrElse(s.id, Nil).map(_.durNs).sum) / 1e9 },
        "cpu_s" -> med(_._2.cpuNs / 1e9),
        "driver_s" -> med { case (s, t) => idleMs(s, t.intervals.toSeq) / 1e3 },
        "jobs" -> med(_._2.jobs.toDouble),
        "tasks" -> med(_._2.tasks.toDouble),
        "read_mb" -> med(_._2.readBytes / mb),
        "shuffle_mb" -> med(_._2.shuffleBytes / mb),
        "write_mb" -> med(_._2.writeBytes / mb),
        "gc_s" -> med(_._2.gcMs / 1e3),
        "calls" -> calls.size.toDouble)
    }
  }
}
