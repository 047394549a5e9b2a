package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One traced interval: a layer call made by the benchmark (or a whole
  * timed pass), with the Spark work whose job group it set.
  */
final case class Span(id: Int, name: String, parent: Int, pass: Int, startMs: Long, endMs: Long) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Spark work attributed to one span by its job group. */
final class SpanWork {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Collects, per job group, the jobs, tasks and task metrics of every Spark
  * job. Registered by the benchmark only in traced runs.
  */
final class SpanListener extends SparkListener {
  private val work = mutable.HashMap.empty[String, SpanWork]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      work.getOrElseUpdate(g, new SpanWork).jobs += 1
      jobStart(e.jobId) = (g, e.time)
      e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      work.getOrElseUpdate(g, new SpanWork).jobIntervals += ((t0, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (g <- stageGroup.get(e.stageId) if m != null) {
      val w = work.getOrElseUpdate(g, new SpanWork)
      w.tasks += 1
      w.taskMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      w.spillBytes += m.diskBytesSpilled
      w.peakExecMem = math.max(w.peakExecMem, m.peakExecutionMemory)
    }
  }

  def workOf(group: String): SpanWork = synchronized(work.getOrElse(group, new SpanWork))
}

/** Spans around the benchmark's calls into the engine. While inactive,
  * `span` only runs its body: no listener, no job groups.
  */
final class Tracer(sc: SparkContext) {
  private val listener = new SpanListener
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var pass = -1
  private var on = false

  def active: Boolean = on
  def active_=(v: Boolean): Unit = if (v != on) {
    if (v) sc.addSparkListener(listener)
    else {
      // deliver the events already posted before the listener leaves
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(listener)
    }
    on = v
  }

  private def group(id: Int): String = s"perfbench-span-$id"

  /** Spans recorded from now on belong to timed pass `n` (-1: set-up). */
  def beginPass(n: Int): Unit = pass = n

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setJobGroup(group(id), name, interruptOnCancel = false)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        done += Span(id, name, parent, pass, t0, System.currentTimeMillis())
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Spark work of one span; complete once the tracer was deactivated. */
  def work(s: Span): SpanWork = listener.workOf(group(s.id))

  /** Span wall time not covered by any of its own jobs. */
  def driverGapS(s: Span): Double = {
    val iv = work(s).jobIntervals
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, (s.endMs - s.startMs - covered) / 1000.0)
  }

  /** Per-span counters, named as the benchmark reports them. */
  def counters(s: Span): Seq[(String, Double)] = {
    val w = work(s)
    val mb = 1024.0 * 1024.0
    Seq(
      "wall_s" -> s.wallS,
      "jobs" -> w.jobs.toDouble,
      "task_s" -> w.taskMs / 1000.0,
      "exec_cpu_s" -> w.cpuNs / 1e9,
      "gc_s" -> w.gcMs / 1000.0,
      "shuffle_write_mb" -> w.shuffleWriteBytes / mb,
      "spill_mb" -> w.spillBytes / mb,
      "peak_exec_mem_mb" -> w.peakExecMem / mb,
      "driver_gap_s" -> driverGapS(s))
  }

  /** Counters that a deterministic program repeats exactly, pass to pass.
    * Shuffle bytes are not among them: a block's compressed size depends on
    * the order its rows arrive in, which task timing decides.
    */
  def exactCounts(s: Span): Seq[(String, Long)] = {
    val w = work(s)
    Seq("jobs" -> w.jobs, "tasks" -> w.tasks, "shuffle_write_records" -> w.shuffleWriteRecords)
  }
}
