package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Cumulative Spark work counters at one instant; subtract two for a window. */
final case class Counts(jobs: Long, stages: Long, tasks: Long, taskMs: Long, cpuNs: Long,
                        shuffleReadB: Long, shuffleWriteB: Long, spillB: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, cpuNs - o.cpuNs, shuffleReadB - o.shuffleReadB,
    shuffleWriteB - o.shuffleWriteB, spillB - o.spillB)
}

/** The benchmark's own SparkListener: counts every job, completed stage and
  * task of the session and keeps each task's wall interval, so the time in
  * which no task ran can be measured over any window. */
final class Counters extends SparkListener {
  private var c = Counts(0, 0, 0, 0, 0, 0, 0, 0)
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1)
    else Counts(c.jobs, c.stages, c.tasks + 1, c.taskMs + m.executorRunTime,
      c.cpuNs + m.executorCpuTime, c.shuffleReadB + m.shuffleReadMetrics.totalBytesRead,
      c.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten, c.spillB + m.diskBytesSpilled)
  }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(sc: SparkContext): Counts = {
    org.apache.spark.ListenerDrain(sc)
    synchronized(c)
  }

  /** Milliseconds of the epoch-ms window [from, to) in which no task ran. */
  def idleMs(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var busy = 0L; var lo = 0L; var hi = 0L
    clipped.foreach { case (a, b) =>
      if (a > hi) { busy += hi - lo; lo = a; hi = b } else hi = math.max(hi, b)
    }
    (to - from) - (busy + hi - lo)
  }
}

object Probes {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time of every live Java thread: in local mode the driver and the
    * executors. The JIT compiler and GC threads are not Java threads, so
    * their work, which on a short-lived JVM varies by seconds from run to
    * run, stays out. */
  def threadCpuNs(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** CPU the Java threads spent between two [[threadCpuNs]] snapshots
    * (a thread that started in between counts from zero). */
  def cpuNsBetween(before: Map[Long, Long], after: Map[Long, Long]): Long =
    after.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}

/** One traced call into a layer. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long,
                      counts: Counts, gcMs: Long, idleMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into the program. Spans stay
  * in memory; [[write]] exports them when the run ends. Each span boundary
  * drains the listener bus, which is part of the tracing overhead the
  * benchmark reports. */
final class Tracer(sc: SparkContext, counters: Counters, runId: String) {
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val c0 = counters.snapshot(sc); val gc0 = Probes.gcMs()
    val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
    try body
    finally {
      val ns1 = System.nanoTime(); val ms1 = System.currentTimeMillis()
      val c1 = counters.snapshot(sc)
      done += Span(id, name, parent, runId, ns0, ns1, ms0, ms1, c1 - c0,
        Probes.gcMs() - gc0, counters.idleMs(ms0, ms1))
      stack = stack.tail
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq

  def named(name: String): Span = spans.find(_.name == name)
    .getOrElse(throw new IllegalStateException(s"no span named $name"))

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id)

  /** Duration minus the part of it the span's children cover (children are
    * sequential calls, so their durations do not overlap). */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  /** One JSON object per span, times relative to the first span's start. */
  def write(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      graft.core.Json.value(Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> selfSeconds(s), "jobs" -> s.counts.jobs, "stages" -> s.counts.stages,
        "tasks" -> s.counts.tasks, "task_s" -> s.counts.taskMs / 1e3,
        "executor_cpu_s" -> s.counts.cpuNs / 1e9,
        "shuffle_read_mb" -> s.counts.shuffleReadB / 1e6,
        "shuffle_write_mb" -> s.counts.shuffleWriteB / 1e6,
        "spill_mb" -> s.counts.spillB / 1e6, "gc_s" -> s.gcMs / 1e3,
        "idle_s" -> s.idleMs / 1e3))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
