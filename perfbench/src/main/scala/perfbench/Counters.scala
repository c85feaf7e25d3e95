package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark counters over a wall-clock window. The benchmark runs one closed
  * loop on one thread, so every job that starts inside a window belongs to
  * the work the window brackets; tasks are attributed through their stage's
  * job. */
final class Counters extends SparkListener {
  import Counters.{Job, Task}

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val tasks = mutable.HashMap[Int, mutable.ArrayBuffer[Task]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.time, Long.MaxValue)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val t =
      if (m == null) Task(0L, 0L, 0L)
      else Task(m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten)
    tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += t
  }

  /** Counters of the jobs that started in `[fromMs, toMs]`. */
  def window(fromMs: Long, toMs: Long): Window = synchronized {
    val inside = jobs.filter { case (_, j) => j.start >= fromMs && j.start <= toMs }
    val ids = inside.keySet
    val ts = stageJob.collect { case (s, j) if ids(j) => tasks.getOrElse(s, Nil) }.flatten
    val clipped = inside.values.map(j => (math.max(j.start, fromMs), math.min(j.end, toMs))).toSeq
    Window(
      jobs = inside.size,
      tasks = ts.size,
      executorCpuS = ts.map(_.cpuNs).sum / 1e9,
      gcS = ts.map(_.gcMs).sum / 1e3,
      shuffleBytes = ts.map(_.shuffleBytes).sum,
      jobBusyS = Counters.busyS(clipped))
  }

  /** Drop everything recorded before `ms` (bounds memory across batches). */
  def forgetBefore(ms: Long): Unit = synchronized {
    val old = jobs.collect { case (id, j) if j.start < ms => id }.toSet
    old.foreach(jobs.remove)
    val oldStages = stageJob.collect { case (s, j) if old(j) => s }.toSeq
    oldStages.foreach { s => stageJob.remove(s); tasks.remove(s) }
  }
}

object Counters {
  private final case class Job(start: Long, var end: Long)
  private final case class Task(cpuNs: Long, gcMs: Long, shuffleBytes: Long)

  /** Seconds covered by the union of `[start, end]` intervals in epoch ms. */
  def busyS(intervals: Seq[(Long, Long)]): Double = {
    var busy = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { busy += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy += math.max(0L, curE - curS)
    busy / 1e3
  }
}

/** `jobBusyS` is the time the window had at least one job running. */
final case class Window(jobs: Int, tasks: Int, executorCpuS: Double, gcS: Double,
    shuffleBytes: Long, jobBusyS: Double)
