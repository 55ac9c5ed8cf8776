package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One span recorded from the harness side: a pass, a call into a graft
  * module, or a check.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Span recorder. Spans are kept in memory and written out when the run
  * ends; with tracing off, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val buf = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = buf.size
      val parent = stack.headOption.getOrElse(-1)
      buf += Span(id, parent, name, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        buf(id) = buf(id).copy(endNs = System.nanoTime())
      }
    }

  def spans: Seq[Span] = buf.toSeq
}

/** Task, stage and job totals of the jobs run under one job group. */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  /** Max over median task time of the stage with the most task time. */
  def taskSkew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val ts = taskMs.values.maxBy(_.sum).sorted
      val med = ts(ts.size / 2).max(1L)
      ts.last.toDouble / med
    }

  /** Milliseconds of `[startMs, endMs]` during which no job of the group ran. */
  def gapMs(startMs: Long, endMs: Long): Long = {
    var covered = 0L
    var reach = startMs
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      val lo = math.max(s, reach)
      val hi = math.min(e, endMs)
      if (hi > lo) covered += hi - lo
      reach = math.max(reach, e)
    }
    math.max(0L, endMs - startMs - covered)
  }
}

/** Harness listener: aggregates Spark task metrics per job group, so the
  * jobs of one timed pass can be told apart from the jobs of its checks.
  * All callbacks run on the listener bus thread; readers call `await`
  * first.
  */
final class EngineListener extends SparkListener {
  private val groups = mutable.Map[String, GroupStats]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobGroup = mutable.Map[Int, (String, Long)]()
  private val ended = mutable.Set[Int]()

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    groups.getOrElseUpdate(g, new GroupStats).jobs += 1
    jobGroup(e.jobId) = (g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, t0) =>
      groups(g).jobIntervals += ((t0, e.time))
    }
    ended += e.jobId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => groups(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = groups(g)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
      s.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    }
  }

  /** Waits until the bus has delivered the end of every job of `group`. */
  def await(sc: SparkContext, group: String): GroupStats = {
    val ids = sc.statusTracker.getJobIdsForGroup(group)
    val deadline = System.nanoTime() + 10000000000L
    while (synchronized(!ids.forall(ended.contains)) && System.nanoTime() < deadline)
      Thread.sleep(5)
    synchronized(groups.getOrElse(group, new GroupStats))
  }
}
