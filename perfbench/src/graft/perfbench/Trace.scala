package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of the harness: a call into a module's public entry
  * point, a Catalyst phase, or an op. Kept in memory, written at exit. */
final case class Span(id: Int, parent: Int, name: String, layer: String, group: String,
                      t0: Long, t1: Long)

/** Spans around the harness's own calls. With `on = false` [[span]] runs the
  * body and records nothing, so untraced runs execute the same code. */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, String, Long)]
  private var nextId = 0
  var group: String = ""

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      stack.push((id, name, layer, System.nanoTime()))
      try body
      finally {
        val (_, n, l, t0) = stack.pop()
        val parent = if (stack.isEmpty) -1 else stack.top._1
        spans += Span(id, parent, n, l, group, t0, System.nanoTime())
      }
    }

  /** Record an interval measured elsewhere (a Spark job or stage from the
    * listener), as a child of `parent`. */
  def record(parent: Int, name: String, layer: String, group: String, t0: Long, t1: Long): Int = {
    spans += Span(nextId, parent, name, layer, group, t0, t1); nextId += 1
    nextId - 1
  }

  def all: Seq[Span] = spans.toSeq
}

/** Spark's side of the run as the harness sees it: counters summed from
  * task ends (both modes) and, when tracing, job/stage/task intervals
  * tagged with the job group the harness sets per op. */
final class SparkSide(sc: SparkContext, keepIntervals: Boolean) extends SparkListener {
  import SparkSide._

  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var tasks = 0L
  @volatile var taskNanos = 0L
  @volatile var taskCpuNanos = 0L
  @volatile var shuffleWrite = 0L
  @volatile var spillDisk = 0L
  @volatile var recordsRead = 0L
  private val jobLog = new ConcurrentLinkedQueue[Job]()
  private val stageLog = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
  private val taskLog = new ConcurrentLinkedQueue[Task]()

  // listener events carry wall-clock millis; spans use nanoTime
  private val clockSkew = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def nanos(ms: Long): Long = ms * 1000000L + clockSkew

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    if (keepIntervals) {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobLog.add(Job(e.jobId, g, e.stageIds, nanos(e.time), -1L))
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (keepIntervals) jobLog.asScala.find(_.id == e.jobId).foreach(_.t1 = nanos(e.time))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val si = e.stageInfo
    if (keepIntervals)
      for (a <- si.submissionTime; b <- si.completionTime)
        stageLog.put(si.stageId, Stage(si.stageId, nanos(a), nanos(b)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskNanos += m.executorRunTime * 1000000L
      taskCpuNanos += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spillDisk += m.diskBytesSpilled
      recordsRead += m.inputMetrics.recordsRead
    }
    if (keepIntervals && e.taskInfo != null)
      taskLog.add(Task(e.stageId, nanos(e.taskInfo.launchTime), nanos(e.taskInfo.finishTime)))
  }

  /** Block until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def jobsOf(group: String): Seq[Job] = jobLog.asScala.filter(_.group == group).toSeq
  def stage(id: Int): Option[Stage] = Option(stageLog.get(id))
  def tasksOfStages(ids: Set[Int]): Seq[Task] = taskLog.asScala.filter(t => ids(t.stage)).toSeq
  def clearIntervals(): Unit = { jobLog.clear(); stageLog.clear(); taskLog.clear() }
}

object SparkSide {
  final case class Job(id: Int, group: String, stages: Seq[Int], t0: Long, var t1: Long)
  final case class Stage(id: Int, t0: Long, t1: Long)
  final case class Task(stage: Int, t0: Long, t1: Long)
}

/** JVM-side counters read around a pass. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
  private val jit = ManagementFactory.getCompilationMXBean

  def cpuNanos(): Long = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  def jitMillis(): Long =
    if (jit != null && jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L

  /** Heap still in use after a full collection: what the pass retained. The
    * second collection takes what Spark's cleaner released in between. */
  def retainedHeapBytes(): Long = {
    System.gc()
    Thread.sleep(50)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

/** Union length of possibly overlapping intervals. */
object Intervals {
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def clip(x: (Long, Long), w: (Long, Long)): (Long, Long) =
    (math.max(x._1, w._1), math.min(x._2, w._2))
}
