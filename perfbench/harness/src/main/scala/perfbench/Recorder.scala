package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters of one layer call, summed over the jobs launched under the
  * call's job group. */
final class CallCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var emptyTasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var cpuNs = 0L
  /** task (launch, finish) in epoch milliseconds, for idle time */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall time of [t0, t1] (epoch ms) not covered by any task. */
  def idleMs(t0: Long, t1: Long): Long = {
    var covered = 0L
    var end = t0
    intervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    math.max(0L, (t1 - t0) - covered)
  }
}

/** SparkListener that attributes every job, stage and task to the job
  * group the harness set around a call. Registered only in traced runs. */
final class Recorder extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = new ConcurrentHashMap[String, CallCounters]()

  def counters(group: String): CallCounters =
    byGroup.computeIfAbsent(group, _ => new CallCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, group))
    val c = counters(group)
    c.synchronized { c.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      c.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      if (m != null) {
        val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        if (records == 0) c.emptyTasks += 1
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.cpuNs += m.executorCpuTime
      } else c.emptyTasks += 1
    }
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

/** One span of the traced run: ids are assigned in start order, parent
  * is -1 at the top level, times are monotonic nanoseconds. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** In-memory span recorder; spans are written out when the run ends. */
final class Spans(val runId: String) {
  var on = false
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        done += Span(id, name, parent, t0, System.nanoTime())
      }
    }

  def all: Seq[Span] = done.sortBy(_.id).toSeq
}
