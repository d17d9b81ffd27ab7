package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark engine counters of one span (one job group). Times in
  * seconds, sizes in bytes. `taskIntervals` are (launch, finish) epoch
  * milliseconds, kept to compute the span's idle share.
  */
final class EngineCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskS = 0.0
  var taskCpuS = 0.0
  var schedWaitS = 0.0
  var gcS = 0.0
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Share of [start, end] during which no task of this span ran. */
  def idleFrac(start: Long, end: Long): Double = {
    val wall = math.max(1L, end - start)
    var busy = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    taskIntervals.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sorted.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) busy += curE - curS
    1.0 - busy.toDouble / wall
  }
}

/** Collects per-job-group engine counters. Registered from the
  * benchmark only in traced runs; each span sets its own job group.
  */
final class SpanListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val counts = new ConcurrentHashMap[String, EngineCounts]()

  private def of(group: String): EngineCounts =
    counts.computeIfAbsent(group, _ => new EngineCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untagged")
    e.stageIds.foreach(stageGroup.put(_, g))
    val c = of(g)
    c.synchronized(c.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val c = of(g)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val c = of(g)
      val info = e.taskInfo
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (!info.successful) c.failedTasks += 1
        c.taskIntervals += ((info.launchTime, info.finishTime))
        if (m != null) {
          c.taskS += m.executorRunTime / 1e3
          c.taskCpuS += m.executorCpuTime / 1e9
          c.gcS += m.jvmGCTime / 1e3
          // the Spark UI's scheduler delay: task duration not spent
          // deserializing, running, serializing or shipping the result
          c.schedWaitS += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime) / 1e3
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  def get(group: String): EngineCounts = Option(counts.get(group)).getOrElse(new EngineCounts)
}

/** One traced operation: its job group, wall interval and layer times. */
final case class Span(
    group: String,
    op: String,
    startMs: Long,
    endMs: Long,
    layers: Map[String, Double])
