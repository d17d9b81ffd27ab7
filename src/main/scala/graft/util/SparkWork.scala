package graft.util

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The Spark work one block of driver code issued: its wall seconds, the
  * jobs it started, the stages that ran for them, their tasks' executor
  * run time and the shuffle bytes those tasks wrote. Wall time far above
  * task time is driver work (planning, AQE replans, broadcast builds);
  * the job count is the scheduling cost that `.explain` cannot show.
  */
final case class SparkWork(wallSeconds: Double, jobs: Int, stages: Int,
    taskSeconds: Double, shuffleBytes: Long)

object SparkWork {

  /** `body`'s result and its work, counted under a job tag of its own.
    * A tag, not a job group: a streaming query's thread sets its own job
    * group for its micro-batches, but it inherits the tags of the thread
    * that started it, as does every thread started inside the block.
    * Work of other threads is not counted. The listener bus is
    * asynchronous: this waits until every job seen has ended and then a
    * little longer, so that a late job would be seen too.
    */
  def of[T](spark: SparkSession)(body: => T): (T, SparkWork) = {
    val tag = s"graft-work-${java.util.UUID.randomUUID}"
    val (started, ended, ranStages) = (new AtomicInteger, new AtomicInteger, new AtomicInteger)
    val (taskMs, shuffled) = (new AtomicLong, new AtomicLong)
    val (jobs, stages) = (ConcurrentHashMap.newKeySet[Int](), ConcurrentHashMap.newKeySet[Int]())
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.job.tags", "").split(',').contains(tag)) {
          js.stageIds.foreach(stages.add)
          jobs.add(js.jobId)
          started.incrementAndGet()
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (jobs.contains(je.jobId)) ended.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (stages.contains(sc.stageInfo.stageId)) ranStages.incrementAndGet()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId) && te.taskMetrics != null) {
          taskMs.addAndGet(te.taskMetrics.executorRunTime)
          shuffled.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      sc.addJobTag(tag)
      val result = try body finally sc.removeJobTag(tag)
      val wall = (System.nanoTime() - t0) / 1e9
      val deadline = System.nanoTime() + 10000000000L
      var settled = false
      while (!settled) {
        while (ended.get < started.get && System.nanoTime() < deadline) Thread.sleep(20)
        val seen = started.get
        Thread.sleep(300)
        settled = started.get == seen || System.nanoTime() >= deadline
      }
      (result, SparkWork(wall, started.get, ranStages.get, taskMs.get / 1e3, shuffled.get))
    } finally sc.removeSparkListener(listener)
  }
}
