package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The scratch profilers' listener: counts Spark jobs, completed stages
  * and executor task milliseconds on one session's context since the
  * last [[reset]]. Wall time far above task time is driver work
  * (planning, AQE replans, broadcast builds); the job count is the
  * scheduling cost that `.explain` on a returned frame cannot show.
  */
private[tools] final class JobTally(spark: SparkSession) {
  @volatile var jobs = 0
  @volatile var stages = 0
  @volatile var taskMs = 0L

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      taskMs += s.stageInfo.taskMetrics.executorRunTime
    }
  })

  def reset(): Unit = { jobs = 0; stages = 0; taskMs = 0L }

  /** Runs `f` as job description `name` from a reset tally, and returns
    * its wall seconds once the listener bus has settled.
    */
  def time(name: String)(f: => Unit): Double = {
    spark.sparkContext.setJobDescription(name)
    reset()
    val t0 = System.nanoTime()
    f
    val wall = (System.nanoTime() - t0) / 1e9
    // listener events drain asynchronously; give the bus a beat
    Thread.sleep(300)
    spark.sparkContext.setJobDescription(null)
    wall
  }
}
