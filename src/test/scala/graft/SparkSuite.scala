package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session

  /** The Spark jobs `body` runs and the shuffle bytes their tasks write,
    * counted under a job group of their own. The listener bus is
    * asynchronous: this waits until every job seen has ended and then a
    * little longer, so that a late job would be seen too.
    */
  def sparkWork(body: => Unit): (Int, Long) = {
    val group = s"spark-work-${System.nanoTime()}"
    val (started, ended, shuffled) = (new AtomicInteger, new AtomicInteger, new AtomicLong)
    val (jobs, stages) = (ConcurrentHashMap.newKeySet[Int](), ConcurrentHashMap.newKeySet[Int]())
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("spark.jobGroup.id") == group) {
          js.stageIds.foreach(stages.add)
          jobs.add(js.jobId)
          started.incrementAndGet()
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (jobs.contains(je.jobId)) ended.incrementAndGet()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId) && te.taskMetrics != null)
          shuffled.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted work")
      try body finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      var settled = false
      while (!settled) {
        while (ended.get < started.get && System.nanoTime() < deadline) Thread.sleep(20)
        val seen = started.get
        Thread.sleep(300)
        settled = started.get == seen || System.nanoTime() >= deadline
      }
      (started.get, shuffled.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSuite {
  lazy val session: SparkSession = GraftSession.getOrCreate("graft-test", cpus = 4)
}
