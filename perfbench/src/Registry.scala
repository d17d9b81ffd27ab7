package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The `logdom` family of the `SparkEntry` registry, run by the traced
  * run on small `events` and `documents` tables that `run.py` generates
  * from the seed. A first pass writes each query's result as parquet,
  * with the registry's oracle SQL, for `run.py` to compare against
  * DuckDB; it also warms up. A second pass, in another seeded order,
  * builds and drains each query as `graft.Bench` does (`toRdd`, then
  * `clearCache`) and is timed.
  */
object Registry {

  final case class Timing(query: String, planMs: Double, execMs: Double,
                          planJobs: Long, execJobs: Long)

  /** `graft.Bench`'s SQL settings, on a session that shares the running
    * SparkContext (and so its master and listener).
    */
  private def benchSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    Seq("spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true").foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  def run(spark: SparkSession, tables: String, out: String, seed: Long,
          listener: SpanListener): Seq[Timing] = {
    val s = benchSession(spark)
    val sc = s.sparkContext
    val names = SparkEntry.families("logdom").toSeq.sorted
    def ms(t0: Long) = (System.nanoTime() - t0) / 1e6
    new Random(seed * 7919L).shuffle(names).foreach { name =>
      SparkEntry.queries(name)(s, tables).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      s.catalog.clearCache()
    }
    Files.writeString(Paths.get(out, "oracle_sql.json"), compact(render(JObject(
      names.flatMap(n => SparkEntry.oracleSql.get(n).map(sql => n -> (JString(sql): JValue))).toList))))
    val timed = new Random(seed * 7919L + 1).shuffle(names).map { name =>
      val group = s"registry/$name"
      sc.setJobGroup(s"$group/plan", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(s, tables)
      df.queryExecution.executedPlan
      val plan = ms(t0)
      sc.setJobGroup(s"$group/exec", name, interruptOnCancel = false)
      val t1 = System.nanoTime()
      df.queryExecution.toRdd.foreach(_ => ())
      val exec = ms(t1)
      sc.clearJobGroup()
      s.catalog.clearCache()
      (group, name, plan, exec)
    }
    org.apache.spark.PerfbenchBus.drain(sc)
    timed.map { case (group, name, plan, exec) =>
      Timing(name, plan, exec, listener.get(s"$group/plan").jobs, listener.get(s"$group/exec").jobs)
    }
  }
}
