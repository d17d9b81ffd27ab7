package graft.tools

/** Scratch per-query profiler (not part of the driver contract; run
  * manually while optimizing): executes named SparkEntry queries with
  * the bench's session shape and reports wall seconds, Spark JOB and
  * stage counts, and executor task seconds. The job count is the
  * load-bearing number for the eager gates (lake maintenance,
  * streaming foreachBatch): their work is dozens of tiny driver-issued
  * jobs that `.explain` on the returned frame cannot show.
  *
  * Usage: `runMain graft.tools.QueryProfile <sfDir> <q1,q2,...>`
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(',').toSeq)
      .getOrElse(Seq("q316_hnsw_ladder_structured"))
    val spark = graft.GraftSession.getOrCreate("graft-query-profile")
    spark.sparkContext.setLogLevel("ERROR")
    val tally = new JobTally(spark)

    def run(name: String): Unit = {
      val wall = tally.time(name) {
        graft.SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.toRdd.foreach(_ => ())
      }
      println(f"[qprof] $name%-32s wall=$wall%7.2fs jobs=${tally.jobs}%4d " +
        f"stages=${tally.stages}%4d taskSec=${tally.taskMs / 1e3}%8.2f")
      spark.catalog.clearCache()
    }
    // one warm pass (codegen compile) then the measured pass, per query
    names.foreach { n => run(n); run(n) }
    spark.stop()
  }
}
