package graft.tools

/** Scratch profiler for the graph-ANN tier (not part of the driver
  * contract; run manually while optimizing). Times the build's
  * sub-pieces through the noop sink and reports, per piece, wall
  * seconds vs executor task seconds vs job/stage counts — the gap
  * between wall and task time is driver work (planning, AQE replans,
  * broadcast builds).
  */
object GraphProfile {
  def main(args: Array[String]): Unit = {
    val (confs, rest) = args.partition(_.contains("="))
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.getOrCreate("graft-graph-profile")
    spark.sparkContext.setLogLevel("ERROR")
    // `k=v` arguments override runtime SQL confs of the session
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    }
    val tally = new JobTally(spark)

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def time(name: String)(f: => Unit): Unit = {
      val dt = tally.time(name)(f)
      println(f"[gprof] $name%-28s wall=$dt%7.3f taskSec=${tally.taskMs / 1e3}%7.3f jobs=${tally.jobs}%3d stages=${tally.stages}%3d")
      spark.catalog.clearCache()
    }

    val q = graft.SparkEntry.queries
    def run(name: String): Unit =
      time(name)(q(name)(spark, sfDir).queryExecution.toRdd.foreach(_ => ()))

    // warm codegen at the smallest SF
    Seq("q304_knn_diversify", "q315_delta_knn_diversify").foreach { n =>
      try q(n)(spark, "/root/testdata/sf0.001").queryExecution.toRdd
        .foreach(_ => ())
      catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }

    import graft.queries.SimilarityQueries._
    time("base-topm")(noop(knnBaseTopM(spark, sfDir)))
    time("merged-pool") {
      val topm = knnBaseTopM(spark, sfDir).cache()
      noop(knnMergedPool(spark, sfDir, topm))
      topm.unpersist()
    }
    time("diversify-over-cached-pool") {
      val pool = knnMergedPool(spark, sfDir,
        knnBaseTopM(spark, sfDir).cache()).cache()
      noop(pool)
      tally.reset() // isolate the select itself
      noop(diversifySelect(spark, sfDir, pool))
      pool.unpersist()
    }
    time("delta-change-only") {
      val (o, n, t) = deltaDiversifyChange(spark, sfDir)
      noop(o); noop(n); noop(t)
    }
    run("q304_knn_diversify")
    run("q305_graph_search_diversified")
    run("q315_delta_knn_diversify")
    run("q327_delete_knn_diversify")
    run("q316_hnsw_ladder_structured")
    spark.stop()
  }
}
