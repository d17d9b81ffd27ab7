package graft

import graft.tools.Profile

/** `tools.Profile`'s measured pass on the smallest fixture, under a conf
  * that is restored afterwards, and the session's AQE pair it A/Bs.
  */
class ProfileSpec extends SparkSuite {

  test("one record per selected query, its confs restored afterwards") {
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    val records = Profile.run(spark, "/root/testdata/sf0.001", Seq("q01_"),
      Seq("spark.sql.adaptive.enabled" -> "false"))
    assert(records.map(_._1) == Seq("q01_pushdown_agg"))
    assert(records.head._2.get.jobs >= 1)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }
}
