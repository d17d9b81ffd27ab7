package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.tools.FeaturePipeline

/** Artifact-level invariants of the composed feature-engineering loop
  * (the CurationPipelineSpec convention): the pipeline writes real
  * parquet, and the assertions read THOSE files back — so what is
  * pinned is the shipped artifact, not an in-memory frame that might
  * diverge from it.
  */
class FeaturePipelineSpec extends SparkSuite with org.scalatest.BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  private val outRoot = Files.createTempDirectory("graft-feature-pipe")

  override def afterAll(): Unit =
    try graft.util.FileUtils.deleteRecursively(outRoot) finally super.afterAll()

  private lazy val out = {
    val d = outRoot.toString
    (FeaturePipeline.run(spark, dir, d), d)
  }

  test("stage counts are consistent and the artifacts exist") {
    val (s, d) = out
    assert(s.historyRows > 0 && s.enrichedRows > 0)
    assert(s.currentRows <= s.historyRows)
    assert(s.trainRows > 0 && s.testRows > 0)
    assert(spark.read.parquet(s"$d/history").count() === s.historyRows)
    assert(spark.read.parquet(s"$d/training_rows").count()
      === s.enrichedRows)
  }

  test("every shipped training row is valid under the shipped history") {
    // the feature-store correctness property verified END-TO-END on
    // the parquet artifacts: the attached version's interval contains
    // the observation instant, and its attribute matches
    val (_, d) = out
    val hist = spark.read.parquet(s"$d/history").collect().map { r =>
      (r.getLong(0), r.getInt(1)) ->
        (r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]),
          r.getString(2))
    }.toMap
    val rows = spark.read.parquet(s"$d/training_rows").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (user, t) = (r.getLong(0), r.getLong(2))
      val (typ, ver) = (r.getString(3), r.getInt(4))
      val (from, to, attr) = hist((user, ver))
      assert(from <= t, s"user $user: version $ver starts after probe $t")
      assert(to.forall(t < _),
        s"user $user: probe $t sees expired version $ver")
      assert(attr === typ, s"user $user: attribute drifted at version $ver")
    }
  }

  test("the shipped training rows ARE the q256 gate's rows") {
    val (_, d) = out
    val shipped = spark.read.parquet(s"$d/training_rows")
      .orderBy("user_id", "asof_us", "probe_id").collect()
      .map(_.toSeq).toSeq
    val gated = SparkEntry.queries("q256_pit_join")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(shipped === gated)
  }

  test("the summary's split and eval numbers are the gated ones") {
    val (s, _) = out
    val split = SparkEntry.queries("q262_embargo_split")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s.trainRows === split("train"))
    assert(s.testRows === split("test"))
    assert(s.embargoRows === split.getOrElse("embargo", 0L))
    val eval = SparkEntry.queries("q263_next_event_eval")(spark, dir)
      .collect()
    assert(s.overallAccPermille
      === eval.head.getAs[Long]("overall_acc_permille"))
    assert(s.evalTypes === eval.length.toLong)
  }
}
