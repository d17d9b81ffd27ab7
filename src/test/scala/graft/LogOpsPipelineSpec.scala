package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.queries.LogDomainQueries
import graft.tools.LogOpsPipeline

/** Artifact-level invariants of the composed log-analytics loop (the
  * FeaturePipelineSpec convention): the pipeline writes real parquet,
  * and the assertions read THOSE files back — what is pinned is the
  * shipped artifact, not an in-memory frame that might diverge.
  */
class LogOpsPipelineSpec extends SparkSuite with org.scalatest.BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"

  private val outRoot = Files.createTempDirectory("graft-logops-pipe")

  override def afterAll(): Unit =
    try graft.util.FileUtils.deleteRecursively(outRoot) finally super.afterAll()

  private lazy val out = {
    val d = outRoot.toString
    (LogOpsPipeline.run(spark, dir, d), d)
  }

  test("stage counts are consistent and every artifact exists") {
    val (s, d) = out
    assert(s.totalLines > 0 && s.parsedLines > 0)
    assert(s.parsedLines <= s.totalLines)
    assert(s.nodes === 4) // user_id % 4 weave
    assert(s.errors > 0 && s.warnings > 0)
    assert(s.nTemplates > 0 && s.nSlots >= s.nTemplates)
    assert(spark.read.parquet(s"$d/node_summary").count() === s.nodes)
    assert(spark.read.parquet(s"$d/templates").count() === s.nTemplates)
    assert(spark.read.parquet(s"$d/template_params").count() === s.nSlots)
    assert(Files.readString(java.nio.file.Paths.get(s"$d/report.md"))
      .contains(s"Templates: ${s.nTemplates}"))
  }

  test("each shipped artifact IS its gate's relation") {
    val (_, d) = out
    // gate parity, artifact-level: the written templates catalog
    // equals a fresh run of the q183 registry entry row for row
    val shipped = spark.read.parquet(s"$d/templates")
      .orderBy("template").collect().toSeq
    val gate = LogDomainQueries.queries("q183_log_templates")(spark, dir)
      .orderBy("template").collect().toSeq
    assert(shipped === gate)
  }

  test("anomaly and emergent templates are drawn from the mined catalog") {
    val (_, d) = out
    val catalog = spark.read.parquet(s"$d/templates")
      .select("template").collect().map(_.getString(0)).toSet
    val anomTemplates = spark.read.parquet(s"$d/slot_anomalies")
      .select("template").distinct().collect().map(_.getString(0))
    assert(anomTemplates.nonEmpty)
    anomTemplates.foreach(t => assert(catalog(t),
      s"anomaly screen surfaced a template q183 never mined: $t"))
    val emergent = spark.read.parquet(s"$d/emergent_templates")
      .select("template").collect().map(_.getString(0))
    emergent.foreach(t => assert(catalog(t),
      s"emergent template absent from the full-corpus catalog: $t"))
  }
}
