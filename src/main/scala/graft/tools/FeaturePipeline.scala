package graft.tools

import graft.queries.{ModelOpsQueries, PipelineOpsQueries}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The feature-engineering loop composed ENTIRELY from the library's
  * oracle-gated building blocks — the fifth composition proof (after
  * curation, vector-index, retrieval, and crawl): the pipeline a
  * feature-store team runs from raw events to a scored model, with
  * point-in-time discipline at every step.
  *
  *   1. feature history     (SCD2 validity intervals — q74's exact
  *                           build, the persisted feature table)
  *   2. PIT enrichment      (training rows see each feature AS OF
  *                           their observation instant — q256; the
  *                           online face of the same contract is the
  *                           q259 streaming gate)
  *   3. split discipline    (train / 5%-embargo / test in exact
  *                           integer µs, train∩test user overlap
  *                           priced — q262)
  *   4. model scoring       (per-type argmax transitions trained
  *                           before the cut, top-1 accuracy on
  *                           held-out time — q263)
  *
  * Every stage calls the SAME private[graft] frame its gate executes
  * (scd2Frame / pitFrame / embargoSplitFrame / nextEventEvalFrame), so
  * the pipeline run IS the gated semantics — FeaturePipelineSpec pins
  * the artifact-level invariants (interval validity of every enriched
  * row read back from parquet, no-future-leakage, gate parity).
  */
object FeaturePipeline {

  case class Summary(
      historyRows: Long, currentRows: Long, enrichedRows: Long,
      trainRows: Long, embargoRows: Long, testRows: Long,
      overlapUsers: Long, evalTypes: Long, overallAccPermille: Long)

  /** Runs the loop over `$sfDir/events.parquet`, writes the history
    * and the enriched training rows under `outDir`, returns the stage
    * summary. Cost model: the history/enrichment stages are one
    * events shuffle each (per-user windows, no interval join); the
    * split and eval stages are one scan plus bounded aggregates.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String): Summary = {
    // 1: the persisted feature table
    val history = PipelineOpsQueries.scd2Frame(spark, sfDir).cache()
    history.write.mode("overwrite").parquet(s"$outDir/history")
    val historyRows = history.count()
    val currentRows = history.where(col("is_current")).count()

    // 2: PIT-enriched training rows (the leakage-safe join)
    val enriched = PipelineOpsQueries.pitFrame(spark, sfDir)
    enriched.write.mode("overwrite").parquet(s"$outDir/training_rows")
    val enrichedRows =
      spark.read.parquet(s"$outDir/training_rows").count()

    // 3: split discipline
    val split = ModelOpsQueries.embargoSplitFrame(spark, sfDir).collect()
      .map(r => r.getString(0) -> r)
      .toMap
    def rows(k: String) = split.get(k).map(_.getLong(1)).getOrElse(0L)
    // guarded like the adjacent rows(k) lookups: an empty events table
    // yields zero overlap, not NoSuchElementException
    val overlapUsers = split.values.headOption
      .map(_.getAs[Long]("overlap_users")).getOrElse(0L)

    // 4: model scoring on held-out time
    val eval = ModelOpsQueries.nextEventEvalFrame(spark, sfDir).collect()
    val overallAcc =
      if (eval.isEmpty) 0L
      else eval.head.getAs[Long]("overall_acc_permille")

    history.unpersist()
    Summary(historyRows, currentRows, enrichedRows,
      rows("train"), rows("embargo"), rows("test"),
      overlapUsers, eval.length.toLong, overallAcc)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir =
      if (args.length > 1) args(1) else "/tmp/graft-feature-pipeline"
    val spark = graft.GraftSession.getOrCreate("graft-feature-pipeline")
    val s = run(spark, sfDir, outDir)
    println(s"history rows:        ${s.historyRows} (current: ${s.currentRows})")
    println(s"PIT training rows:   ${s.enrichedRows} -> $outDir/training_rows")
    println(s"split rows:          train=${s.trainRows} embargo=${s.embargoRows} test=${s.testRows}")
    println(s"train/test user overlap: ${s.overlapUsers}")
    println(s"next-event eval:     ${s.evalTypes} types, overall top-1 " +
      s"accuracy ${s.overallAccPermille} permille")
    spark.stop()
  }
}
