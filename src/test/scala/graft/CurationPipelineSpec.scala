package graft

import java.nio.file.Files

import graft.tools.CurationPipeline
import graft.util.SparkWork
import org.apache.spark.sql.functions._

/** The composed curation funnel on sf0.001: monotone stage counts,
  * split disjointness/completeness, and the per-stage invariants
  * (quality floor holds, no duplicate canonical forms, no eval-slice
  * doc or contaminated doc in the output).
  */
class CurationPipelineSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("funnel counts are monotone and splits partition the output") {
    val out = Files.createTempDirectory("graft-curation").toString
    // job budget: the pre-dedup stage counts (total/lang/quality) must
    // come from ONE conditional aggregate and the later stages from
    // cached frames. Measured on this fixture: single-pass funnel = 59
    // jobs (most are AQE stages + the component-labels fixpoint), the
    // old one-count-per-stage lineage-recompute shape = 71 — the bound
    // sits between them, and each job it saves is a full corpus scan
    // at real scale.
    try {
      val (f, work) = SparkWork.of(spark)(CurationPipeline.run(spark, dir, out))
      info(s"spark jobs for one run: ${work.jobs}")
      assert(work.jobs <= 65, s"job budget blown: ${work.jobs} jobs")

      // stage counts must equal the independently (naively) recomputed
      // per-stage filters — the single-aggregate funnel is an
      // optimization, not a semantics change
      val scored = spark.read.parquet(s"$dir/documents.parquet")
        .withColumn("lang_id",
          graft.functions.TextFunctions.langId(col("text")))
        .withColumn("quality",
          graft.functions.TextFunctions.qualityScore(col("text")))
      assert(f.total === scored.count())
      assert(f.langKept === scored.where(col("lang_id") === "en").count())
      assert(f.qualityKept === scored.where(col("lang_id") === "en" &&
        col("quality") >= CurationPipeline.qualityFloor).count())

      assert(f.total > 0)
      assert(f.total >= f.langKept && f.langKept >= f.qualityKept &&
        f.qualityKept >= f.exactKept && f.exactKept >= f.nearDupKept &&
        f.nearDupKept >= f.decontaminated)
      assert(f.decontaminated === f.train + f.valN + f.test)
      assert(f.decontaminated > 0 && f.train > f.valN && f.train > f.test)

      val parts = Seq("train", "val", "test")
        .map(s => spark.read.parquet(s"$out/$s"))
      // disjoint + complete by doc_id
      val union = parts.reduce(_ union _)
      assert(union.count() === f.decontaminated)
      assert(union.select("doc_id").distinct().count() === f.decontaminated)

      // per-row invariants on the union
      assert(union.where(col("quality") < CurationPipeline.qualityFloor)
        .count() === 0)
      assert(union.where(col("doc_id") % 23 === 0).count() === 0) // eval slice out
      // no two surviving docs share a canonical form
      val canon = union.select(
        graft.functions.TextFunctions.canonicalKey(col("text")).as("k"))
      assert(canon.distinct().count() === f.decontaminated)

      // determinism: a second run reproduces the same funnel
      val out2 = Files.createTempDirectory("graft-curation2").toString
      try assert(CurationPipeline.run(spark, dir, out2) === f)
      finally graft.util.FileUtils.deleteRecursively(
        java.nio.file.Paths.get(out2))
    } finally graft.util.FileUtils.deleteRecursively(
      java.nio.file.Paths.get(out))
  }
}
