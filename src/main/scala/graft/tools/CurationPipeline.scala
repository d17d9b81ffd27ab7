package graft.tools

import graft.functions.TextFunctions
import graft.queries.{DedupQueries, PipelineOpsQueries, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end corpus curation composed ENTIRELY from the library's
  * oracle-gated building blocks — the proof that the pieces compose
  * into the pipeline a training-data team actually runs:
  *
  *   1. language filter        (TextFunctions.langId — q21)
  *   2. quality floor          (TextFunctions.qualityScore — q22)
  *   3. exact dedup            (canonicalKey representative — q25)
  *   4. near-dup dedup         (LSH candidates → connected-component
  *                              representative — q27/q64)
  *   5. benchmark decontam     (shared-shingle screen vs the eval
  *                              slice — q73)
  *   6. deterministic split    (content-hash 80/10/10 — q57)
  *   7. parquet train/val/test + a funnel report
  *
  * Every stage keeps the gated queries' scale shapes: scan-stage
  * expressions, broadcast small sides, component labels via the
  * lineage-truncated fixpoint. The splits are layout-independent and
  * dup-leak-free (hash of the CANONICAL form: surviving near-identical
  * docs land in the same split).
  */
object CurationPipeline {

  case class Funnel(
      total: Long, langKept: Long, qualityKept: Long, exactKept: Long,
      nearDupKept: Long, decontaminated: Long,
      train: Long, valN: Long, test: Long)

  val qualityFloor = 0.5
  private val contamShingles = 2

  /** Runs the funnel over `$sfDir/documents.parquet`, writes
    * train/val/test parquet under `outDir`, returns the stage counts.
    *
    * Action budget (the 100 TB cost model): the three pre-dedup stage
    * counts come from ONE conditional aggregate over the scored scan
    * (the q58 shape — counting them as three `.count()`s would pay
    * three full corpus scans), and every later stage count reads a
    * CACHED upstream frame, so the raw corpus is scanned once for the
    * funnel plus once for the LSH signature pass.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String): Funnel = {
    val docs = Tables(spark, sfDir, "documents")

    // 1-2: language + quality — one scan, one aggregate for all three
    // pre-dedup counts
    val scored = docs
      // token array materialized once (qualityScoreFromTokens scaladoc)
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .withColumn("lang_id", TextFunctions.langId(col("text")))
      .withColumn("quality",
        TextFunctions.qualityScoreFromTokens(col("toks"), col("text")))
      .drop("toks")
    val langOk = col("lang_id") === "en"
    val qualOk = langOk && col("quality") >= qualityFloor
    val pre = scored.agg(count(lit(1)).as("total"),
      count(when(langOk, 1)).as("lang_kept"),
      count(when(qualOk, 1)).as("quality_kept")).head()
    val (total, langKept, qualityKept) =
      (pre.getLong(0), pre.getLong(1), pre.getLong(2))

    // 3: exact dedup — keep the min doc_id per canonical form. Cached:
    // it feeds the pair restriction, the near-dup anti-join and (via
    // nearDf/cleanDf) the decontamination screen and the split.
    val wCanon = Window.partitionBy("canon_key").orderBy("doc_id")
    val exactDf = scored.where(qualOk)
      .withColumn("canon_key", TextFunctions.canonicalKey(col("text")))
      .withColumn("rn", row_number().over(wCanon))
      .where(col("rn") === 1).drop("rn")
      .cache()
    val exactKept = exactDf.count()

    // 4: near-dup representatives — LSH pairs restricted to survivors,
    // drop every component member except its min-id label
    val pairs = DedupQueries.lshCandidates(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    val surviving = exactDf.select(col("doc_id"))
    val survivingPairs = pairs
      .join(surviving.withColumnRenamed("doc_id", "doc_a"), "doc_a", "leftsemi")
      .join(surviving.withColumnRenamed("doc_id", "doc_b"), "doc_b", "leftsemi")
    val nonReps = DedupQueries.componentLabels(survivingPairs)
      .where(col("node") =!= col("label"))
      .select(col("node").as("doc_id"))
    // UNHINTED (the q150 rule): non-representative members are a
    // corpus FRACTION in web data, so the anti-join strategy is
    // stats-chosen — broadcast at gate scale, doc_id-keyed shuffle at
    // production
    val nearDf = exactDf.join(nonReps, Seq("doc_id"), "left_anti")
      .cache()
    val nearDupKept = nearDf.count()

    // 5: decontamination — drop the eval slice itself, then every doc
    // sharing >= contamShingles shingles with it (q73's screen, and
    // q73's EXACT eval-slice definition: modulus AND fixed id horizon —
    // an uncapped modulus slice grows with the corpus and makes the
    // shingle-pair work quadratic in SF)
    def grams(d: DataFrame) = d.select(col("doc_id"), explode(array_distinct(
      graft.functions.ShingleHash(TextFunctions.tokens(col("text")), 3))).as("h"))
    val isEval = PipelineOpsQueries.isTestDoc(col("doc_id"))
    val evalGrams = grams(docs.where(isEval))
      .select(col("doc_id").as("eval_doc"), col("h"))
    val contaminated = grams(nearDf.where(!isEval))
      .join(broadcast(evalGrams), "h")  // hint audit: eval-horizon-bounded (capped id slice)
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= contamShingles)
      .select("doc_id")
    // UNHINTED: contaminated-doc volume is not provably bounded (it
    // scales with eval-shingle overlap in the corpus) — stats choose
    val cleanDf = nearDf.where(!isEval)
      .join(contaminated, Seq("doc_id"), "left_anti")

    // 6: deterministic split on the canonical-form hash (dup-leak-free:
    // any surviving near-identical docs share a bucket), 80/10/10
    val bucket = pmod(TextFunctions.polyHash(col("canon_key")), lit(10))
    val split = cleanDf.withColumn("split",
      when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test"))
    val out = split.select(col("doc_id"), col("text"), col("lang"),
      col("source"), col("quality"), col("split")).cache()
    // decontaminated = Σ split counts: same cached frame, no extra pass
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val decontaminated = counts.valuesIterator.sum
    for (s <- Seq("train", "val", "test"))
      out.where(col("split") === s).drop("split")
        .write.mode("overwrite").parquet(s"$outDir/$s")
    out.unpersist()
    nearDf.unpersist()
    exactDf.unpersist()

    Funnel(total, langKept, qualityKept, exactKept, nearDupKept,
      decontaminated,
      counts.getOrElse("train", 0L), counts.getOrElse("val", 0L),
      counts.getOrElse("test", 0L))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-curated"
    val spark = graft.GraftSession.getOrCreate("graft-curation")
    val f = run(spark, sfDir, outDir)
    println(s"total=${f.total} lang=${f.langKept} quality=${f.qualityKept} " +
      s"exact=${f.exactKept} nearDup=${f.nearDupKept} " +
      s"decontaminated=${f.decontaminated} " +
      s"train=${f.train} val=${f.valN} test=${f.test} -> $outDir")
    spark.stop()
  }
}
