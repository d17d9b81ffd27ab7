package graft.tools

import graft.ext.KMeans
import graft.queries.{SimilarityQueries, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end ANN index-serving pipeline composed ENTIRELY from the
  * library's oracle-gated vector components — the retrieval analogue
  * of [[CurationPipeline]]: the proof that the PQ/IVF pieces compose
  * into the train → build → serve → evaluate loop a vector-search
  * deployment actually runs.
  *
  *   1. IVF centroid train    (ext/KMeans Lloyd loop — q78's gated
  *                             assignment expression, iterated; or the
  *                             gated id-drawn codebook when iters=0)
  *   2. PQ codeword refresh   (q181's gated Lloyd step, looped —
  *                             SimilarityQueries.pqRefreshFrame)
  *   3. corpus encode + audit (q168's gated encode —
  *                             pqEncodeFrame; Σqerr is the
  *                             staleness number that triggers step 2)
  *   4. IVF route + nprobe search (q177/q184's gated shared frame —
  *                             ivfPqTopN)
  *   5. recall eval           (q180/q185's gated shared frame —
  *                             pqRecallFrame)
  *
  * Every stage runs through the SAME private[graft] definitions the
  * gated queries execute (IndexPipelineSpec pins the zero-config run
  * equal to the q180/q185 gate values), so the pipeline cannot drift
  * from the oracle-proven semantics. Scale shapes are inherited:
  * codebooks are driver-side literals folded into scan-stage
  * projections, search is a broadcast-probe × cell-partitioned codes
  * join, evals are probe-bounded.
  */
object IndexPipeline {

  /** @param kmeansInertia per-iteration IVF inertia (empty if iters=0)
    * @param qerrInit      Σ quantization error under the seed codebook
    * @param qerrByRound   Σ qerr after each refresh round (Lloyd:
    *                      round 1 must improve on the id-drawn seed)
    * @param recallByNprobe (nprobe, overall recall permille) under the
    *                      FINAL codebook/centroids
    */
  /** @param mrrByNprobe  overall MRR in micro-units (q208's frame)
    * @param ndcgByNprobe mean nDCG@k permille (q215's frame) — with
    *                     recall, the full eval triptych per nprobe
    */
  case class Report(
      kmeansInertia: Seq[Double],
      qerrInit: Long,
      qerrByRound: Seq[Long],
      recallByNprobe: Seq[(Int, Long)],
      mrrByNprobe: Seq[(Int, Long)],
      ndcgByNprobe: Seq[(Int, Long)])

  def run(spark: SparkSession, sfDir: String,
      kmeansIters: Int, refreshRounds: Int,
      nprobes: Seq[Int]): Report = {
    // 1. IVF centroids: trained (Lloyd to kmeansIters) or the gated
    // id-drawn codebook (iters=0 — the q37/q177 configuration)
    val (inertia, centsOpt) =
      if (kmeansIters == 0) (Seq.empty[Double], None)
      else {
        val km = KMeans.train(Tables(spark, sfDir, "embeddings"),
          "vec_id", "embedding", k = 8, iters = kmeansIters)
        km.cells.unpersist(blocking = false)
        (km.inertia,
          Some(km.centroids.zipWithIndex.map { case (c, i) =>
            (i.toLong, c, c.map(x => x * x).sum)
          }.toSeq))
      }

    // 2-3. PQ codeword refresh loop + the encode-audit number that
    // drives it (both are the gated frames; Σqerr is one agg over the
    // scan-stage encode — no shuffle beyond the 1-row rollup)
    def totalQerr(cb: Array[Array[Long]]): Long =
      SimilarityQueries.pqEncodeFrame(spark, sfDir, cb)
        .agg(sum(col("qerr"))).head().getLong(0)
    var cb = SimilarityQueries.pqCodebook(spark, sfDir)
    val qerrInit = totalQerr(cb)
    val qerrByRound = (1 to refreshRounds).map { _ =>
      cb = SimilarityQueries.refreshedCodebook(spark, sfDir, cb)
      totalQerr(cb)
    }

    // 4-5. nprobe search + the FULL eval triptych under the final
    // artifacts, through the gated shared frames: recall@k (set
    // overlap, q180/q185), MRR (best-hit rank, q208), nDCG@k (graded
    // whole-list order, q215) — the dashboard a serving deployment
    // reads per nprobe setting
    val recall = nprobes.map { np =>
      np -> SimilarityQueries
        .pqRecallFrame(spark, sfDir, np, Some(cb), centsOpt)
        .select("overall_recall_permille").head().getLong(0)
    }
    val mrr = nprobes.map { np =>
      np -> SimilarityQueries
        .pqMrrFrame(spark, sfDir, np, Some(cb), centsOpt)
        .select("mrr_micro").head().getLong(0)
    }
    val ndcg = nprobes.map { np =>
      np -> SimilarityQueries
        .pqNdcgFrame(spark, sfDir, np, Some(cb), centsOpt)
        .select("mean_ndcg_permille").head().getLong(0)
    }
    Report(inertia, qerrInit, qerrByRound, recall, mrr, ndcg)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val kmeansIters = if (args.length > 1) args(1).toInt else 2
    val refreshRounds = if (args.length > 2) args(2).toInt else 2
    val spark = graft.GraftSession.getOrCreate("graft-index-pipeline")
    val r = run(spark, sfDir, kmeansIters, refreshRounds, Seq(1, 4, 8))
    println(s"ivf inertia: ${r.kmeansInertia.map(v => f"$v%.2f").mkString(" -> ")}")
    println(s"pq qerr: ${r.qerrInit} -> ${r.qerrByRound.mkString(" -> ")}")
    r.recallByNprobe.foreach { case (np, rec) =>
      println(s"recall@5 permille (nprobe=$np): $rec")
    }
    r.mrrByNprobe.foreach { case (np, v) =>
      println(s"mrr micro (nprobe=$np): $v")
    }
    r.ndcgByNprobe.foreach { case (np, v) =>
      println(s"ndcg@5 permille (nprobe=$np): $v")
    }
    spark.stop()
  }
}
