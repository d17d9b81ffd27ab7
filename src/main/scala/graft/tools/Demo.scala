package graft.tools

import graft.ingest.{LogCatalog, RemoteFetch, RemoteFetcher}
import graft.query.LogQueries
import graft.report.Reports

/** Runnable end-to-end demo of the analytics surface — the engine-side
  * equivalents of the reference's MCP tools over an inline corpus.
  * `sbt "runMain graft.tools.Demo [logFile]"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.getOrCreate("graft-demo")
    spark.sparkContext.setLogLevel("ERROR")

    val catalog = new LogCatalog(spark)
    val (lines1, nodes1) = catalog.loadInline("node1_system",
      Seq(
        "INFO  [2026-05-14 10:00:00,001] [main] o.a.c.Service:100 - Startup complete",
        "ERROR [2026-05-14 10:00:01,002] [ReadStage-2] o.a.c.db.ReadCommand:512 - Read timed out after 5000ms",
        "ERROR [2026-05-14 10:00:02,003] [MutationStage-1] o.a.c.Mutation:9 - java.lang.OutOfMemoryError: Java heap space",
        "java.lang.RuntimeException: boom",
        "WARN  [2026-05-14 10:00:03,004] [main] o.a.c.Batch:5 - batch too large: 128 statements"
      ).mkString("\n") + "\n")
    println(s"== load_logs: $lines1 lignes, $nodes1 nodes")

    // the file's `tail -n 3` runs at the source, as a remote fetch's does
    args.headOption.foreach { path =>
      val local = RemoteFetch.NodeConfig("localhost", sys.props("user.name"))
      new RemoteFetcher(_ => new RemoteFetch.LocalShellRunner)
        .readLogFile(local, path, tailLines = Some(3)) match {
        case Right(content) =>
          val (n, total) = catalog.loadContent("node2_system", content)
          println(s"== load from file (tail -n 3): $n lignes, $total node keys")
        case Left(e) => println(s"== [skip] ${e.message}")
      }
    }

    println("\n==== analyze_cluster ====")
    println(Reports.renderAnalysis(catalog))
    println("\n==== search_logs 'timed out' ====")
    println(Reports.renderSearch(catalog, "timed out"))
    println("\n==== search_logs case-sensitive 'RUNTIME' (expect none) ====")
    println(Reports.renderSearch(catalog, "RUNTIME", caseSensitive = true))
    println("\n==== search_logs node_filter=ghost (expect none) ====")
    println(Reports.renderSearch(catalog, ".", nodeFilter = Some("ghost")))
    println("\n==== get_errors limit=2 ====")
    println(Reports.renderErrors(catalog, limit = 2))
    println("\n==== compare_nodes ====")
    println(Reports.renderCompare(catalog))
    println("\n==== detect_issues severity=critical ====")
    println(Reports.renderIssues(catalog, "critical"))
    println("\n==== resources ====")
    println(Reports.nodesJson(catalog))
    println(Reports.analysisJson(catalog))

    // user-regex error path: invalid pattern surfaces as an exception
    try {
      LogQueries.searchLogs(catalog, "(unclosed").count()
      println("\n[probe] invalid regex: NO error (unexpected)")
    } catch {
      case e: Throwable =>
        println(s"\n[probe] invalid regex -> ${e.getClass.getSimpleName}: ${e.getMessage.linesIterator.next()}")
    }

    // extension-tier showcase over the parquet fixtures (when present)
    val sfDir = sys.env.getOrElse("GRAFT_DEMO_SF", "/root/testdata/sf0.001")
    if (new java.io.File(s"$sfDir/documents.parquet").exists()) {
      println(s"\n==== extension tier over $sfDir ====")
      def show(name: String, n: Int = 5): Unit = {
        println(s"\n-- $name --")
        graft.SparkEntry.queries(name)(spark, sfDir).show(n, truncate = false)
      }
      show("q25_dedup_exact")
      show("q27_minhash_lsh")
      show("q29_cosine_topk")
      show("q37_ann_ivf")
      show("q21_lang_id")
      show("q42_corr_stats")
      show("q47_funnel")
      show("q54_topk_custom")
      show("q55_winnowing")
      // round-5 pipeline surface: skew salting, PII scrub, repetition,
      // URL rollup, dup clustering, sampling/mixing/packing, streaming
      show("q60_skew_join")
      show("q61_pii_redact")
      show("q62_repetition")
      show("q63_url_domains")
      show("q64_dedup_clusters")
      show("q66_stratified_sample")
      show("q68_seq_packing")
      show("q70_stream_sessions")
      // round-6 governance/layout/model-refresh tier
      show("q73_contamination")
      show("q74_scd2")
      show("q75_zorder_layout")
      show("q76_anomaly_buckets")
      show("q77_bm25")
      show("q80_bloom_join")
      // round-7 corpus/quality-ops tier: selection, retrieval layout,
      // graph signals, validation, streaming sketch
      show("q87_profile_sketch")
      show("q89_source_cap")
      show("q90_domain_pagerank")
      show("q96_importance_weights")
      show("q97_dup_ngram_spans")
      show("q99_compaction_plan")
      show("q103_triangle_count")
      show("q104_equidepth_deciles")
      show("q105_curriculum_shards")
      show("q110_index_retrieval")
      show("q112_validation_rules", 1)
      show("q113_downsample")
      show("q115_sorted_neighborhood")
      show("q122_mad_outliers")
      show("q123_dedup_stats")
      show("q124_vocab_growth")
      show("q125_bpe_pairs")
      show("q126_rank_fusion")
      show("q127_lang_confusion")
      show("q129_cooccurrence")
      // corpus-modeling + data-shape tiers: self-steering statistics
      // and distribution/layout shape
      show("q133_token_familiarity")
      show("q136_drift_report")
      show("q138_delta_dedup")
      show("q139_linkage_score")
      show("q140_vocab_coverage")
      show("q142_cms_estimate")
      show("q143_pareto_frontier")
      show("q144_gap_fill")
      show("q145_char_collision")
      show("q107_stream_kmv")
      // round-11 tier: tokenization pass + multimodal/span dedup
      show("q159_bpe_encode")
      show("q160_phash_neardup")
      show("q161_dup_span_removal")
      show("q162_frame_containment")
      show("q163_delta_index")
      show("q164_stream_index")
      show("q165_schema_evolution")
      show("q166_partition_backfill")
      show("q167_packed_ids")
      println("-- approx tier --")
      graft.ext.ApproxStats.dedupCardinality(
        spark.read.parquet(s"$sfDir/documents.parquet")).show(5, truncate = false)
      println("-- k-means refresh (ext/KMeans, 2 Lloyd iterations) --")
      val km = graft.ext.KMeans.train(
        spark.read.parquet(s"$sfDir/embeddings.parquet"),
        "vec_id", "embedding", k = 4, iters = 2)
      println(s"inertia per iteration: ${km.inertia.mkString(" -> ")}")
      km.cells.groupBy("cell").count().orderBy("cell").show(truncate = false)
      km.cells.unpersist()
      println("-- BPE trainer (ext/BpeTrainer: 1 corpus scan + histogram merges) --")
      val bpe = graft.ext.BpeTrainer.train(
        spark.read.parquet(s"$sfDir/documents.parquet"), "text", 8)
      println(s"vocab words ${bpe.wordCount}; first merges: " +
        bpe.merges.map { case (a, b) => s"$a+$b" }.mkString(", "))
      println(s"encode('training') = ${bpe.encode("training").mkString("|")}")
      println("-- linear probe (ext/RidgeProbe off the q148 moment matrix) --")
      val probe = graft.ext.RidgeProbe.train(
        graft.queries.ModelOpsQueries.queries("q148_gramian")(spark, sfDir),
        lambda = 1e-6)
      println(f"train mse ${probe.trainMse}%.4f vs mean-only ${probe.targetVar}%.4f" +
        f" (intercept ${probe.intercept}%.3f, |w| ${
          math.sqrt(probe.weights.map(w => w * w).sum)}%.3f)")
      println("-- graph tier (q231 PageRank / q235 HITS / q242 LPA) --")
      graft.queries.CrawlOpsQueries
        .queries("q231_host_pagerank")(spark, sfDir)
        .show(3, truncate = false)
      val lpa = graft.queries.CrawlOpsQueries
        .queries("q242_lpa_communities")(spark, sfDir)
        .select("community", "n_hosts", "modularity_micro").head()
      println(s"LPA: community ${lpa.getLong(0)} holds ${lpa.getLong(1)} " +
        s"hosts; fleet modularity ${lpa.getLong(2)} micro")
      println("-- linear-algebra tier (q238 power iteration) --")
      val pca = graft.queries.ModelOpsQueries
        .queries("q238_pca_power")(spark, sfDir)
        .orderBy(org.apache.spark.sql.functions.desc("loading_micro"))
        .head()
      println(s"top-PC: dim ${pca.getLong(0)} loads ${pca.getLong(1)} " +
        s"micro; Rayleigh ${pca.getLong(3)}/${pca.getLong(4)}")
      println("-- compression-tier scoreboard (q260: recall@5 per served tier) --")
      graft.queries.SimilarityQueries
        .queries("q260_tier_scoreboard")(spark, sfDir)
        .show(truncate = false)
      println("-- feature-store loop (tools/FeaturePipeline) --")
      val fpDir = java.nio.file.Files.createTempDirectory("graft-demo-fp")
      try {
        val fp = FeaturePipeline.run(spark, sfDir, fpDir.toString)
        println(s"history ${fp.historyRows} rows (${fp.currentRows} current); " +
          s"PIT rows ${fp.enrichedRows}; split ${fp.trainRows}/" +
          s"${fp.embargoRows}/${fp.testRows}; next-event top-1 " +
          s"${fp.overallAccPermille} permille over ${fp.evalTypes} types")
      } finally graft.util.FileUtils.deleteRecursively(fpDir)
      println("-- lake commit log (q274 time travel / q278 vacuum / q284 CDF) --")
      graft.queries.ShapeOpsQueries
        .queries("q274_lake_time_travel")(spark, sfDir)
        .show(truncate = false)
      graft.queries.ShapeOpsQueries
        .queries("q284_lake_change_feed")(spark, sfDir)
        .show(truncate = false)
      println("-- SymSpell spell correction (q280) --")
      graft.queries.CorpusOpsQueries
        .queries("q280_symspell_correct")(spark, sfDir)
        .show(5, truncate = false)
      println("-- log-analytics loop (tools/LogOpsPipeline) --")
      val loDir = java.nio.file.Files.createTempDirectory("graft-demo-logops")
      try {
        val lo = LogOpsPipeline.run(spark, sfDir, loDir.toString)
        println(s"lines ${lo.totalLines} (parsed ${lo.parsedLines}) over " +
          s"${lo.nodes} nodes; ${lo.errors} errors / ${lo.warnings} " +
          s"warnings; ${lo.nTemplates} templates, ${lo.nSlots} slots " +
          s"(${lo.anomalousSlots} anomalous), ${lo.emergentTemplates} " +
          s"emergent (streaming)")
      } finally graft.util.FileUtils.deleteRecursively(loDir)
    }
    spark.stop()
  }
}
