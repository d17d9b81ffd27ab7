package graft

import org.apache.spark.sql.functions._

/** Graph-ANN tier invariants (q294/q295/q296), pinned in-engine on the
  * fixture so a semantics regression fails with a NAMED property
  * instead of an opaque oracle hash mismatch:
  *
  *  - reverse-link symmetry (q294's navigability contract),
  *  - incremental ≡ from-scratch on the SAME registry entries (the
  *    displacement theorem q296's scaladoc states),
  *  - the walk's recall dominance chain (graph ≥ entry-set ≥ entry is
  *    structural: a walk starting at the planted source never leaves
  *    it — no corpus vector beats the plant's cosine).
  */
class GraphAnnSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q296 bands the corpus once: the band width costs one count, " +
      "not one per banded slice") {
    // 30 jobs before the corpus was banded once per gate: four
    // embeddings counts (old slice, then old, new and full in the
    // merge), each with its own read; the slices are now filters on
    // one banded frame
    val parentJobs = 30
    val Seq((_, work)) = graft.tools.Profile.run(spark, dir, Seq("q296_"))
    assert(work.get.jobs <= parentJobs - 3,
      s"q296 ran ${work.get.jobs} Spark jobs")
  }

  test("staged stored artifacts are content-identical to fresh builds " +
      "(the round-19 memoized-index discipline cannot drift)") {
    import graft.queries.SimilarityQueries._
    // full-corpus directed top-M (q327/q331's stored input)
    val stagedBase = knnStoredArtifact(spark, dir, "basetopm")
    val freshBase = knnBaseTopM(spark, dir).select("src", "dst", "cos")
    assert(stagedBase.exceptAll(freshBase).count() === 0)
    assert(freshBase.exceptAll(stagedBase).count() === 0)
    // structured serve index (q307/q316's deployed graph)
    val sd = structFixtureDir(spark, dir)
    val stagedDiv = spark.read.parquet(structGraphDirFor(spark, sd, "div"))
    val freshDiv = knnDiversifiedGraph(spark, sd)
    assert(stagedDiv.exceptAll(freshDiv).count() === 0)
    assert(freshDiv.exceptAll(stagedDiv).count() === 0)
  }

  test("the k-NN graph is symmetric: every edge has its reverse link") {
    val g = graft.queries.SimilarityQueries.knnGraph(spark, dir).cache()
    try {
      val missing = g.select(col("dst").as("src"), col("src").as("dst"))
        .except(g)
      assert(missing.count() === 0, "reverse-link step dropped an edge")
      assert(g.where(col("src") === col("dst")).count() === 0,
        "self-loop in the graph")
    } finally g.unpersist()
  }

  test("incremental maintenance reproduces the from-scratch graph " +
      "exactly (q296 ≡ q294 through the registry entries)") {
    val scratch = SparkEntry.queries("q294_knn_graph")(spark, dir)
    val delta = SparkEntry.queries("q296_delta_knn_graph")(spark, dir)
    assert(scratch.exceptAll(delta).count() === 0)
    assert(delta.exceptAll(scratch).count() === 0)
  }

  test("incremental diversify (q315): passthrough really passes " +
      "through — nonempty, disjoint from the touched set, recompute " +
      "confined to it — and the union ≡ the from-scratch q304 build") {
    import graft.queries.SimilarityQueries._
    val (passthrough, recomputed, touched) =
      deltaDiversifyParts(spark, dir)
    val t = touched.cache()
    try {
      // at sf0.001 the 100-vector delta legitimately saturates the
      // 500-vector corpus (touched = everything, passthrough empty) —
      // the nonempty-passthrough pin runs in the sf0.01 test below
      assert(t.count() > 0, "no touched nodes — the delta vanished")
      assert(passthrough.join(t, Seq("src"), "left_semi").count() === 0,
        "a stored row leaked through for a touched node")
      assert(recomputed.select("src").distinct()
        .join(t, Seq("src"), "left_anti").count() === 0,
        "recompute strayed outside the touched set")
      // incremental ≡ from-scratch on the DIRECTED selections (the
      // gate additionally hash-proves the symmetrized rollup)
      val scratch = knnDiversifiedTopM(spark, dir)
      val inc = passthrough.unionByName(recomputed)
      assert(scratch.select("src", "dst")
        .exceptAll(inc.select("src", "dst")).count() === 0)
      assert(inc.select("src", "dst")
        .exceptAll(scratch.select("src", "dst")).count() === 0)
    } finally { t.unpersist(); () }
  }

  test("incremental diversify (q315): the passthrough set is NONEMPTY " +
      "once the corpus dwarfs the delta — stored rows are reused, not " +
      "silently recomputed (sf0.1: 60k nodes, production 16-bit bands, " +
      "vs the 100-vector delta; checked via the cheap change half — " +
      "passthrough nonempty ⟸ oldTopM.srcs ∖ touched ≠ ∅)") {
    import graft.queries.SimilarityQueries._
    val (oldTopM, _, touched) =
      deltaDiversifyChange(spark, "/root/testdata/sf0.1")
    val t = touched.cache()
    try {
      val nUntouched = oldTopM.select("src").distinct()
        .join(t, Seq("src"), "left_anti").count()
      assert(nUntouched > 0, "touched saturated a 60k-node corpus — " +
        "the over-approximation lost its point")
      // honesty number for SCALE.md: how much of the corpus a
      // 100-vector delta touches at this SF
      info(s"untouched old nodes at sf0.1: $nUntouched; " +
        s"touched: ${t.count()}")
    } finally { t.unpersist(); () }
  }

  test("incremental DELETE (q327): no deleted id survives anywhere, " +
      "passthrough is disjoint from touched, recompute confined to " +
      "it, and the union ≡ the from-scratch build on survivors") {
    import graft.queries.SimilarityQueries._
    val (passthrough, recomputed, touched) =
      deleteDiversifyParts(spark, dir)
    val t = touched.cache()
    try {
      assert(t.count() > 0, "no touched nodes — the deletion vanished")
      val inc = passthrough.unionByName(recomputed).cache()
      try {
        // the deletion contract: the maintained index never cites a
        // deleted id, as src or dst
        def del(c: org.apache.spark.sql.Column) =
          c >= delLo && c < delHi
        assert(inc.where(del(col("src")) || del(col("dst")))
          .count() === 0, "a deleted id survived in the maintained index")
        assert(passthrough.join(t, Seq("src"), "left_semi").count() === 0,
          "a stored row leaked through for a touched node")
        assert(recomputed.select("src").distinct()
          .join(t, Seq("src"), "left_anti").count() === 0,
          "recompute strayed outside the touched set")
        // incremental ≡ from-scratch over the survivor corpus: rebuild
        // the pool from the survivor-only top-M (bands at the
        // artifact's width — the same convention the incremental face
        // uses) and diversify from scratch
        val (_, newTopM, _) = deleteDiversifyChange(spark, dir)
        val scratch = diversifySelect(spark, dir,
          knnMergedPool(spark, dir, newTopM))
        assert(scratch.select("src", "dst")
          .exceptAll(inc.select("src", "dst")).count() === 0)
        assert(inc.select("src", "dst")
          .exceptAll(scratch.select("src", "dst")).count() === 0)
      } finally { inc.unpersist(); () }
    } finally { t.unpersist(); () }
  }

  test("incremental DELETE (q327): the passthrough set is NONEMPTY " +
      "once the corpus dwarfs the delete batch (sf0.1: 2000 nodes vs " +
      "100 deleted) — stored rows are reused, not silently recomputed") {
    import graft.queries.SimilarityQueries._
    val (oldTopM, _, touched) =
      deleteDiversifyChange(spark, "/root/testdata/sf0.1")
    val t = touched.cache()
    try {
      val nUntouched = oldTopM.select("src").distinct()
        .join(t, Seq("src"), "left_anti").count()
      assert(nUntouched > 0, "deletion touched the whole corpus — " +
        "the over-approximation lost its point")
      info(s"untouched old nodes at sf0.1: $nUntouched; " +
        s"touched: ${t.count()}")
    } finally { t.unpersist(); () }
  }

  test("NN-descent refinement only improves neighborhoods: per-node " +
      "summed neighbor cosine of the refined top-M >= the base top-M " +
      "(the re-cut optimizes over a superset of pairs), and the " +
      "refined graph keeps symmetry") {
    import graft.queries.SimilarityQueries._
    val base = knnBaseTopM(spark, dir).cache()
    try {
      val refinedTopM = knnRefineTopM(spark, dir, base)
      // quality invariant on the DIRECTED lists (what the re-cut
      // optimizes): the refined per-src cosine sum can never drop
      def qual(g: org.apache.spark.sql.DataFrame, name: String) =
        g.groupBy("src").agg(sum(col("cos")).as(name))
      val worse = qual(base, "base_q")
        .join(qual(refinedTopM, "ref_q"), Seq("src"))
        .where(col("ref_q") < col("base_q") - lit(1e-9))
        .count()
      assert(worse === 0, "refinement degraded a node's neighborhood")
      // symmetry carries through the refinement's re-symmetrize
      val refined = knnRefinedGraph(spark, dir)
      assert(refined.select(col("dst").as("src"), col("src").as("dst"))
        .except(refined).count() === 0)
    } finally { base.unpersist(); () }
  }

  test("diversified selection satisfies the heuristic invariant: " +
      "every kept neighbor is closer to its node than to any " +
      "earlier-kept neighbor, and per-node degree <= M") {
    import graft.queries.SimilarityQueries._
    val kept = knnDiversifiedTopM(spark, dir).cache()
    try {
      val degrees = kept.groupBy("src").count()
      assert(degrees.where(col("count") >
        graft.queries.SimilarityQueries.knnM).count() === 0,
        "a node kept more than M neighbors")
      // kept order within a node = (cos DESC, dst ASC) — the pool's
      // rank order restricted to kept rows; the heuristic demands
      // that for earlier s and later c: cos(c, node) > cos(c, s)
      val later = kept.select(col("src"), col("dst").as("c"),
        col("cos").as("c_cos"))
      val earlier = kept.select(col("src"), col("dst").as("sjoin"),
        col("cos").as("s_cos"))
      val ordered = later.join(earlier, Seq("src"))
        .where(col("s_cos") > col("c_cos") ||
          (col("s_cos") === col("c_cos") && col("sjoin") < col("c")))
      val pairCos = knnScored(spark, dir,
        ordered.select(col("c").as("src"), col("sjoin").as("dst"))
          .distinct())
        .select(col("src").as("c"), col("dst").as("sjoin"),
          col("cos").as("cs_cos"))
      val violations = ordered.join(pairCos, Seq("c", "sjoin"))
        .where(col("cs_cos") >= col("c_cos"))
        .count()
      assert(violations === 0,
        "a kept neighbor is dominated by an earlier-kept one")
    } finally { kept.unpersist(); () }
  }

  test("graph-search recall chain dominates: graph >= entry-set >= " +
      "entry, and a walk never loses cosine") {
    val out = SparkEntry.queries("q295_graph_search")(spark, dir).cache()
    try {
      val r = out.head()
      val entry = r.getAs[Long]("entry_recall_permille")
      val eset = r.getAs[Long]("entryset_recall_permille")
      val graph = r.getAs[Long]("graph_recall_permille")
      assert(eset >= entry, s"entry-set recall $eset < entry recall $entry")
      assert(graph >= eset, s"graph recall $graph < entry-set recall $eset")
      // structural: if the source was among the entries, SOME walk
      // started at it and stayed (nothing beats the plant's cosine),
      // so the winning endpoint must be the source
      val broken = out.where(col("entryset_has_source") === 1 &&
        col("found_source") === 0).count()
      assert(broken === 0, "a walk left the planted source")
    } finally out.unpersist()
  }

  test("the diversified serve face (q305) satisfies the same " +
      "dominance chain over the q304 graph") {
    val out = SparkEntry.queries("q305_graph_search_diversified")(
      spark, dir).cache()
    try {
      val r = out.head()
      assert(r.getAs[Long]("entryset_recall_permille") >=
        r.getAs[Long]("entry_recall_permille"))
      assert(r.getAs[Long]("graph_recall_permille") >=
        r.getAs[Long]("entryset_recall_permille"))
      val broken = out.where(col("entryset_has_source") === 1 &&
        col("found_source") === 0).count()
      assert(broken === 0, "a walk left the planted source")
    } finally out.unpersist()
  }

  test("q307: on the structured fixture the walks STRICTLY beat the " +
      "entry set (the tier's headline claim, on geometry where " +
      "neighborhoods exist), and every probe's planted source is the " +
      "unique exact-NN (the q270 premise carries over)") {
    import graft.queries.SimilarityQueries._
    val out = SparkEntry.queries("q307_graph_structured")(spark, dir)
      .cache()
    try {
      val r = out.head()
      assert(r.getAs[Long]("graph_recall_permille") >
        r.getAs[Long]("entryset_recall_permille"),
        "the walks added nothing over the entry set — the structured " +
          "fixture exists to demonstrate exactly this gap")
      assert(r.getAs[Long]("entryset_recall_permille") >=
        r.getAs[Long]("entry_recall_permille"))
      val broken = out.where(col("entryset_has_source") === 1 &&
        col("found_source") === 0).count()
      assert(broken === 0, "a walk left the planted source")
      // exact-NN premise on the structured geometry: brute-force
      // cosine argmax over the staged fixture = the planted source
      // for (almost) every probe (spec-SF corpus: 500 × 9 — trivial).
      // "Almost": unlike the random corpus (nearest non-source at
      // cos ≈ 0.37, premise exact at 1000‰ — q270), cluster-mates
      // here sit at cos ≈ 0.82 BY DESIGN, so the fixed ±150-milli
      // probe noise makes mate-vs-source ordering a ~2.5σ event per
      // mate — about one flip per ~200 (probe, mate) comparisons is
      // intrinsic to the geometry, not an index defect. The gate's
      // recall is measured against the planted source either way
      // (deterministic, oracle-hashed); the premise bound here pins
      // that flips stay at the noise floor (≤ 1 of 9 probes).
      val sd = structFixtureDir(spark, dir)
      val corpus = graft.queries.Tables(spark, sd, "embeddings")
      val pp = plantedProbes(spark, sd)
      val dotc = expr("aggregate(zip_with(pvec, e2, (a, b) -> " +
        "a * CAST(b AS DOUBLE)), CAST(0 AS DOUBLE), (s, x) -> s + x)")
      val n2c = expr("aggregate(e2, CAST(0 AS DOUBLE), " +
        "(s, x) -> s + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
      val scored = corpus.select(col("vec_id"),
          col("embedding").as("e2"))
        .crossJoin(pp.select(col("probe_id"), col("source_id"),
          col("pvec"), col("pn2")))  // hint audit: probe-bounded (9 probes)
        .select(col("probe_id"), col("source_id"), col("vec_id"),
          (dotc / sqrt(col("pn2") * n2c)).as("cos"))
      val top = scored.withColumn("rn",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("probe_id").orderBy(desc("cos"), asc("vec_id"))))
        .where(col("rn") === 1)
      assert(top.where(col("vec_id") =!= col("source_id")).count() <= 1,
        "more than one probe's exact-NN is not its source — the " +
          "structured geometry premise drifted past its noise floor")
    } finally { out.unpersist(); () }
  }

  test("q311: the router ladder is consistent with q307's serve face " +
      "(same np1 entry set) and the walk beats BOTH router levels on " +
      "the structured fixture") {
    val ladder = SparkEntry.queries("q311_router_ladder_structured")(
      spark, dir).orderBy("stage").collect()
    assert(ladder.length === 2)
    val np1 = ladder.find(_.getAs[String]("stage") == "np1").get
    val np4 = ladder.find(_.getAs[String]("stage") != "np1").get
    // more cells probed = strictly more candidates scanned
    assert(np4.getAs[Long]("n_candidates") >
      np1.getAs[Long]("n_candidates"))
    val serve = SparkEntry.queries("q307_graph_structured")(spark, dir)
      .head()
    // q307's entry stage IS the np1 ladder rung — one index, one truth
    assert(serve.getAs[Long]("entryset_recall_permille") ===
      np1.getAs[Long]("entryset_recall_permille"))
    assert(serve.getAs[Long]("entry_recall_permille") ===
      np1.getAs[Long]("entry_recall_permille"))
    // the router-vs-graph verdict: the walk's recall exceeds what
    // EITHER router level reaches on its own
    val bestRouter = math.max(np1.getAs[Long]("entryset_recall_permille"),
      np4.getAs[Long]("entryset_recall_permille"))
    assert(serve.getAs[Long]("graph_recall_permille") > bestRouter,
      "the walk no longer beats the router ladder")
  }

  test("a torn structured-fixture master is rebuilt, not served") {
    import graft.queries.SimilarityQueries.structFixtureDir
    import java.nio.file.{Files, Paths}
    val emb = Paths.get(structFixtureDir(spark, dir), "embeddings.parquet")
    // tear it as a tmp cleaner or a writer dying mid-publish would:
    // the completion markers and one data file go
    Files.deleteIfExists(emb.resolve("_SUCCESS"))
    Files.deleteIfExists(emb.getParent.resolve(graft.util.Staged.Marker))
    Files.delete(graft.util.FileUtils.listDir(emb)
      .find(_.getFileName.toString.startsWith("part-")).get)
    val restaged = spark.read.parquet(
      s"${structFixtureDir(spark, dir)}/embeddings.parquet")
    assert(restaged.count() ===
      spark.read.parquet(s"$dir/embeddings.parquet").count())
  }
}
