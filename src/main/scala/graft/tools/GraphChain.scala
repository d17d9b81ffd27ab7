package graft.tools

/** Recall-chain measurement for the graph-ANN tier: runs the q295
  * multi-entry walk over BOTH graphs — the banded q294 build and the
  * q300 NN-descent-refined build — on a given fixture directory and
  * prints each chain (entry / entry-set / graph recall, permille).
  * This is the SCALE.md evidence tool for the production-band-width
  * question: at sf1 the corpus-scaled 16-bit bands thin the raw
  * graph until walks add nothing over their entries; one refinement
  * round must buy that recall back (graph > entry-set).
  *
  * Usage: `runMain graft.tools.GraphChain <sfDir> [--structured]`.
  * With `--structured` the three chains run on the q307
  * planted-cluster fixture (structFixtureDir staged off the same
  * corpus) instead of the driver's random embeddings — the
  * scale-honest measurement: neighborhoods exist at every SF, so
  * entry-vs-graph gaps read on the index.
  */
object GraphChain {
  def main(args: Array[String]): Unit = {
    val structured = args.contains("--structured")
    val positional = args.filterNot(_ == "--structured")
    require(positional.nonEmpty && args.length <= 2,
      "usage: GraphChain <sfDir> [--structured]")
    val baseDir = positional.head
    val spark = graft.GraftSession.getOrCreate("graft-graph-chain")
    import graft.queries.SimilarityQueries._
    val dir =
      if (structured) structFixtureDir(spark, baseDir) else baseDir
    if (structured) println(s"structured fixture: $dir")
    def chain(label: String, g: org.apache.spark.sql.DataFrame): Unit = {
      val cached = g.cache()
      try {
        val t0 = System.nanoTime()
        val r = graphSearchOver(spark, dir, cached).head()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"$label: entry ${r.getAs[Long]("entry_recall_permille")}" +
          f" -> entryset ${r.getAs[Long]("entryset_recall_permille")}" +
          f" -> graph ${r.getAs[Long]("graph_recall_permille")}" +
          f" permille ($sec%.1f s)")
      } finally { cached.unpersist(); () }
    }
    chain("banded (q294)", knnGraph(spark, dir))
    chain("refined (q300)", knnRefinedGraph(spark, dir))
    chain("diversified (q304)", knnDiversifiedGraph(spark, dir))
    spark.stop()
  }
}
