package graft.tools

/** Dump the physical plan of the structured serve gates' GRAPH
  * relation (not part of the driver contract; run manually). The gates
  * return a pinned LocalRelation (the walk folds on the driver), so
  * `.explain` on the gate's frame cannot show the round-19 change —
  * the graph relation is where it lives: BEFORE, every invocation
  * executed the full build plan (banding → candidate join → scored
  * join → top-M → NN-descent/diversify → symmetrize); AFTER, the gate
  * scans the staged index parquet. Both plans are dumped from the same
  * binary: the build function still exists (it is what stages the
  * artifact, and what the build gates run every invocation).
  *
  * Usage: `runMain graft.tools.GraphPlanDump [sfDir]`
  */
object GraphPlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.getOrCreate("graft-graph-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    val sd = graft.queries.SimilarityQueries.structFixtureDir(spark, dir)
    println("===== graph relation BEFORE (per-invocation build plan) =====")
    graft.queries.SimilarityQueries.knnDiversifiedGraph(spark, sd)
      .explain("formatted")
    println("===== graph relation AFTER (staged index scan) =====")
    spark.read.parquet(
      graft.queries.SimilarityQueries.structGraphDirFor(spark, sd, "div"))
      .explain("formatted")
    spark.stop()
  }
}
