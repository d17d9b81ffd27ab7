package graft.tools
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.getOrCreate("graft-explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    // `--summary` prints one line of load-bearing operator counts per
    // query (all BATCH queries when none named) instead of full plans.
    // The `stream` family's gates execute eagerly and return a
    // collected LocalRelation — their incremental plans live in
    // StreamingSpec, so the default listing skips them rather than
    // run them and print zeros. q64 is likewise skipped:
    // componentLabels runs count() actions in its fixpoint loop, so
    // building its DataFrame executes full Spark jobs eagerly and the
    // plan here would cover only the final rollup. q80 executes
    // eagerly too (it must run under its pinned bloom confs) and
    // returns a LocalRelation.
    val eager = graft.SparkEntry.families("stream") ++
      Set("q64_dedup_clusters", "q150_keep_best", "q80_bloom_join")
    val (flags, qs) = args.partition(_.startsWith("--"))
    // `--no-aqe`: print the STATIC physical plan (AQE off), where the
    // ReuseExchangeAndSubquery preparation rule is applied visibly —
    // the way to audit that repeated subtrees (e.g. an iterated graph
    // walk referencing the same corpus-scale edge aggregation) collapse
    // to ReusedExchange instead of re-scanning. With AQE on, the same
    // reuse happens at runtime via canonicalized stage matching but the
    // printed initial plan shows the duplicates.
    if (flags.contains("--no-aqe"))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    if (flags.contains("--summary")) {
      val names =
        if (qs.nonEmpty) qs.toSeq
        else graft.SparkEntry.queries.keys.toSeq.sorted.filterNot(eager)
      for (q <- names) {
        val plan =
          graft.SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
        def n(op: String) = op.r.findAllIn(plan).size
        // EXCH counts SHUFFLES only ("Exchange hashpartitioning(...)");
        // a bare substring would also match BroadcastExchange. WIN
        // must not count the WindowGroupLimit pushdown nodes.
        val shuffles = n("(?<!Broadcast)Exchange ")
        val windows = n("Window(?!GroupLimit)")
        println(f"$q%-24s BHJ=${n("BroadcastHashJoin")} SMJ=${n("SortMergeJoin")} " +
          s"SHJ=${n("ShuffledHashJoin")} BNLJ=${n("BroadcastNestedLoopJoin")} " +
          s"CART=${n("CartesianProduct")} BCAST=${n("BroadcastExchange")} " +
          s"EXCH=$shuffles WIN=$windows TOPK=${n("TopKPerGroup")}")
      }
    } else for (q <- qs) {
      println(s"\n===================== $q =====================")
      graft.SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
