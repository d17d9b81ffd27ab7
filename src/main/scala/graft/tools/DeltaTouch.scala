package graft.tools

/** SCALE.md evidence tool for the q315/q319 incremental faces: prints
  * the change-set sizes the touched-node theorem produces on a given
  * fixture — |old-corpus top-M sources|, |merged top-M sources|,
  * |touched|, and the untouched (passthrough-eligible) remainder —
  * so the refresh-∝-delta claim is measured, not asserted, on both
  * the driver's random embeddings and the q307 structured geometry.
  *
  * Usage: `runMain graft.tools.DeltaTouch <sfDir> [--structured]
  * [--delete]` — `--delete` measures the q327 DELETION face's change
  * sets instead of the q315 arrival face's.
  */
object DeltaTouch {
  def main(args: Array[String]): Unit = {
    val structured = args.contains("--structured")
    val deletion = args.contains("--delete")
    val positional =
      args.filterNot(a => a == "--structured" || a == "--delete")
    require(positional.nonEmpty && args.length <= 3,
      "usage: DeltaTouch <sfDir> [--structured] [--delete]")
    val spark = graft.GraftSession.getOrCreate("graft-delta-touch")
    import graft.queries.SimilarityQueries._
    val dir =
      if (structured) structFixtureDir(spark, positional.head)
      else positional.head
    val (oldTopM, newTopM, touched) =
      if (deletion) deleteDiversifyChange(spark, dir)
      else deltaDiversifyChange(spark, dir)
    val oldSrcs = oldTopM.select("src").distinct().cache()
    val nOld = oldSrcs.count()
    val nNew = newTopM.select("src").distinct().count()
    val nTouched = touched.count()
    val nUntouched = oldSrcs
      .join(touched, Seq("src"), "left_anti").count()
    println(f"old top-M sources:       $nOld")
    println(f"merged top-M sources:    $nNew")
    println(f"touched (E1 + N(E1)):    $nTouched")
    println(f"untouched old sources:   $nUntouched " +
      f"(${nUntouched * 1000 / math.max(1L, nOld)}%d permille pass through)")
    oldSrcs.unpersist()
    spark.stop()
  }
}
