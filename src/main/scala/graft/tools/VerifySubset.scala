package graft.tools

/** Dev-loop gate runner: [[graft.Verify]] restricted to a comma-list of
  * query names (all, when the list is omitted). Same session confs and
  * per-query outputs as Verify, so a local DuckDB compare previews the
  * driver's correctness gate without paying the full-suite runtime.
  */
object VerifySubset {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: VerifySubset <sfDir> <outDir> [q1,q2,...]")
    val sfDir = args(0)
    val outDir = args(1)
    val wanted: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet else Set.empty
    val spark = graft.GraftSession.getOrCreate("graft-verify-subset")
    new java.io.File(outDir).mkdirs()
    val sel = graft.SparkEntry.queries
      .filter { case (n, _) => wanted.isEmpty || wanted(n) }
    sel.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        println(f"[gate] $name%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } catch { case e: Throwable =>
        System.err.println(s"[gate] $name FAILED: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // dump the oracle for every query whose output exists in outDir
    // (not just this run's subset): successive targeted runs into one
    // directory accumulate a full-compare preview, and refreshing one
    // query never drops the other 300 entries from the local gate
    val json = graft.SparkEntry.oracleSql
      .filter { case (n, _) =>
        wanted(n) || java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(outDir, n)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
