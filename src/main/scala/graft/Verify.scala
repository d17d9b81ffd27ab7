package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: `Verify <sfDir> <outDir> [prefix,prefix,...]`. The driver
  * passes two arguments. The optional third (local iteration) dumps only
  * the queries whose names start with one of the prefixes; see
  * [[oracleJson]] for what oracle_sql.json then holds.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSeq)
      else None
    // the bench's session, so verified plans are the timed plans
    val spark = GraftSession.getOrCreate("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(only, kv._1)).foreach {
      case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        spark.catalog.clearCache() // per-query cache()s must not accumulate
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql, only,
        name => Files.isDirectory(Paths.get(outDir, name))))
    spark.stop()
  }

  /** Whether `name` starts with one of the prefixes (every name when none). */
  private[graft] def selected(only: Option[Seq[String]], name: String): Boolean =
    only.forall(_.exists(name.startsWith))

  /** oracle_sql.json's text. With no prefixes (the driver's mode) it
    * holds every entry of `oracle`. With prefixes it holds the selected
    * entries plus those whose output already `exists`, so successive
    * targeted runs into one directory accumulate a full-compare preview
    * for tools/check.py. The escape covers backslash, quote and ALL
    * control chars (< 0x20): a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness.
    */
  def oracleJson(oracle: Map[String, String], only: Option[Seq[String]],
      exists: String => Boolean): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    oracle.filter(kv => selected(only, kv._1) || exists(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
