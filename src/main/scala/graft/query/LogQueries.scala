package graft.query

import graft.analyze.ClusterAnalyzer
import graft.ingest.LogCatalog
import graft.model.{NodeStats, Recommendation}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The analytical tools of the reference's MCP surface over a
  * [[LogCatalog]]: DataFrame plans, or local frames over its per-node
  * stats where those hold the answer. Each maps one handler of
  * `cassandra_log_analyzer.py:582-857` (SURVEY.md §2.10).
  */
object LogQueries {

  /** `search_logs` (`cassandra_log_analyzer.py:773-799` /
    * `search_pattern` `:311-327`): regex search over RAW lines (pre-parse
    * — stack traces and blanks are searchable), case-insensitive by
    * default (`(?i)` prepended, = `re.IGNORECASE`), optional node filter
    * where a missing node silently yields empty. Hits carry the 1-based
    * per-node line number and the STRIPPED line.
    *
    * Scale: the rlike predicate evaluates inside the scan stage under
    * whole-stage codegen — no shuffle at all; ordering/limit happen on
    * the (usually tiny) hit set.
    */
  def searchLogs(catalog: LogCatalog, pattern: String,
                 caseSensitive: Boolean = false,
                 nodeFilter: Option[String] = None): DataFrame = {
    val p = if (caseSensitive) pattern else "(?i)" + pattern
    // fail fast on the driver for an invalid user pattern (the reference's
    // re.search raises immediately) instead of N task failures later
    java.util.regex.Pattern.compile(p)
    val base = nodeFilter.fold(catalog.raw)(catalog.rawFor)
    base.where(col("value").rlike(p))
      .select(col("node"), col("line_number"),
        btrim(col("value"), lit(pyWhitespace)).as("content"))
      .orderBy("node", "line_number")
  }

  /** The characters Python's argument-less `str.strip()` removes
    * (`str.isspace`) — Spark's one-argument `trim` strips spaces only,
    * which would keep the tab of an indented stack frame.
    */
  private val pyWhitespace: String =
    "\t\n\u000b\u000c\r\u001c\u001d\u001e\u001f \u0085\u00a0\u1680" +
      ('\u2000' to '\u200a').mkString + "\u2028\u2029\u202f\u205f\u3000"

  /** Search with display cap — the first 100 hits (collected) plus the
    * total (`cassandra_log_analyzer.py:790-797`). The filtered relation
    * is cached across the pair of jobs so the regex scan over the raw
    * corpus runs ONCE (uncached, limit and count would each rescan
    * every line), then dropped.
    */
  def searchLogsCapped(catalog: LogCatalog, pattern: String,
                       caseSensitive: Boolean = false,
                       nodeFilter: Option[String] = None)
      : (Array[org.apache.spark.sql.Row], Long) = {
    val all = searchLogs(catalog, pattern, caseSensitive, nodeFilter).cache()
    try (all.limit(100).collect(), all.count())
    finally all.unpersist(blocking = false)
  }

  /** `get_errors` (`cassandra_log_analyzer.py:801-826`): error entries,
    * optionally for one node, flattened in node order, first `limit`
    * (default 50). The per-node error counts pick the nodes those rows
    * come from — in the sort's node order, up to the first whose errors
    * reach `limit` — and only their classified parts are read.
    */
  def getErrors(catalog: LogCatalog, nodeName: Option[String] = None,
                limit: Int = 50): DataFrame = {
    val withErrors = catalog.stats
      .filter { case (k, s) => s.errors > 0 && nodeName.forall(_ == k) }
      .sortWith { case ((a, _), (b, _)) => sparkStringLess(a, b) }
    val before = withErrors.scanLeft(0L)(_ + _._2.errors)
    val keys = withErrors.zip(before).takeWhile(_._2 < limit).map(_._1._1)
    ClusterAnalyzer.errorsByNode(catalog.classifiedOf(keys)).limit(limit)
  }

  /** Spark's string order (unsigned UTF-8 bytes), which `orderBy("node")`
    * follows and `String.compareTo` does not for supplementary characters.
    */
  private def sparkStringLess(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0

  /** `compare_nodes` (`cassandra_log_analyzer.py:828-842`): summary rows
    * for the requested node keys, in REQUEST order — a repeated node is
    * listed again, as the reference's loop does — silently skipping
    * unknown nodes (`:838`).
    */
  def compareStats(catalog: LogCatalog, nodes: Seq[String]): Seq[(String, NodeStats)] = {
    val byNode = catalog.stats.toMap
    nodes.flatMap(n => byNode.get(n).map(n -> _))
  }

  /** [[compareStats]] as a local frame. */
  def compareNodes(catalog: LogCatalog, nodes: Seq[String]): DataFrame = {
    import catalog.spark.implicits._
    compareStats(catalog, nodes)
      .map { case (n, s) => (n, s.errors, s.warnings, s.totalLines) }
      .toDF("node", "errors", "warnings", "total_lines")
  }

  /** `detect_issues` (`cassandra_log_analyzer.py:844-857`): the
    * recommendations of the cluster-wide histogram, filtered by severity
    * (`"all"` keeps everything; match is on lowercased severity, `:852`).
    */
  def issueRecommendations(catalog: LogCatalog, severity: String = "all"): Seq[Recommendation] =
    ClusterAnalyzer.recommendationsFromCounts(
      ClusterAnalyzer.histogram(catalog.stats.map(_._2)).toMap)
      .filter(r => severity == "all" || r.severity.toLowerCase == severity)

  /** [[issueRecommendations]] as a local frame. */
  def detectIssues(catalog: LogCatalog, severity: String = "all"): DataFrame =
    catalog.spark.createDataFrame(issueRecommendations(catalog, severity))
}
