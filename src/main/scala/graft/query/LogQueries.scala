package graft.query

import graft.analyze.ClusterAnalyzer
import graft.ingest.LogCatalog
import graft.model.{NodeStats, Recommendation}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import java.util.regex.Pattern

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
    * per-node line number and the STRIPPED line, unordered.
    *
    * This DataFrame form scans each node key's cached classified part
    * ([[LogCatalog.classifiedOf]]), which holds the raw `value` beside
    * `node` and `line_number`, under an `rlike` filter. It is the
    * reference that [[searchLogsCapped]], the form the MCP tool runs,
    * is tested against. A node that no analysis has read yet gets its
    * classified part built (and cached) by the search.
    */
  def hits(catalog: LogCatalog, pattern: String,
           caseSensitive: Boolean = false,
           nodeFilter: Option[String] = None): DataFrame = {
    val p = userPattern(pattern, caseSensitive).pattern
    catalog.classifiedOf(nodeFilter.fold(catalog.nodeKeys)(Seq(_)))
      .where(col("value").rlike(p))
      .select(col("node"), col("line_number"),
        btrim(col("value"), lit(pyWhitespace)).as("content"))
  }

  /** The search's pattern, compiled on the driver: an invalid user
    * pattern fails here, before any job (the reference's `re.search`
    * raises at once), instead of in every task later.
    */
  private def userPattern(pattern: String, caseSensitive: Boolean): Pattern =
    Pattern.compile(if (caseSensitive) pattern else "(?i)" + pattern)

  /** [[hits]] in `(node, line_number)` order. The global sort costs a
    * range-sampling job and a sort shuffle; the MCP tool goes through
    * [[searchLogsCapped]] instead, which needs neither.
    */
  def searchLogs(catalog: LogCatalog, pattern: String,
                 caseSensitive: Boolean = false,
                 nodeFilter: Option[String] = None): DataFrame =
    hits(catalog, pattern, caseSensitive, nodeFilter).orderBy("node", "line_number")

  /** The characters Python's argument-less `str.strip()` removes
    * (`str.isspace`) — Spark's one-argument `trim` strips spaces only,
    * which would keep the tab of an indented stack frame.
    */
  private val pyWhitespace: String =
    "\t\n\u000b\u000c\r\u001c\u001d\u001e\u001f \u0085\u00a0\u1680" +
      ('\u2000' to '\u200a').mkString + "\u2028\u2029\u202f\u205f\u3000"

  /** The display cap of `search_logs` (`cassandra_log_analyzer.py:792`). */
  val SearchCap = 100

  /** Search with display cap — the first [[SearchCap]] hits in
    * [[searchLogs]]' order plus the total (`cassandra_log_analyzer.py:790-797`),
    * from ONE Spark job with no sort and no shuffle: a
    * [[LogCatalog.foldPerCore]] over [[LogCatalog.linesOf]], a scan of
    * `(node, line_number, value)` planned once per set of node keys, so
    * the plan holds no pattern and a new pattern plans and compiles no
    * code. Each task matches its rows' values with the pattern as
    * Spark's `rlike` does (`Matcher.find`) and folds the hits to their
    * count and their first [[SearchCap]] in [[hitOrder]] (a bounded
    * max-heap); the driver merges those few rows and strips their
    * values with the `trim` that [[hits]]' `btrim` runs. A partition of
    * a part is one node's ascending line range, so rows arrive in such
    * runs and, once a heap is full, most hits cost one comparison with
    * its head.
    */
  def searchLogsCapped(catalog: LogCatalog, pattern: String,
                       caseSensitive: Boolean = false,
                       nodeFilter: Option[String] = None)
      : (Array[Row], Long) = {
    val p = userPattern(pattern, caseSensitive)
    val (order, cap) = (hitOrder, SearchCap) // the task closure captures these, not this object
    val folds = LogCatalog.foldPerCore(catalog.linesOf(nodeFilter.fold(catalog.nodeKeys)(Seq(_)))) { rows =>
      val heap = new java.util.PriorityQueue[InternalRow](cap, order.reverse)
      val m = p.matcher("")
      var n = 0L
      rows.foreach { r =>
        if (m.reset(r.getUTF8String(2).toString).find()) {
          n += 1
          if (heap.size < cap) heap.add(r.copy())
          else if (order.lt(r, heap.peek)) { heap.poll(); heap.add(r.copy()) }
        }
      }
      (n, heap.toArray(Array.empty[InternalRow]))
    }
    val strip = UTF8String.fromString(pyWhitespace)
    val first = folds.flatMap(_._2).sorted(order).take(cap)
      .map(r => Row(r.getUTF8String(0).toString, r.getLong(1), r.getUTF8String(2).trim(strip).toString))
    (first, folds.map(_._1).sum)
  }

  /** `(node, line_number)` over rows that start with those columns,
    * nodes in Spark's string order (unsigned UTF-8 bytes,
    * `UTF8String.compareTo`) — the order `orderBy("node")` follows and
    * `String.compareTo` does not for supplementary characters.
    */
  private val hitOrder: Ordering[InternalRow] = (a, b) => {
    val c = a.getUTF8String(0).compareTo(b.getUTF8String(0))
    if (c != 0) c else java.lang.Long.compare(a.getLong(1), b.getLong(1))
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

  /** [[hitOrder]]'s node order on driver-side strings. */
  private def sparkStringLess(a: String, b: String): Boolean =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

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
