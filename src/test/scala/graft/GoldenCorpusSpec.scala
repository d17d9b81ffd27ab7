package graft

import graft.analyze.ClusterAnalyzer
import graft.ingest.LogCatalog
import graft.query.LogQueries
import graft.report.Reports

/** End-to-end golden corpus (FIXTURES.md §A.3): 2 nodes with
  * hand-computed expected outputs for every analytical tool.
  */
class GoldenCorpusSpec extends SparkSuite {

  private def ts(i: Int) = f"2026-05-14 10:00:$i%02d,123"

  // node1: mixed parse/classify edge cases (expected: errors=4,
  // warnings=3, total_lines=11 incl. blank + trailing empty)
  private val node1Content: String = Seq(
    s"INFO  [${ts(0)}] [main] o.a.c.Service:100 - Startup complete",
    s"ERROR [${ts(1)}] [ReadStage-2] o.a.c.db.ReadCommand:512 - Read timed out after 5000ms",
    s"WARN  [${ts(2)}] [GossipStage-1] o.a.c.HeapUtils:42 - heap pressure detected at 92%",
    s"INFO  [${ts(3)}] [RequestStage-4] o.a.c.Coordinator:77 - coordinator timeout while handling request",
    "java.lang.RuntimeException: boom",
    "    at org.apache.cassandra.Foo.bar(Foo.java:1)",
    "",
    s"ERROR [${ts(4)}] [MutationStage-3] o.a.c.Mutation:9 - java.lang.OutOfMemoryError: Java heap space",
    s"INFO  [${ts(5)}] [main] o.a.c.Service:101 - slow query detected and request timed out",
    s"WARN  [${ts(6)}] [main] o.a.c.Batch:5 - plain warning with no pattern"
  ).mkString("\n") + "\n" // trailing newline -> one more empty line

  // node2: threshold-crossing volumes (errors=36, warnings=2, total=39
  // — 38 content lines + trailing empty)
  private val node2Content: String = {
    val lines =
      (1 to 9).map(i => s"ERROR [${ts(i)}] [RS-$i] o.a.c.Read:1 - Request timed out after 3000ms") ++
        (1 to 6).map(i => s"INFO  [${ts(i)}] [CS-$i] o.a.c.Read:2 - tombstone warning: scanned 10000 tombstones") ++
        (1 to 6).map(i => s"INFO  [${ts(i)}] [GC-$i] o.a.c.GCInspector:3 - GC pause of 1200ms exceeded threshold") ++
        (1 to 11).map(i => s"INFO  [${ts(i)}] [MS-$i] o.a.c.Mutation:4 - dropped 42 mutation messages in last 5s") ++
        Seq(
          s"ERROR [${ts(30)}] [main] o.a.c.Net:5 - connection to /10.0.0.2 refused",
          s"ERROR [${ts(31)}] [main] o.a.c.Compaction:6 - compaction of table ks.t failed",
          s"ERROR [${ts(32)}] [main] o.a.c.Repair:7 - repair session failed on range",
          s"ERROR [${ts(33)}] [main] o.a.c.Coord:8 - UnavailableException: cannot achieve QUORUM",
          s"WARN  [${ts(34)}] [main] o.a.c.Batch:9 - batch too large: 128 statements",
          s"WARN  [${ts(35)}] [main] o.a.c.Stream:10 - streaming session failed with peer /10.0.0.3")
    lines.mkString("\n") + "\n"
  }

  private lazy val catalog: LogCatalog = {
    val c = new LogCatalog(spark)
    c.loadInline("node1_system", node1Content)
    c.loadInline("node2_system", node2Content)
    c
  }

  test("loadInline reports Python split('\\n') line counts") {
    val c = new LogCatalog(spark)
    val (n1, total1) = c.loadInline("a", "x\ny\n") // x, y, ""
    assert(n1 == 3 && total1 == 1)
    val (n2, total2) = c.loadInline("b", "x")
    assert(n2 == 1 && total2 == 2)
  }

  test("per-node summary: dual counting + total_lines over raw lines") {
    val s = ClusterAnalyzer.summary(catalog.classified).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(s("node1_system") == ((4L, 3L, 11L)))
    assert(s("node2_system") == ((36L, 2L, 39L)))
  }

  test("issue histogram: per-(line,pattern) hits, sorted desc") {
    val h = ClusterAnalyzer.issueHistogram(catalog.classified).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val expected = Map(
      "timeout" -> 12L, "dropped" -> 11L, "gc" -> 6L, "tombstone" -> 6L,
      "coordinator" -> 1L, "oom" -> 1L, "slow_query" -> 1L, "heap" -> 1L,
      "connection" -> 1L, "compaction" -> 1L, "repair" -> 1L,
      "unavailable" -> 1L, "batch" -> 1L, "streaming" -> 1L)
    assert(h.toMap == expected)
    // desc by count, asc by issue_type on ties
    assert(h.take(4).map(_._1).toSeq == Seq("timeout", "dropped", "gc", "tombstone"))
    assert(h.map(_._2).sliding(2).forall(p => p(0) >= p(1)))
  }

  test("all five threshold rules fire, in rule order (CLA:270-309)") {
    val recs = ClusterAnalyzer.recommendations(
      ClusterAnalyzer.issueHistogram(catalog.classified))
    assert(recs.map(_.severity) == Seq("HIGH", "CRITICAL", "MEDIUM", "HIGH", "HIGH"))
    assert(recs.map(_.issue) == Seq(
      "Timeouts fréquents", "Out Of Memory détecté", "Warnings tombstone",
      "Pauses GC excessives", "Messages droppés"))
    // in-plan variant agrees
    val planned = ClusterAnalyzer.recommendationsPlan(spark,
      ClusterAnalyzer.issueHistogram(catalog.classified)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(planned.toSeq == recs.map(r => (r.severity, r.issue, r.recommendation)))
  }

  test("below-threshold corpus yields no recommendations") {
    val c = new LogCatalog(spark)
    c.loadInline("n", s"ERROR [${ts(1)}] [m] C:1 - Read timed out\n")
    assert(ClusterAnalyzer.recommendations(
      ClusterAnalyzer.issueHistogram(c.classified)).isEmpty)
  }

  test("search_logs scans RAW lines (stack traces searchable), 1-based numbering") {
    val hits = LogQueries.searchLogs(catalog, "RuntimeException").collect()
    assert(hits.length == 1)
    assert(hits.head.getString(0) == "node1_system")
    assert(hits.head.getLong(1) == 5L) // 5th line of node1
    assert(hits.head.getString(2) == "java.lang.RuntimeException: boom")
    // case-insensitive by default; content is stripped (CLA:324)
    val at = LogQueries.searchLogs(catalog, "AT ORG.APACHE").collect()
    assert(at.length == 1 && at.head.getString(2).startsWith("at org.apache"))
    // case-sensitive flag
    assert(LogQueries.searchLogs(catalog, "RUNTIMEEXCEPTION", caseSensitive = true).isEmpty)
    // str.strip() parity: a tab-indented frame loses its tab (and a
    // trailing tab/space mix), not only spaces
    val tabbed = new LogCatalog(spark)
    tabbed.loadInline("n", s"ERROR [${ts(1)}] [m] C:1 - boom\n\tat org.x.Y(Y.java:1)\t \n")
    val frames = LogQueries.searchLogs(tabbed, "org\\.x").collect()
    assert(frames.map(_.getString(2)).toSeq == Seq("at org.x.Y(Y.java:1)"))
  }

  test("search node_filter: missing node yields empty, not error (CLA:780)") {
    assert(LogQueries.searchLogs(catalog, ".", nodeFilter = Some("nope")).count() == 0)
    assert(LogQueries.searchLogs(catalog, "boom", nodeFilter = Some("node2_system")).count() == 0)
    assert(LogQueries.searchLogs(catalog, "boom", nodeFilter = Some("node1_system")).count() == 1)
  }

  test("get_errors: flattened in node order, capped at limit (CLA:810-819)") {
    val all = LogQueries.getErrors(catalog, limit = 1000).collect()
    assert(all.length == 40) // 4 + 36
    val limited = LogQueries.getErrors(catalog, limit = 6).collect()
    assert(limited.length == 6)
    val node1Only = LogQueries.getErrors(catalog, Some("node1_system"), 50).collect()
    assert(node1Only.length == 4)
    assert(node1Only.map(_.getAs[String]("message")).head == "Read timed out after 5000ms")
  }

  test("compare_nodes: request order, unknown nodes silently skipped (CLA:838)") {
    val rows = LogQueries.compareNodes(catalog,
      Seq("node2_system", "ghost", "node1_system")).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("node2_system", "node1_system"))
    // a repeated node is listed once per request entry (CLA:837-840)
    val twice = LogQueries.compareNodes(catalog,
      Seq("node1_system", "node1_system")).collect()
    assert(twice.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq("node1_system" -> 4L, "node1_system" -> 4L))
  }

  test("detect_issues severity filter (CLA:852)") {
    assert(LogQueries.detectIssues(catalog, "critical").count() == 1)
    assert(LogQueries.detectIssues(catalog, "high").count() == 3)
    assert(LogQueries.detectIssues(catalog, "all").count() == 5)
  }

  test("distinct base-node count strips the _suffix (CLA:678)") {
    assert(catalog.distinctBaseNodes == 2L)
    val c = new LogCatalog(spark)
    c.loadInline("n1_system", "x")
    c.loadInline("n1_debug", "x")
    c.loadInline("solo", "x")
    assert(c.distinctBaseNodes == 2L) // n1 + solo
  }

  test("analyze_cluster Markdown report shape (CLA:747-767)") {
    val report = Reports.renderAnalysis(catalog)
    assert(report.startsWith("# Analyse du Cluster Cassandra\n\n## Résumé par Node\n"))
    assert(report.contains("\n### node1_system\n- Erreurs: 4\n- Warnings: 3\n- Total lignes: 11\n"))
    assert(report.contains("\n### node2_system\n- Erreurs: 36\n- Warnings: 2\n- Total lignes: 39\n"))
    assert(report.contains("- timeout: 12 occurrences\n"))
    assert(report.contains("CRITIQUE **Out Of Memory détecté** (CRITICAL)\n"))
    assert(report.indexOf("### node1_system") < report.indexOf("### node2_system"))
  }

  test("compare report is a Markdown table (CLA:833-841)") {
    val report = Reports.renderCompare(catalog)
    assert(report.contains("| Node | Erreurs | Warnings | Lignes |"))
    assert(report.contains("| node1_system | 4 | 3 | 11 |"))
  }

  test("search report caps at 100 with overflow note (CLA:792-797)") {
    val report = Reports.renderSearch(catalog, "timed out|timeout")
    assert(report.contains("Total: 12")) // node1: L2,L4,L9; node2: 9
    val none = Reports.renderSearch(catalog, "zzz_nothing")
    assert(none == "Aucun résultat pour: zzz_nothing")
  }

  test("nodes JSON resource (CLA:371-377)") {
    assert(Reports.nodesJson(catalog) ==
      """{"nodes": ["node1_system", "node2_system"], "count": 2}""")
  }
}
