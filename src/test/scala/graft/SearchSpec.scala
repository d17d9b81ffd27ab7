package graft

import graft.ingest.LogCatalog
import graft.query.LogQueries
import graft.report.Reports
import graft.util.SparkWork
import org.apache.spark.metrics.source.CodegenMetrics

/** The capped search (`search_logs`' first 100 hits plus the total) on
  * a catalog whose node keys are loaded out of Spark's string order:
  * `node2` before `node10`, and two non-ASCII keys whose UTF-16 order
  * (`String.compareTo`) is the reverse of their UTF-8 byte order.
  */
class SearchSpec extends SparkSuite {

  private val fffd = "n\uFFFD" // UTF-8 EF BF BD
  private val emoji = "n\uD83D\uDE00" // U+1F600, UTF-8 F0 9F 98 80
  private val byteOrder = Seq("node10", "node2", fffd, emoji)

  /** 30 hits spread over 90 lines: each of a part's 4 slices holds some. */
  private def content(tag: String): String =
    (1 to 90).map(i => if (i % 3 == 0) s"INFO [main] C:$i - $tag Hit $i" else s"INFO [main] C:$i - other $i")
      .mkString("\n")

  private def catalog(): LogCatalog = {
    val c = new LogCatalog(spark)
    Seq("node2", emoji, "node10", fffd).foreach(k => c.loadInline(k, content("old")))
    c
  }

  private def assertCappedMatchesSorted(c: LogCatalog, pattern: String, cs: Boolean,
                                        nf: Option[String]): (Array[org.apache.spark.sql.Row], Long) = {
    val (first, total) = LogQueries.searchLogsCapped(c, pattern, cs, nf)
    val sorted = LogQueries.searchLogs(c, pattern, cs, nf)
    assert(first.toSeq == sorted.limit(100).collect().toSeq)
    assert(total == sorted.count())
    (first, total)
  }

  test("capped search = the sorted search's first 100 and count, nodes in byte order") {
    val c = catalog()
    val (first, total) = assertCappedMatchesSorted(c, "hit", cs = false, None)
    assert(total == 120 && first.length == 100)
    assert(first.map(_.getString(0)).distinct.toSeq == byteOrder)
    assert(first.take(2).map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq(("node10", 3L, "INFO [main] C:3 - old Hit 3"), ("node10", 6L, "INFO [main] C:6 - old Hit 6")))
    // the hits of one node come from more than one partition of its part
    val perPartition = LogQueries.hits(c, "hit", nodeFilter = Some("node2")).rdd
      .mapPartitions(it => Iterator(it.size)).collect()
    assert(perPartition.count(_ > 0) > 1)
    assertCappedMatchesSorted(c, "Hit 9", cs = true, None)
    assertCappedMatchesSorted(c, "hit", cs = true, None)
    assertCappedMatchesSorted(c, "hit", cs = false, Some(emoji))
  }

  test("a reloaded node is searched with its new lines only") {
    val c = catalog()
    assert(LogQueries.searchLogsCapped(c, "old", nodeFilter = Some("node2"))._2 == 30)
    c.loadInline("node2", "fresh one\nold-free line\nfresh two")
    val (first, total) = assertCappedMatchesSorted(c, "fresh", cs = false, None)
    assert(total == 2)
    assert(first.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("node2", 1L), ("node2", 3L)))
    assert(LogQueries.searchLogsCapped(c, "old ", nodeFilter = Some("node2"))._2 == 0)
    assert(LogQueries.searchLogsCapped(c, "old ")._2 == 90)
  }

  test("a node_filter naming an unknown node finds nothing") {
    assert(Reports.renderSearch(catalog(), "hit", nodeFilter = Some("ghost")) ==
      "Aucun résultat pour: hit")
  }

  test("the capped fold matches the rlike/btrim reference on edge lines and patterns") {
    val c = new LogCatalog(spark)
    c.loadInline("edge", Seq(
      "\tERROR tab-led", "ERROR tab-ended\t", "\u00a0ERROR nbsp\u00a0", "\u3000ERROR ideographic\u3000",
      "\u2028ERROR line separator\u2028", "", "error lower-case", "WARN [main] C:1 - Failed to flush",
      "java.lang.RuntimeException: boom", "\tat org.apache.cassandra.db.Memtable.flush(Memtable.java:42)",
      "", "INFO done").mkString("\n"))
    c.loadInline("other", "ERROR elsewhere\n\t ERROR both \u00a0\n")
    val (stripped, _) = assertCappedMatchesSorted(c, "error", cs = false, None)
    assert(stripped.map(_.getString(2)).toSeq.take(5) == Seq("ERROR tab-led", "ERROR tab-ended",
      "ERROR nbsp", "ERROR ideographic", "ERROR line separator"))
    assert(assertCappedMatchesSorted(c, "^$", cs = false, None)._2 == 3) // two blanks + the trailing one
    assertCappedMatchesSorted(c, "^$", cs = true, Some("other"))
    assert(assertCappedMatchesSorted(c, "(?-i)ERROR", cs = false, None)._2 == 7)
    val (frame, n) = assertCappedMatchesSorted(c, "Memtable\\.java:\\d+", cs = false, None)
    assert(n == 1 && frame.head.getString(2) == "at org.apache.cassandra.db.Memtable.flush(Memtable.java:42)")
    assertCappedMatchesSorted(c, "\\s$", cs = false, None)
    val full = catalog()
    assert(assertCappedMatchesSorted(full, ".", cs = false, None)._2 == 4 * 90)
  }

  test("the search scan is planned once per key set: no rlike, no new generated code") {
    val c = catalog()
    val keys = c.nodeKeys
    LogQueries.searchLogsCapped(c, "hit")
    val lines = c.linesOf(keys)
    val scan = lines.queryExecution.toRdd
    LogQueries.searchLogsCapped(c, "other \\d")
    assert(c.linesOf(keys) eq lines)
    assert(c.linesOf(keys).queryExecution.toRdd eq scan)
    assert(LogQueries.hits(c, "hit").queryExecution.executedPlan.toString.toLowerCase.contains("rlike"))
    assert(!lines.queryExecution.executedPlan.toString.toLowerCase.contains("rlike"))
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(LogQueries.searchLogsCapped(c, "C:1\\d - old")._2 == 4 * 3)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
    c.loadInline("node2", "fresh")
    assert(!(c.linesOf(keys) eq lines))
  }

  test("one Spark job per capped search") {
    val c = catalog()
    LogQueries.searchLogsCapped(c, "hit") // builds and caches the classified parts
    val (_, work) = SparkWork.of(spark) {
      LogQueries.searchLogsCapped(c, "hit")
      LogQueries.searchLogsCapped(c, "HIT", caseSensitive = true)
      LogQueries.searchLogsCapped(c, "hit", nodeFilter = Some(fffd))
      LogQueries.searchLogsCapped(c, "hit", nodeFilter = Some("ghost"))
    }
    assert(work.jobs == 4)
  }
}
