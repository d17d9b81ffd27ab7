package graft

import java.nio.file.Files

import graft.ingest.{LogCatalog, RemoteFetch, RemoteFetcher}
import graft.mcp.McpDispatcher
import graft.report.Reports
import graft.util.SparkWork
import org.json4s._

/** Loads into the catalog: the content's line-aligned slices, the load
  * bound, and the Spark work of the cold analysis that follows a load. A load above the catalog's character bound fails that
  * request alone: the catalog keeps its nodes and their content, and the
  * server answers -32602 and goes on. A fetched log above it fails that
  * log alone. The bound is set small here; the
  * default derives from the JVM's maximum heap.
  */
class CatalogLoadSpec extends SparkSuite {

  test("slices hold exactly split('\\n', -1)'s lines, numbered from 1") {
    val rnd = new scala.util.Random(7)
    val contents = Seq("", "\n", "\n\n", "a", "a\n", "\na") ++
      (1 to 200).map(_ => Seq.fill(rnd.nextInt(40))(if (rnd.nextInt(3) == 0) '\n' else 'x').mkString)
    for (content <- contents; n <- 1 to 6) {
      val lines = content.split("\n", -1).toSeq
      val (count, slices) = LogCatalog.slices(content, n)
      assert(count == lines.size)
      assert(slices.size == math.min(n, lines.size))
      val numbered = slices.flatMap { case (first, text) =>
        text.split("\n", -1).toSeq.zipWithIndex.map { case (l, i) => (first + i, l) }
      }
      assert(numbered == lines.zipWithIndex.map { case (l, i) => (i + 1L, l) }, s"content=$content n=$n")
      val sizes = slices.map(_._2.split("\n", -1).length)
      assert(sizes.max - sizes.min <= 1)
    }
  }

  test("the catalog refuses content above its bound and stays as it was") {
    val c = new LogCatalog(spark, maxLoadChars = 16)
    assert(c.loadInline("a", "x\ny") == ((2L, 1)))
    assert(c.loadInline("b", "z" * 16) == ((1L, 2)))
    val e = intercept[LogCatalog.LoadTooLarge](c.loadInline("a", "y" * 17))
    assert(e.chars == 17 && e.max == 16)
    intercept[LogCatalog.LoadTooLarge](c.loadInline("c", "\n" * 17))
    assert(c.nodeKeys == Seq("a", "b"))
    assert(c.stats.map { case (k, s) => k -> s.totalLines } == Seq("a" -> 2L, "b" -> 1L))
  }

  test("a cold analysis after one reload runs one Spark job and writes no shuffle") {
    val c = new LogCatalog(spark)
    Seq("a", "b", "c").foreach(k => c.loadInline(k, "ERROR [t] [main] C:1 - Read timed out\nINFO [t] [main] C:2 - ok"))
    Reports.renderAnalysis(c) // every node has its stats and its cached part
    c.loadInline("b", "WARN [t] [main] C:1 - heap pressure\n")
    val (_, cold) = SparkWork.of(spark)(Reports.renderAnalysis(c))
    assert(cold.jobs == 1 && cold.shuffleBytes == 0)
    assert(SparkWork.of(spark)(Reports.renderAnalysis(c))._2.jobs == 0)
    assert(c.stats.map { case (k, s) => (k, s.errors, s.warnings, s.totalLines) } ==
      Seq(("a", 1L, 0L, 2L), ("b", 0L, 1L, 2L), ("c", 1L, 0L, 2L)))
    c.nodeKeys.foreach(k => c.classifiedOf(Seq(k)).unpersist(blocking = true))
  }

  test("load_logs above the bound is a -32602 and the server goes on") {
    val d = new McpDispatcher(new LogCatalog(spark, maxLoadChars = 32),
      new RemoteFetcher(_ => new RemoteFetch.LocalShellRunner))
    def load(node: String, content: String) = d.handle("tools/call", JObject(
      "name" -> JString("load_logs"),
      "arguments" -> JObject("node_name" -> JString(node), "log_content" -> JString(content))))
    assert(load("n1", "ERROR one").isRight)
    val Left((code, msg)) = load("n2", "e" * 33): @unchecked
    assert(code == -32602 && msg.contains("33"))
    assert(d.catalog.nodeKeys == Seq("n1"))
    val Right(ok) = load("n3", "INFO two"): @unchecked
    assert(compactText(ok).contains("Total nodes: 2"))
  }

  test("a fetched log above the bound fails that log alone, on both SSH load tools") {
    val root = Files.createTempDirectory("graft-fetch-bound")
    try {
      def logDir(name: String, system: String, debug: String) = {
        val d = Files.createDirectories(root.resolve(name))
        Files.writeString(d.resolve("system.log"), system)
        Files.writeString(d.resolve("debug.log"), debug)
        d.toString
      }
      val big = logDir("big", "ERROR one\nINFO two\nok\n", "d" * 100)
      val small = logDir("small", "INFO three\n", "WARN four\n")
      val d = new McpDispatcher(new LogCatalog(spark, maxLoadChars = 32),
        new RemoteFetcher(_ => new RemoteFetch.LocalShellRunner))
      def call(tool: String, args: (String, JValue)*) =
        d.handle("tools/call", JObject("name" -> JString(tool), "arguments" -> JObject(args.toList)))
      def configure(node: String, dir: String) = call("configure_ssh_node", "node_name" -> JString(node),
        "host" -> JString("localhost"), "username" -> JString("u"), "log_directory" -> JString(dir))
      val tooLarge = "ERREUR: contenu trop volumineux: 100 caractères (maximum 32)"
      assert(configure("a", big).isRight)
      val Right(ssh) = call("load_logs_from_ssh", "node_name" -> JString("a"), "log_type" -> JString("both")): @unchecked
      assert(compactText(ssh).contains("  - system.log (4 lignes)"))
      assert(compactText(ssh).contains(s"  - debug.log ($tooLarge)"))
      assert(d.catalog.nodeKeys == Seq("a_system"))
      assert(configure("b", small).isRight)
      val Right(all) = call("load_logs_from_all_nodes", "log_type" -> JString("both")): @unchecked
      assert(compactText(all).contains("Succès: 1/2"))
      assert(compactText(all).contains(s"ERREUR a: ${tooLarge.stripPrefix("ERREUR: ")}"))
      assert(compactText(all).contains("OK b"))
      assert(d.catalog.nodeKeys == Seq("a_system", "b_system", "b_debug"))
    } finally graft.util.FileUtils.deleteRecursively(root)
  }

  private def compactText(v: JValue): String = v \ "content" match {
    case JArray(List(item)) => (item \ "text") match { case JString(t) => t; case o => o.toString }
    case o => o.toString
  }
}
