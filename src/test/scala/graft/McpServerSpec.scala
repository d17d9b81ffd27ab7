package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.ingest.{LogCatalog, RemoteFetch, RemoteFetcher}
import graft.mcp.{McpDispatcher, McpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import org.scalacheck.{Gen, rng}

/** End-to-end MCP transport: newline-delimited JSON-RPC frames in,
  * responses out, tool bodies dispatching into the real engine
  * (catalog + fetcher over a local shell). Covers the reference's
  * server surface (`cassandra_log_analyzer.py:331,863-881`) and the
  * argv-injection guard on the ssh runner.
  */
class McpServerSpec extends SparkSuite with org.scalatest.BeforeAndAfterAll {

  private val logRoot = Files.createTempDirectory("graft-mcp")

  override def afterAll(): Unit =
    try graft.util.FileUtils.deleteRecursively(logRoot) finally super.afterAll()

  private lazy val logDir = {
    val d = logRoot
    Files.writeString(d.resolve("system.log"),
      "INFO  [main] 2024-01-01 10:00:00,000 Startup complete\n" +
        "ERROR [rpc] 2024-01-01 10:00:01,000 Connection timeout detected\n")
    Files.writeString(d.resolve("debug.log"), "DEBUG [d] x\n")
    d.toString
  }

  private def newDispatcher =
    new McpDispatcher(new LogCatalog(spark),
      new RemoteFetcher(_ => new RemoteFetch.LocalShellRunner))

  /** Drive raw frames through the blocking serve() loop. */
  private def roundTrip(dispatcher: McpDispatcher, frames: String*): Seq[JValue] = {
    val in = new ByteArrayInputStream(
      frames.mkString("", "\n", "\n").getBytes(UTF_8))
    val out = new ByteArrayOutputStream()
    McpServer.serve(in, out, dispatcher)
    out.toString(UTF_8).split("\n").toSeq.filter(_.nonEmpty).map(parse(_))
  }

  private def resultText(resp: JValue): String =
    resp \ "result" \ "content" match {
      case JArray(List(item)) =>
        val JString(t) = (item \ "text"): @unchecked
        t
      case other => fail(s"unexpected content: $other")
    }

  test("two tool calls end-to-end through the stdio transport") {
    val d = newDispatcher
    val responses = roundTrip(d,
      """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{}}""",
      """{"jsonrpc":"2.0","method":"notifications/initialized"}""",
      s"""{"jsonrpc":"2.0","id":2,"method":"tools/call","params":{"name":"load_logs","arguments":{"node_name":"node1","log_content":"INFO  [2024-01-01 10:00:00,000] [main] o.a.c.Service:100 - Startup complete\\nERROR [2024-01-01 10:00:01,000] [ReadStage-2] o.a.c.db.ReadCommand:512 - Connection timeout detected"}}}""",
      """{"jsonrpc":"2.0","id":3,"method":"tools/call","params":{"name":"analyze_cluster","arguments":{}}}""")
    // notification produced no frame: 3 responses for 4 inputs
    assert(responses.size === 3)
    assert((responses.head \ "result" \ "serverInfo" \ "name")
      === JString("cassandra-log-analyzer"))
    assert(resultText(responses(1)).contains("Nombre de lignes: 2"))
    val report = resultText(responses(2))
    assert(report.contains("node1")) // per-node summary rendered
    assert(report.contains("Erreurs: 1")) // ERROR line counted
    assert(report.contains("timeout: 1 occurrences")) // classifier hit
  }

  test("tools/list exposes the nine parity tools first, then the ten " +
      "extension tools; unknown tool errors") {
    val d = newDispatcher
    val Seq(tools, bad) = roundTrip(d,
      """{"jsonrpc":"2.0","id":1,"method":"tools/list"}""",
      """{"jsonrpc":"2.0","id":2,"method":"tools/call","params":{"name":"nope"}}""")
    val JArray(list) = (tools \ "result" \ "tools"): @unchecked
    // the reference's wire contract is a PREFIX: parity tools keep
    // their exact names and order, extensions append after
    assert(list.map(t => (t \ "name")) === Seq(
      "configure_ssh_node", "load_logs_from_ssh", "load_logs_from_all_nodes",
      "load_logs", "analyze_cluster", "search_logs", "get_errors",
      "compare_nodes", "detect_issues",
      "mine_templates", "detect_slot_anomalies", "group_stack_traces",
      "deduplicate_lines",
      "lake_time_travel", "lake_change_feed", "lake_write_ops",
      "vector_scoreboard", "stream_recovery_report", "graph_search")
      .map(JString(_)))
    // extensions are marked so a client can tell them from parity
    assert(list.drop(9).forall(t => (t \ "description") match {
      case JString(s) => s.startsWith("[Extension]")
      case _ => false
    }))
    assert((bad \ "error" \ "code") === JInt(-32602))
  }

  test("extension tools mine templates, screen slots, and dedup lines " +
      "over the loaded catalog") {
    val d = newDispatcher
    // 9 lines per node: the first 6 (history thirds) establish latency
    // slot envelopes, the last 3 (recent third) carry one out-of-range
    // latency; one line is repeated verbatim across both nodes
    // an ERROR head followed by two unparsed continuation lines (the
    // exception line + one tab frame) exercises group_stack_traces
    def lines(node: Int, spike: Int) = (1 to 9).map { i =>
      val lat = if (i <= 6) 100 + i else if (i == 9) spike else 105
      s"INFO  [main] op $i done in ${lat}ms"
    }.mkString("\\n") + "\\nshutdown hook invoked" +
      "\\nERROR [123] [rs-1] Query.java:7 - read failed" +
      "\\njava.io.IOException: disk gone" +
      "\\n\\tat org.x.Y(Y.java:1)"
    val responses = roundTrip(d,
      s"""{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{"name":"load_logs","arguments":{"node_name":"node1","log_content":"${lines(1, 9000)}"}}}""",
      s"""{"jsonrpc":"2.0","id":2,"method":"tools/call","params":{"name":"load_logs","arguments":{"node_name":"node2","log_content":"${lines(2, 104)}"}}}""",
      """{"jsonrpc":"2.0","id":3,"method":"tools/call","params":{"name":"mine_templates","arguments":{"limit":5}}}""",
      """{"jsonrpc":"2.0","id":4,"method":"tools/call","params":{"name":"detect_slot_anomalies","arguments":{}}}""",
      """{"jsonrpc":"2.0","id":5,"method":"tools/call","params":{"name":"deduplicate_lines","arguments":{}}}""",
      """{"jsonrpc":"2.0","id":6,"method":"tools/call","params":{"name":"group_stack_traces","arguments":{}}}""")
    val mined = resultText(responses(2))
    // the q183 masking collapses all 18 op lines into one template
    assert(mined.contains("`INFO  [main] op <N> done in <N>ms`"))
    assert(mined.contains("lignes: 18, nodes: 2"))
    // node1's 9000ms spike is outside the history envelope; node2's
    // 104 is inside — exactly one anomalous (template, slot) pair
    val anomalies = resultText(responses(3))
    assert(anomalies.contains("anomalies: 1"))
    assert(!anomalies.contains("Aucune valeur"))
    // the verbatim repeated line dedups across nodes
    val dedup = resultText(responses(4))
    assert(dedup.contains("2x (2 nodes): `shutdown hook invoked`"))
    // each node's ERROR head groups its two continuation lines (q318's
    // islands over the real parse flag), classed by the exception line
    val traces = resultText(responses(5))
    assert(traces.contains("`java.io.IOException`"))
    assert(traces.contains("incidents: 1, frames: 2"))
  }

  test("extension tools refuse politely when no logs are loaded") {
    val d = newDispatcher
    val responses = roundTrip(d,
      """{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{"name":"mine_templates","arguments":{}}}""")
    assert(resultText(responses.head).contains("Aucun log chargé"))
  }

  test("lake + vector extension tools drive the gated registry entries " +
      "end-to-end over a parquet table directory") {
    val d = newDispatcher
    val dir = "/root/testdata/sf0.001"
    val responses = roundTrip(d,
      s"""{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{"name":"lake_time_travel","arguments":{"data_dir":"$dir"}}}""",
      s"""{"jsonrpc":"2.0","id":2,"method":"tools/call","params":{"name":"lake_change_feed","arguments":{"data_dir":"$dir"}}}""",
      s"""{"jsonrpc":"2.0","id":3,"method":"tools/call","params":{"name":"vector_scoreboard","arguments":{"data_dir":"$dir"}}}""",
      """{"jsonrpc":"2.0","id":4,"method":"tools/call","params":{"name":"lake_time_travel","arguments":{"data_dir":"/nonexistent"}}}""",
      """{"jsonrpc":"2.0","id":5,"method":"tools/call","params":{"name":"lake_time_travel","arguments":{}}}""",
      s"""{"jsonrpc":"2.0","id":6,"method":"tools/call","params":{"name":"lake_write_ops","arguments":{"data_dir":"$dir"}}}""")
    val tt = resultText(responses(0))
    // all three staged versions rendered through the q274 gate itself
    assert(tt.contains("version 0") && tt.contains("version 2"))
    assert(tt.contains("checksum"))
    val cdf = resultText(responses(1))
    // both gated pairs present: real changes v0→v2, zero-change v2→v3
    assert(cdf.contains("v0 → v2 insert") && cdf.contains("v2 → v3 delete"))
    val sb = resultText(responses(2))
    // the q270-gated ceiling and the q295 chain both rendered
    assert(sb.contains("exact: 1000"))
    assert(sb.contains("après parcours du graphe"))
    // a bad directory answers in prose, a missing arg is a JSON-RPC error
    assert(resultText(responses(3)).contains("invalide"))
    assert((responses(4) \ "error" \ "code") === JInt(-32602))
    // the write-op surface runs all four gated write entries on staged
    // private copies: merge funnel, zorder swap, restore, clone-vacuum
    val wo = resultText(responses(5))
    assert(wo.contains("MERGE INTO") && wo.contains("insérées"))
    assert(wo.contains("OPTIMIZE ZORDER") && wo.contains("c_prune_chars"))
    assert(wo.contains("RESTORE TO VERSION") &&
      wo.contains("a_latest_restored"))
    assert(wo.contains("refused") && wo.contains("executed"))
  }

  test("graph_search drives the diversified serve face (q305) and the " +
      "structured-fixture chain (q307), with the prose error contract") {
    val d = newDispatcher
    val dir = "/root/testdata/sf0.001"
    val responses = roundTrip(d,
      s"""{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{"name":"graph_search","arguments":{"data_dir":"$dir"}}}""",
      """{"jsonrpc":"2.0","id":2,"method":"tools/call","params":{"name":"graph_search","arguments":{"data_dir":"/nonexistent"}}}""")
    val text = resultText(responses(0))
    assert(text.contains("Chaîne de rappel"))
    assert(text.contains("Fixture structurée"))
    // per-probe lines rendered off the gated q305 frame
    assert(text.contains("sonde") && text.contains("sauts"))
    // the bad directory answers in prose (guardedTool), not a crash
    assert(resultText(responses(1)).contains("invalide"))
  }

  test("stream_recovery_report drives the q292 restart cycle and " +
      "proves continuity against the continuous run") {
    val d = newDispatcher
    val dir = "/root/testdata/sf0.001"
    val responses = roundTrip(d,
      s"""{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{"name":"stream_recovery_report","arguments":{"data_dir":"$dir"}}}""")
    val text = resultText(responses.head)
    assert(text.contains("reprise depuis le MÊME checkpoint"))
    // the continuity verdict must be the affirmative one — a lost or
    // double-emitted window across the restart would render NON
    assert(text.contains("continuité exacte") && text.contains("OUI"))
    assert(!text.contains("NON"))
  }

  test("configure_ssh_node previews the first five files; auth line has reference parity") {
    val d = newDispatcher
    val resp = roundTrip(d,
      s"""{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{"name":"configure_ssh_node","arguments":{"node_name":"n1","host":"localhost","username":"tester","password":"pw","log_directory":"${logDir}"}}}""")
    val text = resultText(resp.head)
    assert(text.contains("Configuration SSH réussie"))
    assert(text.contains("Fichiers trouvés: 2"))
    assert(text.contains("  - " + logDir)) // file preview lines
    // the reference's exact auth-priority wording (CLA:621)
    assert(text.contains("Auth: Mot de passe"))
  }

  test("load_logs_from_all_nodes with both types inserts catalog keys node-major") {
    val d = newDispatcher
    roundTrip(d,
      s"""{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{"name":"configure_ssh_node","arguments":{"node_name":"n1","host":"localhost","username":"t","log_directory":"${logDir}"}}}""",
      s"""{"jsonrpc":"2.0","id":2,"method":"tools/call","params":{"name":"configure_ssh_node","arguments":{"node_name":"n2","host":"localhost","username":"t","log_directory":"${logDir}"}}}""",
      """{"jsonrpc":"2.0","id":3,"method":"tools/call","params":{"name":"load_logs_from_all_nodes","arguments":{"log_type":"both"}}}""")
    // reference per-node loop order, not per-type batches (CLA:704-714)
    assert(d.catalog.nodeKeys === Seq(
      "n1_system", "n1_debug", "n2_system", "n2_debug"))
  }

  test("resources list and read round-trip; unknown uri errors") {
    val d = newDispatcher
    val Seq(list, nodes, bad) = roundTrip(d,
      """{"jsonrpc":"2.0","id":1,"method":"resources/list"}""",
      """{"jsonrpc":"2.0","id":2,"method":"resources/read","params":{"uri":"cassandra://logs/nodes"}}""",
      """{"jsonrpc":"2.0","id":3,"method":"resources/read","params":{"uri":"cassandra://bogus"}}""")
    val JArray(rs) = (list \ "result" \ "resources"): @unchecked
    assert(rs.map(r => r \ "uri") === Seq(
      "cassandra://logs/analysis", "cassandra://logs/nodes").map(JString(_)))
    val JString(text) =
      (nodes \ "result" \ "contents")(0) \ "text": @unchecked
    assert(text.contains("\"total_nodes\"") || text.contains("nodes"))
    assert((bad \ "error" \ "code") === JInt(-32002))
  }

  test("malformed JSON and unknown methods answer with JSON-RPC errors") {
    val d = newDispatcher
    val Seq(parseErr, unknown) = roundTrip(d,
      """this is not json""",
      """{"jsonrpc":"2.0","id":7,"method":"bogus/method"}""")
    assert((parseErr \ "error" \ "code") === JInt(-32700))
    assert((unknown \ "error" \ "code") === JInt(-32601))
    assert((unknown \ "id") === JInt(7))
  }

  test("a bad request fails alone: the loop answers the next one, " +
      "one response per id") {
    // a transport that throws on every command: the escaped exception
    // from load_logs_from_ssh must become a -32603, not end serve()
    val d = new McpDispatcher(new LogCatalog(spark),
      new RemoteFetcher(_ => new RemoteFetch.CommandRunner {
        def run(command: String) = throw new IllegalStateException("transport down")
      }))
    def call(id: Int, name: String, args: String) =
      s"""{"jsonrpc":"2.0","id":$id,"method":"tools/call","params":{"name":"$name","arguments":$args}}"""
    val responses = roundTrip(d,
      call(1, "load_logs", """{"node_name":"node1","log_content":"ERROR [2024-01-01 10:00:01,000] [r] C:5 - Connection timeout detected"}"""),
      call(2, "get_errors", """{"limit":-1}"""),
      call(3, "search_logs", """{"pattern":"([unclosed"}"""),
      call(4, "mine_templates", """{"limit":-5}"""),
      call(5, "configure_ssh_node", """{"node_name":"n1","host":"h","username":"u"}"""),
      call(6, "load_logs_from_ssh", """{"node_name":"n1"}"""),
      // the same failure as a notification: no response, loop survives
      """{"jsonrpc":"2.0","method":"tools/call","params":{"name":"load_logs_from_ssh","arguments":{"node_name":"n1"}}}""",
      call(7, "compare_nodes", """{"nodes":["node1","node1"]}"""),
      call(8, "analyze_cluster", "{}"))
    assert(responses.map(_ \ "id") === (1 to 8).map(JInt(_)))
    def code(i: Int) = responses(i) \ "error" \ "code"
    assert(code(1) === JInt(-32602) && code(2) === JInt(-32602) &&
      code(3) === JInt(-32602))
    assert(code(5) === JInt(-32603))
    val JString(msg) = (responses(5) \ "error" \ "message"): @unchecked
    assert(msg.contains("IllegalStateException"))
    assert(resultText(responses(6)).contains(
      "| node1 | 1 | 0 | 1 |\n| node1 | 1 | 0 | 1 |\n"))
    assert(resultText(responses(7)).contains("Erreurs: 1"))
  }

  test("random tool calls with random arguments: the loop survives and " +
      "every request with an id gets exactly one response") {
    // the log-path tools plus unknown names; the ssh and lake tools
    // touch the filesystem or a shell, so they stay out
    val tools = Seq("load_logs", "analyze_cluster", "search_logs",
      "get_errors", "compare_nodes", "detect_issues", "mine_templates",
      "detect_slot_anomalies", "deduplicate_lines", "group_stack_traces",
      "nope", "", "ANALYZE_CLUSTER")
    val keys = Seq("limit", "pattern", "node_filter", "case_sensitive",
      "node_name", "nodes", "severity", "log_content", "log_type", "extra")
    val value: Gen[JValue] = Gen.oneOf(
      Gen.choose(-1000000, 1000000).map(JInt(_)),
      Gen.oneOf(JInt(-1), JInt(0), JInt(Int.MaxValue), JInt(BigInt("99999999999999999999"))),
      Gen.oneOf("", "node1", "ghost", "([unclosed", "*", "[z-a]", "\\", "(?i)timeout",
        "critical", "ERROR [2024-01-01 10:00:01,000] [r] C:5 - Read timed out\n")
        .map(JString(_)),
      Gen.oneOf(JBool(true), JNull, JDouble(-2.5), JArray(List(JString("node1"), JInt(3))),
        JObject("x" -> JInt(1))))
    val arguments: Gen[JValue] = Gen.frequency(
      8 -> Gen.someOf(keys).flatMap(ks =>
        Gen.sequence[List[JField], JField](ks.map(k => value.map(k -> _))).map(JObject(_))),
      1 -> Gen.const(JNothing), // no arguments at all
      1 -> value) // arguments that are not an object
    def request(id: Option[Int]): Gen[JValue] = for {
      name <- Gen.oneOf(tools)
      args <- arguments
    } yield JObject(List("jsonrpc" -> JString("2.0")) ++
      id.map(i => "id" -> (JInt(i): JValue)) ++ List(
      "method" -> JString("tools/call"),
      "params" -> JObject(("name" -> (JString(name): JValue)) :: (
        if (args == JNothing) Nil else List("arguments" -> args)))))
    val requests = Gen.sequence[List[JValue], JValue]((1 to 30).map(i =>
        Gen.frequency(9 -> request(Some(i)), 1 -> request(None))))
      .apply(Gen.Parameters.default, rng.Seed(20261017L))
      .getOrElse(sys.error("generator failed"))

    val d = newDispatcher
    val node = "INFO  [2024-01-01 10:00:00,000] [main] o.a.c.Service:100 - Startup complete" +
      "\nERROR [2024-01-01 10:00:01,000] [ReadStage-2] o.a.c.db.ReadCommand:512 - Read timed out"
    Seq("node1", "node2").foreach(d.catalog.loadInline(_, node))
    requests.foreach { req =>
      val frame = compact(render(req))
      val resp = McpServer.handleLine(frame, d)
      req \ "id" match {
        case JNothing => assert(resp.isEmpty, frame)
        case id =>
          assert(resp.map(_ \ "id") === Some(id), frame)
          assert(resp.exists(r => (r \ "result") != JNothing ^ (r \ "error") != JNothing), frame)
      }
    }
    // the catalog outlived the run: a plain analysis still answers
    val last = McpServer.handleLine(
      """{"jsonrpc":"2.0","id":99,"method":"tools/call","params":{"name":"analyze_cluster","arguments":{}}}""", d)
    assert(resultText(last.get).contains("# Analyse du Cluster Cassandra"))
  }

  test("ssh runner rejects option-shaped destinations (argv injection)") {
    intercept[IllegalArgumentException] {
      new RemoteFetch.SshProcessRunner("host", "-oProxyCommand=evil")
    }
    intercept[IllegalArgumentException] {
      new RemoteFetch.SshProcessRunner("-oProxyCommand=evil", "user")
    }
    intercept[IllegalArgumentException] {
      new RemoteFetch.SshProcessRunner("host", "user@extra")
    }
    // sane destination constructs fine
    new RemoteFetch.SshProcessRunner("db-1.example.com", "cassandra")
  }
}
