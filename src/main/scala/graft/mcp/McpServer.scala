package graft.mcp

import java.io.{BufferedReader, InputStream, InputStreamReader, OutputStream, OutputStreamWriter, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import scala.util.control.NonFatal

import graft.ingest.{LogCatalog, RemoteFetch, RemoteFetcher}
import graft.report.Reports
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** MCP-shaped stdio transport — the reference's server surface
  * (`cassandra_log_analyzer.py:331,863-881`): newline-delimited
  * JSON-RPC 2.0 over stdin/stdout dispatching the nine parity tool
  * names and two resources to the engine's query layer
  * ([[graft.query.LogQueries]] via [[Reports]], [[RemoteFetcher]],
  * [[LogCatalog]]), plus ten engine-extension tools: the log-mining
  * tier (`mine_templates`, `detect_slot_anomalies`,
  * `group_stack_traces`, `deduplicate_lines`) and the
  * lake/vector/streaming tiers
  * (`lake_time_travel`, `lake_change_feed`, `lake_write_ops`,
  * `vector_scoreboard`, `stream_recovery_report`, `graph_search`,
  * each running the gated registry entry itself over a
  * caller-supplied table directory; `lake_write_ops` stages private
  * copies so the caller's files are never mutated) — capabilities
  * the reference does not have — to the same MCP clients.
  *
  * The transport is deliberately thin: every tool body is one call
  * into the library — the computations are the oracle-gated operators;
  * this layer only parses arguments and mirrors the reference's
  * response texts (`:582-857`). JSON via json4s, which ships with
  * Spark.
  *
  * Auth parity with the reference's paramiko chain (`:101-117`): key
  * file → `-i`, password → the sshpass-backed runner, neither → agent;
  * the Auth response line mirrors the reference's exact wording.
  */
final class McpDispatcher(val catalog: LogCatalog, fetcher: RemoteFetcher) {
  import McpServer._

  /** Transport-level node registry — the reference's
    * `ssh_connections_config` dict (`cassandra_log_analyzer.py:338`).
    * Credentials live in the NodeConfig, which the runner factory
    * reads to pick the auth mode.
    */
  private val sshNodes =
    mutable.LinkedHashMap.empty[String, RemoteFetch.NodeConfig]

  def handle(method: String, params: JValue): Either[(Int, String), JValue] =
    method match {
      case "initialize" => Right(JObject(
        "protocolVersion" -> JString("2024-11-05"),
        "capabilities" -> JObject(
          "tools" -> JObject(), "resources" -> JObject()),
        "serverInfo" -> JObject(
          "name" -> JString("cassandra-log-analyzer"),
          "version" -> JString("1.0.0"))))
      case "ping" => Right(JObject())
      case "tools/list" => Right(JObject("tools" -> toolList))
      case "resources/list" => Right(JObject("resources" -> resourceList))
      case "resources/read" =>
        str(params, "uri").toRight((-32602, "missing uri")).flatMap(readResource)
      case "tools/call" =>
        str(params, "name").toRight((-32602, "missing tool name")).flatMap {
          name => callTool(name, params \ "arguments")
        }
      case other => Left((-32601, s"Méthode inconnue: $other"))
    }

  /** `read_resource` (`cassandra_log_analyzer.py:361-377`). */
  private def readResource(uri: String): Either[(Int, String), JValue] = {
    val text = uri match {
      case "cassandra://logs/analysis" =>
        if (catalog.isEmpty) """{"error": "Aucun log chargé"}"""
        else Reports.analysisJson(catalog)
      case "cassandra://logs/nodes" => Reports.nodesJson(catalog)
      case other => return Left((-32002, s"Ressource inconnue: $other"))
    }
    Right(JObject("contents" -> JArray(List(JObject(
      "uri" -> JString(uri),
      "mimeType" -> JString("application/json"),
      "text" -> JString(text))))))
  }

  private def callTool(name: String, args: JValue): Either[(Int, String), JValue] = {
    val text: Either[(Int, String), String] = name match {
      case "configure_ssh_node" => configureSshNode(args)
      case "load_logs_from_ssh" => loadLogsFromSsh(args)
      case "load_logs_from_all_nodes" => loadAllNodes(args)
      case "load_logs" =>
        for {
          node <- req(args, "node_name")
          content <- req(args, "log_content")
          loaded <- try Right(catalog.loadInline(node, content))
            catch { case e: LogCatalog.LoadTooLarge => Left((-32602, s"Argument invalide: ${e.getMessage}")) }
        } yield {
          val logType = str(args, "log_type").getOrElse("system")
          val (lines, total) = loaded
          s"Logs $logType chargés pour '$node'\n" +
            s"Nombre de lignes: $lines\nTotal nodes: $total"
        }
      case "analyze_cluster" =>
        Right(if (catalog.isEmpty) "Aucun log chargé. Utilisez load_logs d'abord."
        else Reports.renderAnalysis(catalog))
      case "search_logs" =>
        req(args, "pattern").flatMap { pattern =>
          try Right(Reports.renderSearch(catalog, pattern,
            bool(args, "case_sensitive").getOrElse(false),
            str(args, "node_filter")))
          catch {
            case e: java.util.regex.PatternSyntaxException =>
              Left((-32602, s"Expression régulière invalide: ${e.getDescription}"))
          }
        }
      case "get_errors" =>
        limit(args, 50).map(n =>
          if (catalog.isEmpty) "Aucun log chargé."
          else Reports.renderErrors(catalog, str(args, "node_name"), n))
      case "compare_nodes" =>
        Right(Reports.renderCompare(catalog, strSeq(args, "nodes")))
      case "detect_issues" =>
        Right(Reports.renderIssues(catalog,
          str(args, "severity").getOrElse("all")))
      // engine-extension tools (no reference analog): the library's
      // log-mining tier surfaced to MCP clients — template mining
      // (q183), slot-anomaly screening (q191), exact-dedup (q25),
      // each through the same shared expressions its gate executes
      case "mine_templates" =>
        limit(args, 20).map(n =>
          if (catalog.isEmpty) "Aucun log chargé. Utilisez load_logs d'abord."
          else Reports.renderTemplates(catalog, n))
      case "detect_slot_anomalies" =>
        Right(if (catalog.isEmpty) "Aucun log chargé. Utilisez load_logs d'abord."
        else Reports.renderSlotAnomalies(catalog))
      case "deduplicate_lines" =>
        limit(args, 20).map(n =>
          if (catalog.isEmpty) "Aucun log chargé. Utilisez load_logs d'abord."
          else Reports.renderDedup(catalog, n))
      case "group_stack_traces" =>
        limit(args, 20).map(n =>
          if (catalog.isEmpty) "Aucun log chargé. Utilisez load_logs d'abord."
          else Reports.renderStackTraces(catalog, n))
      // lake + vector extension tools: each runs the gated registry
      // entry itself (q274/q284/q271+q295) over the caller's parquet
      // table directory — the engine's lake and vector tiers surfaced
      // to the same MCP clients
      case "lake_time_travel" =>
        req(args, "data_dir").map(d =>
          Reports.renderLakeTimeTravel(catalog.spark, d))
      case "lake_change_feed" =>
        req(args, "data_dir").map(d =>
          Reports.renderLakeChangeFeed(catalog.spark, d))
      case "lake_write_ops" =>
        req(args, "data_dir").map(d =>
          Reports.renderLakeWriteOps(catalog.spark, d))
      case "vector_scoreboard" =>
        req(args, "data_dir").map(d =>
          Reports.renderVectorScoreboard(catalog.spark, d))
      case "stream_recovery_report" =>
        req(args, "data_dir").map(d =>
          Reports.renderStreamRecovery(catalog.spark, d))
      case "graph_search" =>
        req(args, "data_dir").map(d =>
          Reports.renderGraphSearch(catalog.spark, d))
      case other => Left((-32602, s"Outil inconnu: $other"))
    }
    text.map(t => JObject(
      "content" -> JArray(List(JObject(
        "type" -> JString("text"), "text" -> JString(t)))),
      "isError" -> JBool(false)))
  }

  /** `configure_ssh_node` (`cassandra_log_analyzer.py:586-630`): save
    * the config, probe the remote log directory, preview the first
    * five log files (` ...` marks more).
    */
  private def configureSshNode(args: JValue): Either[(Int, String), String] =
    for {
      node <- req(args, "node_name")
      host <- req(args, "host")
      username <- req(args, "username")
    } yield {
      val port = int(args, "port").getOrElse(22)
      val logDir = str(args, "log_directory").getOrElse("/var/log/cassandra")
      val keyFile = str(args, "key_file")
      val password = str(args, "password")
      val cfg = RemoteFetch.NodeConfig(host, username, port, logDir,
        keyFile, password)
      sshNodes(node) = cfg
      try {
        if (!fetcher.testDirectory(cfg))
          s"Configuration SSH sauvegardée pour '$node' ($host). " +
            s"ATTENTION: Le répertoire $logDir n'existe pas sur le serveur."
        else {
          val files = fetcher.listLogFiles(cfg)
          val filesList = files.take(5).map("  - " + _).mkString("\n")
          val more = if (files.size > 5) " ..." else ""
          // the reference's exact auth-priority wording (CLA:621)
          val auth =
            if (keyFile.isDefined) "Clé SSH"
            else if (password.isDefined) "Mot de passe"
            else "Agent SSH"
          s"Configuration SSH réussie pour '$node'\nHost: $host:$port\n" +
            s"User: $username\nAuth: $auth\nRépertoire: $logDir\n" +
            s"Fichiers trouvés: ${files.size}\n$filesList$more"
        }
      } catch {
        case e: Exception =>
          s"Configuration sauvegardée mais échec de connexion à '$node'\n" +
            s"Erreur: ${e.getMessage}\nVérifiez les credentials."
      }
    }

  /** `load_logs_from_ssh` (`cassandra_log_analyzer.py:632-689`). */
  private def loadLogsFromSsh(args: JValue): Either[(Int, String), String] =
    req(args, "node_name").map { node =>
      val logType = str(args, "log_type").getOrElse("system")
      val tail = int(args, "tail_lines")
      sshNodes.get(node) match {
        case None =>
          val configured =
            if (sshNodes.isEmpty) "aucun" else sshNodes.keys.mkString(", ")
          s"Node '$node' non configuré. Utilisez configure_ssh_node " +
            s"d'abord. Nodes configurés: $configured"
        case Some(sn) =>
          val types =
            Seq("system", "debug").filter(t => logType == t || logType == "both")
          val loaded = types.map { t =>
            fetcher.loadNode(catalog, sn, node, t, tail) match {
              case Right((lines, _)) => s"  - $t.log ($lines lignes)"
              case Left(err) => s"  - $t.log (ERREUR: ${err.message})"
            }
          }
          s"Logs chargés depuis '$node' (${sn.host})\n" +
            s"${loaded.mkString("\n")}\n\n" +
            s"Total nodes avec logs: ${catalog.distinctBaseNodes}"
      }
    }

  /** `load_logs_from_all_nodes` (`cassandra_log_analyzer.py:691-722`)
    * — but the fetches run in PARALLEL via [[RemoteFetcher.loadAllTypes]]
    * where the reference awaits nodes one at a time.
    */
  private def loadAllNodes(args: JValue): Either[(Int, String), String] =
    Right {
      if (sshNodes.isEmpty) "Aucun node SSH configuré. Utilisez configure_ssh_node."
      else {
        val logType = str(args, "log_type").getOrElse("system")
        val tail = int(args, "tail_lines")
        val types =
          Seq("system", "debug").filter(t => logType == t || logType == "both")
        val nodes = sshNodes.toSeq.map { case (n, s) => n -> s }
        // one node-major pass over node×type (catalog keys land
        // node1_system, node1_debug, node2_system, ... — the
        // reference's per-node loop order); node result = conjunction
        // over its requested log types
        val loaded = fetcher.loadAllTypes(catalog, nodes, types, tail)
        val results = nodes.map { case (name, _) =>
          val errs = loaded.collect {
            case (`name`, _, Left(e)) => e.message
          }
          name -> errs.headOption
        }
        val lines = results.map {
          case (n, None) => s"OK $n"
          case (n, Some(e)) => s"ERREUR $n: $e"
        }
        val ok = results.count(_._2.isEmpty)
        s"Chargement de tous les nodes\n\nSuccès: $ok/${nodes.size}\n\n" +
          lines.mkString("\n")
      }
    }
}

object McpServer {

  // ---- JSON argument helpers -----------------------------------------
  private[mcp] def str(j: JValue, k: String): Option[String] =
    j \ k match { case JString(s) => Some(s); case _ => None }
  private[mcp] def int(j: JValue, k: String): Option[Int] =
    j \ k match { case JInt(i) => Some(i.toInt); case _ => None }
  private[mcp] def bool(j: JValue, k: String): Option[Boolean] =
    j \ k match { case JBool(b) => Some(b); case _ => None }
  private[mcp] def strSeq(j: JValue, k: String): Seq[String] =
    j \ k match {
      case JArray(xs) => xs.collect { case JString(s) => s }
      case _ => Seq.empty
    }
  private[mcp] def req(j: JValue, k: String): Either[(Int, String), String] =
    str(j, k).toRight((-32602, s"Argument requis manquant: $k"))
  /** The `limit` argument, or `default`; a negative one is rejected. */
  private[mcp] def limit(j: JValue, default: Int): Either[(Int, String), Int] =
    int(j, "limit").getOrElse(default) match {
      case n if n < 0 => Left((-32602, s"Argument invalide: limit = $n (doit être >= 0)"))
      case n => Right(n)
    }

  /** The nine parity tools with the reference's names, descriptions,
    * and input schemas (`cassandra_log_analyzer.py:383-575`) — the
    * wire contract, byte-stable — followed by the ten
    * engine-extension tools (marked `[Extension]`), as a parsed JSON
    * constant.
    */
  private[mcp] val toolList: JValue = parse(
    """[
      |{"name":"configure_ssh_node","description":"Configure les paramètres SSH pour un node Cassandra.",
      | "inputSchema":{"type":"object","properties":{
      |   "node_name":{"type":"string","description":"Nom du node"},
      |   "host":{"type":"string","description":"Adresse IP ou hostname"},
      |   "username":{"type":"string","description":"Nom d'utilisateur SSH"},
      |   "password":{"type":"string","description":"Mot de passe SSH (optionnel)"},
      |   "key_file":{"type":"string","description":"Chemin vers la clé privée SSH"},
      |   "port":{"type":"integer","description":"Port SSH","default":22},
      |   "log_directory":{"type":"string","description":"Répertoire des logs Cassandra","default":"/var/log/cassandra"}},
      |  "required":["node_name","host","username"]}},
      |{"name":"load_logs_from_ssh","description":"Charge les logs d'un node via SSH.",
      | "inputSchema":{"type":"object","properties":{
      |   "node_name":{"type":"string"},
      |   "log_type":{"type":"string","default":"system"},
      |   "tail_lines":{"type":"integer"}},
      |  "required":["node_name"]}},
      |{"name":"load_logs_from_all_nodes","description":"Charge les logs de tous les nodes SSH configurés.",
      | "inputSchema":{"type":"object","properties":{
      |   "log_type":{"type":"string","default":"system"},
      |   "tail_lines":{"type":"integer"}}}},
      |{"name":"load_logs","description":"Charge les logs manuellement (copier-coller)",
      | "inputSchema":{"type":"object","properties":{
      |   "node_name":{"type":"string"},
      |   "log_content":{"type":"string"},
      |   "log_type":{"type":"string"}},
      |  "required":["node_name","log_content"]}},
      |{"name":"analyze_cluster","description":"Analyse tous les logs chargés et génère un rapport complet.",
      | "inputSchema":{"type":"object","properties":{
      |   "include_recommendations":{"type":"boolean","default":true}}}},
      |{"name":"search_logs","description":"Recherche un pattern dans tous les logs.",
      | "inputSchema":{"type":"object","properties":{
      |   "pattern":{"type":"string"},
      |   "case_sensitive":{"type":"boolean","default":false},
      |   "node_filter":{"type":"string"}},
      |  "required":["pattern"]}},
      |{"name":"get_errors","description":"Récupère toutes les erreurs.",
      | "inputSchema":{"type":"object","properties":{
      |   "node_name":{"type":"string"},
      |   "limit":{"type":"integer","default":50}}}},
      |{"name":"compare_nodes","description":"Compare les métriques entre nodes.",
      | "inputSchema":{"type":"object","properties":{
      |   "nodes":{"type":"array","items":{"type":"string"}}}}},
      |{"name":"detect_issues","description":"Détecte les problèmes connus.",
      | "inputSchema":{"type":"object","properties":{
      |   "severity":{"type":"string","enum":["all","critical","high","medium"],"default":"all"}}}},
      |{"name":"mine_templates","description":"[Extension] Extrait les templates structurels des logs chargés (masquage des nombres, minage Drain).",
      | "inputSchema":{"type":"object","properties":{
      |   "limit":{"type":"integer","description":"Nombre max de templates","default":20}}}},
      |{"name":"detect_slot_anomalies","description":"[Extension] Détecte les valeurs de paramètres hors de leur enveloppe historique par (template, slot).",
      | "inputSchema":{"type":"object","properties":{}}},
      |{"name":"group_stack_traces","description":"[Extension] Regroupe les lignes de continuation non analysées (traces Java) sous leur ligne ERROR parente et agrège par classe d'exception (q318).",
      | "inputSchema":{"type":"object","properties":{
      |   "limit":{"type":"integer","description":"Nombre max de groupes","default":20}}}},
      |{"name":"deduplicate_lines","description":"[Extension] Rapport de déduplication exacte des lignes chargées.",
      | "inputSchema":{"type":"object","properties":{
      |   "limit":{"type":"integer","description":"Nombre max de groupes","default":20}}}},
      |{"name":"lake_time_travel","description":"[Extension] Lectures as-of du journal de commits du lake (time travel) sur un répertoire de tables parquet.",
      | "inputSchema":{"type":"object","properties":{
      |   "data_dir":{"type":"string","description":"Répertoire des tables parquet"}},
      |  "required":["data_dir"]}},
      |{"name":"lake_change_feed","description":"[Extension] Change data feed entre versions du lake, dérivé du diff des ensembles de fichiers.",
      | "inputSchema":{"type":"object","properties":{
      |   "data_dir":{"type":"string","description":"Répertoire des tables parquet"}},
      |  "required":["data_dir"]}},
      |{"name":"lake_write_ops","description":"[Extension] Opérations d'écriture du lake sur copies privées: MERGE trois clauses (q324), OPTIMIZE ZORDER commité (q325), RESTORE TO VERSION (q326), VACUUM conscient des clones (q323).",
      | "inputSchema":{"type":"object","properties":{
      |   "data_dir":{"type":"string","description":"Répertoire des tables parquet"}},
      |  "required":["data_dir"]}},
      |{"name":"vector_scoreboard","description":"[Extension] Rappel planté des tiers d'index vectoriel (échelle de compression + tier graphe).",
      | "inputSchema":{"type":"object","properties":{
      |   "data_dir":{"type":"string","description":"Répertoire des tables parquet"}},
      |  "required":["data_dir"]}},
      |{"name":"stream_recovery_report","description":"[Extension] Preuve de reprise exactly-once du streaming: cycle arrêt/arrivée/reprise (q292) comparé à l'exécution continue de référence (q59).",
      | "inputSchema":{"type":"object","properties":{
      |   "data_dir":{"type":"string","description":"Répertoire des tables parquet"}},
      |  "required":["data_dir"]}},
      |{"name":"graph_search","description":"[Extension] Recherche vectorielle par graphe (build diversifié + descente gloutonne multi-entrée, q305) avec la chaîne de rappel par sonde, plus la fixture structurée (q307).",
      | "inputSchema":{"type":"object","properties":{
      |   "data_dir":{"type":"string","description":"Répertoire des tables parquet"}},
      |  "required":["data_dir"]}}
      |]""".stripMargin)

  /** The two resources (`cassandra_log_analyzer.py:342-357`). */
  private[mcp] val resourceList: JValue = parse(
    """[
      |{"uri":"cassandra://logs/analysis","name":"Analyse des logs Cassandra",
      | "description":"Résultats de l'analyse des logs de tous les nodes","mimeType":"application/json"},
      |{"uri":"cassandra://logs/nodes","name":"Liste des nodes",
      | "description":"Liste des nodes du cluster avec leurs logs","mimeType":"application/json"}
      |]""".stripMargin)

  /** One JSON-RPC message in → at most one response out (notifications
    * — no `id` — produce none). Whatever a handler throws fails that
    * request alone: a -32603 error naming the exception class, never the
    * loop or the loaded catalog.
    */
  def handleLine(line: String, dispatcher: McpDispatcher): Option[JValue] = {
    val msg =
      try parse(line)
      catch {
        case _: Exception =>
          return Some(errorResponse(JNull, -32700, "Parse error"))
      }
    val id = msg \ "id"
    val method = msg \ "method" match { case JString(m) => m; case _ => "" }
    def handle(): Either[(Int, String), JValue] =
      try dispatcher.handle(method, msg \ "params")
      catch {
        case NonFatal(e) => Left((-32603, s"Erreur interne: ${e.getClass.getName}" +
          Option(e.getMessage).flatMap(_.linesIterator.find(_.nonEmpty)).fold("")(": " + _)))
      }
    if (id == JNothing || id == JNull) {
      // notification: execute state-changing methods, never respond
      if (!method.startsWith("notifications/")) handle()
      None
    } else handle() match {
      case Right(result) => Some(JObject(
        "jsonrpc" -> JString("2.0"), "id" -> id, "result" -> result))
      case Left((code, m)) => Some(errorResponse(id, code, m))
    }
  }

  private def errorResponse(id: JValue, code: Int, message: String): JValue =
    JObject("jsonrpc" -> JString("2.0"), "id" -> id,
      "error" -> JObject(
        "code" -> JInt(code), "message" -> JString(message)))

  /** Blocking newline-delimited JSON-RPC loop (MCP stdio framing). */
  def serve(in: InputStream, out: OutputStream, dispatcher: McpDispatcher): Unit = {
    val reader = new BufferedReader(new InputStreamReader(in, UTF_8))
    val writer = new PrintWriter(new OutputStreamWriter(out, UTF_8), true)
    var line = reader.readLine()
    while (line != null) {
      if (line.trim.nonEmpty)
        handleLine(line, dispatcher).foreach(r => writer.println(compact(render(r))))
      line = reader.readLine()
    }
  }

  /** Stdio entry point: `runMain graft.mcp.McpServer`. Spark logs go to
    * stderr; stdout carries only JSON-RPC frames. localhost nodes run
    * through a local shell (no sshd needed), anything else through the
    * `ssh` subprocess — key file / agent / sshpass-password per the
    * node's configured credentials ([[RemoteFetch.defaultRunner]]).
    */
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.getOrCreate("cassandra-log-analyzer")
    spark.sparkContext.setLogLevel("ERROR")
    val fetcher = new RemoteFetcher(RemoteFetch.defaultRunner)
    serve(System.in, System.out,
      new McpDispatcher(new LogCatalog(spark), fetcher))
    spark.stop()
  }
}
