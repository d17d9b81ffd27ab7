package graft.report

import graft.analyze.ClusterAnalyzer
import graft.ingest.LogCatalog
import graft.model.{NodeStats, Recommendation}
import graft.query.LogQueries
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Markdown / JSON renderers — the reference's report sinks (SURVEY.md
  * §2.1 S6/S7), byte-compatible with the handler f-strings at
  * `cassandra_log_analyzer.py:747-770` (analyze), `:790-797` (search),
  * `:821-825` (errors), `:833-841` (compare), `:849-855` (issues).
  *
  * The analysis, compare and issues renderers read the catalog's
  * per-node stats on the driver; the others collect an
  * already-aggregated (tiny) DataFrame. Node order follows catalog
  * insertion order = reference dict order.
  */
object Reports {

  private def emoji(severity: String): String =
    if (severity == "CRITICAL") "CRITIQUE"
    else if (severity == "HIGH") "IMPORTANT"
    else "ATTENTION" // `cassandra_log_analyzer.py:764,853`

  /** The analysis inputs from the catalog's per-node stats: summary rows
    * in insertion order, histogram, recommendations — no Spark job once
    * the stats exist.
    */
  private def analysis(catalog: LogCatalog)
      : (Seq[(String, NodeStats)], Seq[(String, Long)], Seq[Recommendation]) = {
    val stats = catalog.stats
    val hist = ClusterAnalyzer.histogram(stats.map(_._2))
    (stats, hist, ClusterAnalyzer.recommendationsFromCounts(hist.toMap))
  }

  /** `analyze_cluster` Markdown (`cassandra_log_analyzer.py:747-767`). */
  def renderAnalysis(catalog: LogCatalog): String = {
    val (stats, hist, recs) = analysis(catalog)
    val sb = new StringBuilder("# Analyse du Cluster Cassandra\n\n")
    sb ++= "## Résumé par Node\n"
    stats.foreach { case (node, s) =>
      sb ++= s"\n### $node\n"
      sb ++= s"- Erreurs: ${s.errors}\n"
      sb ++= s"- Warnings: ${s.warnings}\n"
      sb ++= s"- Total lignes: ${s.totalLines}\n"
    }
    sb ++= "\n## Problèmes Détectés\n"
    hist.foreach { case (t, n) =>
      sb ++= s"- $t: $n occurrences\n"
    }
    if (recs.nonEmpty) {
      sb ++= "\n## Recommandations\n"
      recs.foreach { rec =>
        sb ++= s"\n${emoji(rec.severity)} **${rec.issue}** (${rec.severity})\n"
        sb ++= s"→ ${rec.recommendation}\n"
      }
    }
    sb.result()
  }

  /** `search_logs` Markdown (`cassandra_log_analyzer.py:784-798`). */
  def renderSearch(catalog: LogCatalog, pattern: String,
                   caseSensitive: Boolean = false,
                   nodeFilter: Option[String] = None): String = {
    val (hits, total) = LogQueries.searchLogsCapped(catalog, pattern, caseSensitive, nodeFilter)
    if (total == 0) return s"Aucun résultat pour: $pattern"
    val sb = new StringBuilder(s"# Résultats de recherche: '$pattern'\n\nTotal: $total\n\n")
    hits.foreach { r =>
      sb ++= s"**${r.getString(0)}** (ligne ${r.getLong(1)})\n"
      sb ++= s"```\n${r.getString(2)}\n```\n\n"
    }
    if (total > LogQueries.SearchCap)
      sb ++= s"\n... et ${total - LogQueries.SearchCap} résultats supplémentaires"
    sb.result()
  }

  /** `get_errors` Markdown (`cassandra_log_analyzer.py:821-826`). */
  def renderErrors(catalog: LogCatalog, nodeName: Option[String] = None,
                   limit: Int = 50): String = {
    val errs = LogQueries.getErrors(catalog, nodeName, limit).collect()
    val sb = new StringBuilder(s"# Erreurs (${errs.length})\n\n")
    errs.foreach { r =>
      sb ++= s"**${r.getString(0)}** [${r.getString(2)}]\n"
      sb ++= s"```\n${r.getString(6)}\n```\n\n"
    }
    sb.result()
  }

  /** `compare_nodes` Markdown table (`cassandra_log_analyzer.py:833-841`). */
  def renderCompare(catalog: LogCatalog, nodes: Seq[String] = Seq.empty): String = {
    val requested = if (nodes.nonEmpty) nodes else catalog.nodeKeys
    val sb = new StringBuilder("# Comparaison des Nodes\n\n")
    sb ++= "| Node | Erreurs | Warnings | Lignes |\n"
    sb ++= "|------|---------|----------|--------|\n"
    LogQueries.compareStats(catalog, requested).foreach { case (n, s) =>
      sb ++= s"| $n | ${s.errors} | ${s.warnings} | ${s.totalLines} |\n"
    }
    sb.result()
  }

  /** `detect_issues` Markdown (`cassandra_log_analyzer.py:849-855`). */
  def renderIssues(catalog: LogCatalog, severity: String = "all"): String = {
    val sb = new StringBuilder("# Problèmes Détectés\n\n")
    LogQueries.issueRecommendations(catalog, severity).foreach { rec =>
      sb ++= s"${emoji(rec.severity)} **${rec.issue}** (${rec.severity})\n"
      sb ++= s"→ ${rec.recommendation}\n\n"
    }
    sb.result()
  }

  /** The `cassandra://logs/analysis` JSON resource
    * (`cassandra_log_analyzer.py:360-370`) — full analysis as JSON.
    * Node/field order follows the reference's construction order.
    */
  def analysisJson(catalog: LogCatalog): String = {
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val (stats, hist, recs) = analysis(catalog)
    val summaryJson = stats.map { case (n, s) =>
      s"${jstr(n)}: {\"errors\": ${s.errors}, \"warnings\": ${s.warnings}, \"total_lines\": ${s.totalLines}}"
    }.mkString("{", ", ", "}")
    val histJson = hist.map { case (t, n) => s"${jstr(t)}: $n" }
      .mkString("{", ", ", "}")
    val recsJson = recs.map { rec =>
      s"{\"severity\": ${jstr(rec.severity)}, \"issue\": ${jstr(rec.issue)}, \"recommendation\": ${jstr(rec.recommendation)}}"
    }.mkString("[", ", ", "]")
    s"""{"summary": $summaryJson, "issue_counts": $histJson, "recommendations": $recsJson}"""
  }

  /** The `cassandra://logs/nodes` resource (`cassandra_log_analyzer.py:371-377`). */
  def nodesJson(catalog: LogCatalog): String = {
    val keys = catalog.nodeKeys
    keys.map(k => "\"" + k + "\"").mkString("{\"nodes\": [", ", ", s"], \"count\": ${keys.size}}")
  }

  // ---- engine-extension tools (no reference analog) -------------------
  // The engine's own log-mining capabilities surfaced to an MCP client
  // beside the nine parity tools. Every computation runs through the
  // SAME shared expressions its oracle gate executes
  // (LogDomainQueries.Corpus.templateOf / numRuns — the q183/q187/q191
  // definitions) over the loaded catalog.

  import graft.queries.LogDomainQueries.Corpus.{numRuns, templateOf}

  /** `mine_templates` — q183's Drain-style mining over the loaded
    * lines: digit runs mask to `<N>`, templates roll up with volume,
    * node spread, and parameter-slot count.
    */
  def renderTemplates(catalog: LogCatalog, limit: Int = 20): String = {
    val rows = catalog.raw
      .where(length(trim(col("value"))) > 0)
      .select(col("node"), templateOf(col("value")).as("template"),
        size(numRuns(col("value"))).cast("long").as("n_params"))
      .groupBy("template")
      .agg(count(lit(1)).as("n_lines"),
        countDistinct(col("node")).as("n_nodes"),
        max(col("n_params")).as("n_params"))
      .orderBy(desc("n_lines"), asc("template"))
      .limit(limit).collect()
    val sb = new StringBuilder("# Templates de logs\n\n")
    sb ++= s"Templates distincts (top ${rows.length}):\n"
    rows.foreach { r =>
      sb ++= s"\n- `${r.getString(0)}`\n"
      sb ++= s"  lignes: ${r.getLong(1)}, nodes: ${r.getLong(2)}, " +
        s"paramètres: ${r.getLong(3)}\n"
    }
    sb.result()
  }

  /** `group_stack_traces` — the q318 islands pass over the loaded
    * lines: unparsed continuation lines attach to their preceding
    * parsed head ([[graft.analyze.StackTraces]] — the REAL parse
    * regex is the island key), rolled up per (node, exception class).
    * Lines are ordered by the catalog's per-node `line_number` (the
    * W1 numbering the reference assigns at load).
    */
  def renderStackTraces(catalog: LogCatalog, limit: Int = 20): String = {
    val rows = graft.analyze.StackTraces.rollup(
      graft.analyze.StackTraces.incidents(
        catalog.raw.select(col("node"),
          col("line_number").cast("long").as("line_no"),
          col("value").as("line"))))
      .limit(limit).collect()
    val sb = new StringBuilder("# Traces d'exécution groupées\n\n")
    if (rows.isEmpty)
      sb ++= "Aucune trace d'exécution détectée sous une ligne ERROR.\n"
    else {
      sb ++= s"Incidents ERROR avec trace (top ${rows.length}):\n"
      rows.foreach { r =>
        sb ++= s"\n- ${r.getString(0)} `${r.getString(1)}`\n"
        sb ++= s"  incidents: ${r.getLong(2)}, frames: ${r.getLong(3)}, " +
          s"portée max: ${r.getLong(4)} lignes, " +
          s"première ligne: ${r.getLong(5)}\n"
      }
    }
    sb.result()
  }

  /** `detect_slot_anomalies` — the q191 screen over the loaded lines:
    * per (template, slot) [min, max] envelopes from each node's first
    * two line-thirds screen the most recent third (the q191 history/
    * recent split, in line order since inline logs carry no event
    * time). The envelope relation is (template × slot)-bounded, so it
    * broadcasts, exactly as the gate's plan does.
    */
  def renderSlotAnomalies(catalog: LogCatalog): String = {
    val wmax = org.apache.spark.sql.expressions.Window.partitionBy("node")
    val lines = catalog.raw
      .where(length(trim(col("value"))) > 0)
      .withColumn("maxln", max(col("line_number")).over(wmax))
      .withColumn("is_hist", col("line_number") * 3 <= col("maxln") * 2)
    def slots(df: org.apache.spark.sql.DataFrame) = df
      .select(templateOf(col("value")).as("template"),
        posexplode(numRuns(col("value"))).as(Seq("slot", "v")))
      .select(col("template"), col("slot").cast("long").as("slot"),
        col("v").cast("long").as("v"))
      .where(col("v").isNotNull)
    val hist = slots(lines.where(col("is_hist")))
      .groupBy("template", "slot")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val isAnom = col("v") < col("lo") || col("v") > col("hi")
    val rows = slots(lines.where(!col("is_hist")))
      .join(broadcast(hist), Seq("template", "slot"))  // hint audit: (template x slot)-bounded (log formats are finite)
      .groupBy("template", "slot", "lo", "hi")
      .agg(count(lit(1)).as("n_checked"),
        sum(when(isAnom, 1L).otherwise(0L)).as("n_anomalous"))
      .where(col("n_anomalous") > 0)
      .orderBy(desc("n_anomalous"), asc("template"), asc("slot"))
      .collect()
    val sb = new StringBuilder("# Anomalies de paramètres\n\n")
    if (rows.isEmpty)
      sb ++= "Aucune valeur hors enveloppe historique.\n"
    else {
      sb ++= "Valeurs hors de l'enveloppe historique [min, max] " +
        "(fenêtre récente = dernier tiers des lignes):\n"
      rows.foreach { r =>
        sb ++= s"\n- `${r.getString(0)}` slot ${r.getLong(1)}\n"
        sb ++= s"  enveloppe [${r.getLong(2)}, ${r.getLong(3)}], " +
          s"vérifiées: ${r.getLong(4)}, anomalies: ${r.getLong(5)}\n"
      }
    }
    sb.result()
  }

  /** `deduplicate_lines` — the exact-dedup report (q25's
    * canonical-key shape) over the loaded lines: identical trimmed
    * lines grouped, repeated ones listed most-frequent first.
    */
  def renderDedup(catalog: LogCatalog, limit: Int = 20): String = {
    val grouped = catalog.raw
      .where(length(trim(col("value"))) > 0)
      .groupBy(trim(col("value")).as("content"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("node")).as("n_nodes"))
    val total = grouped.agg(
      sum(col("n_occurrences")).as("n_lines"),
      count(lit(1)).as("n_distinct")).head()
    val dups = grouped.where(col("n_occurrences") >= 2)
      .orderBy(desc("n_occurrences"), asc("content"))
      .limit(limit).collect()
    val sb = new StringBuilder("# Lignes dupliquées\n\n")
    sb ++= s"Lignes non vides: ${total.getLong(0)}, " +
      s"distinctes: ${total.getLong(1)}\n"
    if (dups.isEmpty) sb ++= "\nAucune ligne répétée.\n"
    else dups.foreach { r =>
      sb ++= s"\n- ${r.getLong(1)}x (${r.getLong(2)} nodes): " +
        s"`${r.getString(0)}`\n"
    }
    sb.result()
  }

  /** The lake/vector extension tools' table-directory guard: the tool
    * surface must answer in prose, never a stack trace.
    */
  private def missingTables(dataDir: String, tables: Seq[String])
      : Option[String] = {
    val missing = tables.filterNot(t =>
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dataDir/$t.parquet")))
    if (missing.isEmpty) None
    else Some(s"Répertoire de tables invalide: '$dataDir' " +
      s"(manquant: ${missing.map(_ + ".parquet").mkString(", ")}).")
  }

  /** Full prose contract for the extension tools: the presence check
    * above, AND any execution failure (present-but-corrupt parquet,
    * wrong schema) rendered as a one-line prose error — a raw Spark
    * stack trace never crosses the tool surface.
    */
  private def guardedTool(dataDir: String, tables: Seq[String])(
      body: => String): String =
    missingTables(dataDir, tables).getOrElse(
      try body
      catch {
        case scala.util.control.NonFatal(e) =>
          val detail = Option(e.getMessage)
            .flatMap(_.linesIterator.find(_.nonEmpty))
            .map(m => s" — $m").getOrElse("")
          s"Tables illisibles dans '$dataDir' (fichier corrompu ou " +
            s"schéma inattendu): ${e.getClass.getSimpleName}$detail"
      })

  /** `lake_time_travel` — the q274 commit-log lifecycle (version →
    * files/rows/chars/checksum) run through the gated registry entry
    * ITSELF over the caller's table directory, so the MCP surface
    * executes exactly what CORRECTNESS gates.
    */
  def renderLakeTimeTravel(spark: org.apache.spark.sql.SparkSession,
      dataDir: String): String =
    guardedTool(dataDir, Seq("documents")) {
      val rows =
        graft.SparkEntry.queries("q274_lake_time_travel")(spark, dataDir)
          .collect()
      val sb = new StringBuilder("# Time travel (journal de commits)\n\n")
      sb ++= "Lectures as-of(v) résolues par repli des manifestes " +
        "(v0 chargement initial, v1 append delta, v2 delete " +
        "copy-on-write):\n"
      rows.foreach { r =>
        sb ++= s"\n- version ${r.getLong(0)}: fichiers ${r.getLong(1)}, " +
          s"lignes ${r.getLong(2)}, caractères ${r.getLong(3)}, " +
          s"checksum ${r.getLong(4)}\n"
      }
      sb.result()
    }

  /** `lake_change_feed` — q284's change-data-feed (file-set diff)
    * through the gated registry entry; v0→v2 carries the real
    * inserts/deletes, v2→v3 proves compaction is invisible to a CDF
    * consumer.
    */
  def renderLakeChangeFeed(spark: org.apache.spark.sql.SparkSession,
      dataDir: String): String =
    guardedTool(dataDir, Seq("documents")) {
      val rows =
        graft.SparkEntry.queries("q284_lake_change_feed")(spark, dataDir)
          .collect()
      val sb = new StringBuilder("# Change data feed\n\n")
      sb ++= "Changements entre versions, dérivés du seul diff des " +
        "ensembles de fichiers (jamais un re-scan de la table):\n"
      rows.foreach { r =>
        sb ++= s"\n- v${r.getLong(0)} → v${r.getLong(1)} " +
          s"${r.getString(2)}: lignes ${r.getLong(3)}, " +
          s"caractères ${r.getLong(4)}, checksum ${r.getLong(5)}\n"
      }
      sb.result()
    }

  /** `lake_write_ops` — the lake tier's WRITE operations surfaced to
    * MCP clients, each through the gated registry entry itself: the
    * three-arm MERGE (q324 — update/delete/insert with the
    * stats-targeted CoW funnel), the committed OPTIMIZE ZORDER (q325
    * — atomic layout swap + non-leading-column pruning), RESTORE TO
    * VERSION (q326 — metadata-only rollback-as-commit), and the
    * clone-aware vacuum (q323 — the refuse/execute safety contract
    * across shallow-clone logs). Everything runs against staged
    * private copies derived from the caller's tables; the caller's
    * files are never mutated.
    */
  def renderLakeWriteOps(spark: org.apache.spark.sql.SparkSession,
      dataDir: String): String =
    guardedTool(dataDir, Seq("documents")) {
      val sb = new StringBuilder("# Opérations d'écriture du lake\n\n")
      val m = graft.SparkEntry.queries("q324_lake_merge_delete")(
        spark, dataDir).collect().head
      sb ++= "## MERGE INTO (update + delete + insert)\n\n" +
        s"Entonnoir copy-on-write: ${m.getLong(0)} fichiers actifs → " +
        s"${m.getLong(1)} candidats (stats) → ${m.getLong(2)} " +
        s"réécrits.\nLignes: ${m.getLong(3)} mises à jour, " +
        s"${m.getLong(4)} supprimées, ${m.getLong(5)} insérées; " +
        s"état final ${m.getLong(6)} lignes, checksum ${m.getLong(8)}.\n"
      val z = graft.SparkEntry.queries("q325_lake_optimize_zorder_commit")(
        spark, dataDir).collect()
      sb ++= "\n## OPTIMIZE ZORDER (commit atomique)\n\n"
      z.foreach { r =>
        sb ++= s"- ${r.getString(0)}: ${r.getLong(2)}/${r.getLong(1)} " +
          s"fichiers lus, ${r.getLong(3)} lignes, " +
          s"checksum ${r.getLong(5)}\n"
      }
      val rst = graft.SparkEntry.queries("q326_lake_restore")(
        spark, dataDir).collect()
      sb ++= "\n## RESTORE TO VERSION (métadonnées seules)\n\n"
      rst.foreach { r =>
        sb ++= s"- ${r.getString(0)}: +${r.getLong(1)}/-${r.getLong(2)} " +
          s"entrées de manifeste, ${r.getLong(3)} fichiers, " +
          s"${r.getLong(4)} lignes, checksum ${r.getLong(6)}\n"
      }
      val vc = graft.SparkEntry.queries("q323_lake_vacuum_clone_safety")(
        spark, dataDir).collect()
      sb ++= "\n## VACUUM × clone (contrat de sécurité)\n\n"
      vc.foreach { r =>
        sb ++= s"- ${r.getString(0)}: ${r.getString(4)} " +
          s"(${r.getLong(3)} conflits sur ${r.getLong(1)} condamnés), " +
          s"lecture ${r.getLong(6)} lignes, checksum ${r.getLong(8)}\n"
      }
      sb.result()
    }

  /** `stream_recovery_report` — the streaming tier's observability
    * face: runs q292's REAL restart-with-new-data cycle (run 1 over
    * two time-thirds → shutdown → the third lands → resume from the
    * same checkpoint, read back through the file sink's commit log)
    * through the gated registry entry, then proves continuity at the
    * tool surface by comparing against the one-continuous-run q59
    * result row for row (q292's oracle is q59's SQL verbatim; here
    * the engine checks itself end-to-end for the MCP client).
    */
  def renderStreamRecovery(spark: org.apache.spark.sql.SparkSession,
      dataDir: String): String =
    guardedTool(dataDir, Seq("events")) {
      val rec =
        graft.SparkEntry.queries("q292_stream_restart_recovery")(
          spark, dataDir).collect()
      val cont =
        graft.SparkEntry.queries("q59_stream_window")(spark, dataDir)
          .collect()
      // both frames are ordered by (window_us, event_type); equality
      // on every column is the continuity proof
      def key(r: Row) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))
      val continuous = rec.length == cont.length &&
        rec.map(key).sameElements(cont.map(key))
      val sb = new StringBuilder(
        "# Reprise du streaming (exactly-once)\n\n")
      sb ++= "Cycle réel rejoué: exécution 1 (deux premiers tiers) → " +
        "arrêt → arrivée du troisième tiers → reprise depuis le MÊME " +
        "checkpoint, relecture via le journal de commits du sink " +
        "fichier.\n"
      sb ++= s"\n- fenêtres émises (union des deux exécutions): " +
        s"${rec.length}, événements agrégés: ${rec.map(_.getLong(2)).sum}\n"
      sb ++= s"- exécution continue de référence: ${cont.length} " +
        s"fenêtres, ${cont.map(_.getLong(2)).sum} événements\n"
      sb ++= s"- continuité exacte (aucune fenêtre perdue ou émise deux " +
        s"fois, comptes et sommes identiques): " +
        s"${if (continuous) "OUI" else "NON"}\n"
      sb.result()
    }

  /** `vector_scoreboard` — the planted-truth recall ladder (q271) plus
    * the graph tier's entry/entry-set/walk chain (q295), both through
    * the gated registry entries themselves.
    */
  def renderVectorScoreboard(spark: org.apache.spark.sql.SparkSession,
      dataDir: String): String =
    guardedTool(dataDir, Seq("embeddings")) {
      val tiers =
        graft.SparkEntry.queries("q271_planted_scoreboard")(spark, dataDir)
          .collect()
      val graph =
        graft.SparkEntry.queries("q295_graph_search")(spark, dataDir)
          .head()
      val sb = new StringBuilder(
        "# Scoreboard vectoriel (rappel planté, pour mille)\n\n")
      sb ++= "Échelle de compression (q271 — la source plantée dans " +
        "le top-k du tier):\n"
      tiers.foreach { r =>
        sb ++= s"\n- ${r.getString(0)}: ${r.getLong(1)}\n"
      }
      sb ++= "\nTier graphe (q295, descente gloutonne multi-entrée):\n"
      sb ++= s"\n- entrée ADC top-1: ${graph.getAs[Long]("entry_recall_permille")}\n"
      sb ++= s"- ensemble d'entrées: ${graph.getAs[Long]("entryset_recall_permille")}\n"
      sb ++= s"- après parcours du graphe: ${graph.getAs[Long]("graph_recall_permille")}\n"
      sb.result()
    }

  /** `graph_search` — the graph tier's serve face (q305: diversified
    * build + multi-entry greedy walk) surfaced per probe, plus the
    * structured-fixture chain (q307) whose planted cluster geometry
    * makes the entry-vs-walk gap scale-honest. Both run the gated
    * registry entries themselves.
    */
  def renderGraphSearch(spark: org.apache.spark.sql.SparkSession,
      dataDir: String): String =
    guardedTool(dataDir, Seq("embeddings")) {
      val served = graft.SparkEntry
        .queries("q305_graph_search_diversified")(spark, dataDir)
        .collect()
      val struct = graft.SparkEntry
        .queries("q307_graph_structured")(spark, dataDir).head()
      val head = served.head
      val sb = new StringBuilder(
        "# Recherche par graphe (NSW diversifié, q305)\n\n")
      sb ++= "Descente gloutonne multi-entrée sur le graphe k-NN " +
        "diversifié (heuristique HNSW), entrées = propositions ADC; " +
        "sondes plantées = vérité terrain.\n"
      sb ++= s"\nChaîne de rappel (pour mille): entrée " +
        s"${head.getAs[Long]("entry_recall_permille")} → ensemble " +
        s"${head.getAs[Long]("entryset_recall_permille")} → graphe " +
        s"${head.getAs[Long]("graph_recall_permille")}\n"
      sb ++= "\nPar sonde (source plantée → point final, sauts):\n"
      served.foreach { r =>
        val ok = if (r.getAs[Long]("found_source") == 1L) "OUI" else "non"
        sb ++= s"\n- sonde ${r.getAs[Long]("probe_id")}: source " +
          s"${r.getAs[Long]("source_id")} → ${r.getAs[Long]("final_id")} " +
          s"(${r.getAs[Long]("n_moves")} sauts, trouvée: $ok)\n"
      }
      sb ++= "\nFixture structurée (q307 — géométrie à clusters " +
        "plantés, la mesure honnête à l'échelle):\n"
      sb ++= s"\n- entrée ${struct.getAs[Long]("entry_recall_permille")} " +
        s"→ ensemble ${struct.getAs[Long]("entryset_recall_permille")} " +
        s"→ graphe ${struct.getAs[Long]("graph_recall_permille")}\n"
      sb.result()
    }
}
