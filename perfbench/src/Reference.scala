package perfbench

import java.util.regex.Pattern

import scala.collection.mutable

/** Driver-side expected outputs for the parity tools, computed row by
  * row in plain Scala with `java.util.regex`. It mirrors the reference
  * server's `analyze_logs`, `_generate_recommendations` and
  * `search_pattern` (`cassandra_log_analyzer.py:219-327`) and the
  * handlers' Markdown (`:747-857`). It is written independently of the
  * engine: the parse pattern, the 14 issue patterns and the five rules
  * are copied from the reference, not imported from `graft`, so a drift
  * in the engine's constants shows up as a wrong answer.
  *
  * Documented engine deviations that are accepted here: histogram ties
  * are ordered by issue type, and search hits are ordered by node name
  * (the generators name nodes so that this equals load order).
  */
object Reference {

  private val lineRe = Pattern.compile(
    """(\w+)\s+\[([^\]]+)\]\s+\[([^\]]+)\]\s+([^:]+):(\d+)\s+-\s+(.*)""")

  val errorPatterns: Seq[(String, Pattern)] = Seq(
    "timeout" -> "(timeout|timed out|TimedOut)",
    "oom" -> """(OutOfMemory|java\.lang\.OutOfMemoryError)""",
    "connection" -> "(connection.*(?:refused|failed|lost|closed))",
    "compaction" -> "(compaction.*(?:error|failed))",
    "repair" -> "(repair.*(?:error|failed))",
    "gc" -> "(GC.*(?:pause|exceeded))",
    "tombstone" -> "(tombstone.*(?:warning|exceeded))",
    "dropped" -> "(dropped.*messages?)",
    "unavailable" -> "(UnavailableException)",
    "coordinator" -> "(coordinator.*(?:timeout|failed))")
    .map { case (k, p) => k -> Pattern.compile(p, Pattern.CASE_INSENSITIVE) }

  val warningPatterns: Seq[(String, Pattern)] = Seq(
    "heap" -> "(heap.*(?:pressure|warning))",
    "slow_query" -> "(slow.*query)",
    "batch" -> "(batch.*(?:too large|warning))",
    "streaming" -> "(streaming.*(?:failed|error))")
    .map { case (k, p) => k -> Pattern.compile(p, Pattern.CASE_INSENSITIVE) }

  /** (issue key, strict `>` threshold, severity, issue, recommendation). */
  val rules: Seq[(String, Long, String, String, String)] = Seq(
    ("timeout", 10L, "HIGH", "Timeouts fréquents",
      "Vérifier la latence réseau, augmenter les timeouts, ou optimiser les requêtes"),
    ("oom", 0L, "CRITICAL", "Out Of Memory détecté",
      "Augmenter la heap JVM ou réduire la charge. Vérifier les fuites mémoire."),
    ("tombstone", 5L, "MEDIUM", "Warnings tombstone",
      "Revoir le modèle de données, ajuster gc_grace_seconds, ou augmenter tombstone_warn_threshold"),
    ("gc", 5L, "HIGH", "Pauses GC excessives",
      "Optimiser la heap JVM, considérer G1GC, ou réduire la charge"),
    ("dropped", 10L, "HIGH", "Messages droppés",
      "Le cluster est surchargé. Ajouter des nodes ou optimiser les requêtes."))

  final case class Entry(level: String, timestamp: String, message: String)

  /** `analyze_logs` over one node's content. */
  final class NodeAnalysis(val name: String, val rawLines: Array[String]) {
    val errors = mutable.ArrayBuffer.empty[Entry]
    var warnings = 0L
    val issueCounts = mutable.LinkedHashMap.empty[String, Long]
    rawLines.foreach { line =>
      if (line.trim.nonEmpty) {
        val m = lineRe.matcher(line)
        if (m.lookingAt()) {
          val e = Entry(m.group(1), m.group(2), m.group(6))
          val errHits = errorPatterns.filter(_._2.matcher(e.message).find()).map(_._1)
          val warnHits = warningPatterns.filter(_._2.matcher(e.message).find()).map(_._1)
          if (e.level == "ERROR" || errHits.nonEmpty) errors += e
          if (e.level == "WARN" || warnHits.nonEmpty) warnings += 1
          (errHits ++ warnHits).foreach(t => issueCounts(t) = issueCounts.getOrElse(t, 0L) + 1)
        }
      }
    }
    def totalLines: Long = rawLines.length.toLong
  }

  def analyzeNode(name: String, content: String): NodeAnalysis =
    new NodeAnalysis(name, content.split("\n", -1))

  /** The analysis of the loaded nodes, in load order. */
  final case class Cluster(nodes: Seq[NodeAnalysis]) {
    lazy val histogram: Seq[(String, Long)] =
      nodes.flatMap(_.issueCounts).groupMapReduce(_._1)(_._2)(_ + _).toSeq
        .sortBy { case (t, n) => (-n, t) }
    lazy val recommendations: Seq[(String, String, String)] = {
      val counts = histogram.toMap
      rules.collect { case (k, thr, sev, issue, rec) if counts.getOrElse(k, 0L) > thr =>
        (sev, issue, rec)
      }
    }
    def byName: Map[String, NodeAnalysis] = nodes.map(n => n.name -> n).toMap
  }

  private def label(sev: String): String =
    if (sev == "CRITICAL") "CRITIQUE" else if (sev == "HIGH") "IMPORTANT" else "ATTENTION"

  def analysis(c: Cluster): String = {
    val sb = new StringBuilder("# Analyse du Cluster Cassandra\n\n## Résumé par Node\n")
    c.nodes.foreach { n =>
      sb ++= s"\n### ${n.name}\n- Erreurs: ${n.errors.size}\n- Warnings: ${n.warnings}\n" +
        s"- Total lignes: ${n.totalLines}\n"
    }
    sb ++= "\n## Problèmes Détectés\n"
    c.histogram.foreach { case (t, k) => sb ++= s"- $t: $k occurrences\n" }
    if (c.recommendations.nonEmpty) {
      sb ++= "\n## Recommandations\n"
      c.recommendations.foreach { case (sev, issue, rec) =>
        sb ++= s"\n${label(sev)} **$issue** ($sev)\n→ $rec\n"
      }
    }
    sb.result()
  }

  /** `search_pattern`: raw lines (blanks and continuations included),
    * `re.search` semantics, hits carry the 1-based line number and the
    * line with surrounding whitespace stripped (Python `str.strip`).
    */
  def search(c: Cluster, pattern: String, caseSensitive: Boolean,
             nodeFilter: Option[String]): String = {
    val re = Pattern.compile(pattern, if (caseSensitive) 0 else Pattern.CASE_INSENSITIVE)
    val scope = nodeFilter.fold(c.nodes)(f => c.nodes.filter(_.name == f))
    val hits = for {
      n <- scope.iterator
      (line, i) <- n.rawLines.iterator.zipWithIndex if re.matcher(line).find()
    } yield (n.name, i + 1, line.strip)
    var total = 0
    val sb = new StringBuilder(s"# Résultats de recherche: '$pattern'\n\n")
    val shown = new StringBuilder
    hits.foreach { case (node, ln, content) =>
      if (total < 100) shown ++= s"**$node** (ligne $ln)\n```\n$content\n```\n\n"
      total += 1
    }
    if (total == 0) s"Aucun résultat pour: $pattern"
    else {
      sb ++= s"Total: $total\n\n" ++= shown
      if (total > 100) sb ++= s"\n... et ${total - 100} résultats supplémentaires"
      sb.result()
    }
  }

  def errors(c: Cluster, node: Option[String], limit: Int): String = {
    val scope = node.fold(c.nodes)(f => c.nodes.filter(_.name == f))
    val all = scope.iterator.flatMap(n => n.errors.iterator.map(n.name -> _)).take(limit).toSeq
    val sb = new StringBuilder(s"# Erreurs (${all.size})\n\n")
    all.foreach { case (n, e) => sb ++= s"**$n** [${e.timestamp}]\n```\n${e.message}\n```\n\n" }
    sb.result()
  }

  def compare(c: Cluster, nodes: Seq[String]): String = {
    val by = c.byName
    val requested = if (nodes.nonEmpty) nodes else c.nodes.map(_.name)
    val sb = new StringBuilder("# Comparaison des Nodes\n\n" +
      "| Node | Erreurs | Warnings | Lignes |\n|------|---------|----------|--------|\n")
    requested.flatMap(by.get).foreach { n =>
      sb ++= s"| ${n.name} | ${n.errors.size} | ${n.warnings} | ${n.totalLines} |\n"
    }
    sb.result()
  }

  def issues(c: Cluster, severity: String): String = {
    val sb = new StringBuilder("# Problèmes Détectés\n\n")
    c.recommendations.filter { case (sev, _, _) => severity == "all" || sev.toLowerCase == severity }
      .foreach { case (sev, issue, rec) => sb ++= s"${label(sev)} **$issue** ($sev)\n→ $rec\n\n" }
    sb.result()
  }

  /** The `cassandra://logs/analysis` resource as JSON fields, compared
    * as parsed JSON (field order included, escaping ignored).
    */
  def analysisJson(c: Cluster): org.json4s.JValue = {
    import org.json4s._
    JObject(
      "summary" -> JObject(c.nodes.map(n => n.name -> JObject(
        "errors" -> JInt(n.errors.size), "warnings" -> JInt(n.warnings),
        "total_lines" -> JInt(n.totalLines))).toList),
      "issue_counts" -> JObject(c.histogram.map { case (t, k) => t -> (JInt(k): JValue) }.toList),
      "recommendations" -> JArray(c.recommendations.map { case (sev, issue, rec) =>
        JObject("severity" -> JString(sev), "issue" -> JString(issue),
          "recommendation" -> JString(rec))
      }.toList))
  }
}
