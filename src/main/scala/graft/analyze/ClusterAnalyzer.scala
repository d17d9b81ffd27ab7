package graft.analyze

import graft.classify.IssueClassifier
import graft.functions.MultiMatch
import graft.model.{NodeStats, Recommendation, Schemas}
import graft.parse.LogLineParser
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** The flagship analysis — Spark mapping of `analyze_logs`
  * (`cassandra_log_analyzer.py:219-268`) and `_generate_recommendations`
  * (`:270-309`).
  *
  * Where the reference re-parses every loaded line on every call
  * (`cassandra_log_analyzer.py:745,808,831,847`), the catalog keeps
  * each node's classified part cached and its [[nodeStats]] row on the
  * driver; the summary, histogram and recommendations are then
  * driver-side sums over those fixed-size rows ([[histogram]],
  * [[recommendationsFromCounts]]). The DataFrame forms below stay for
  * the oracle queries and as the reference the driver-side forms are
  * tested against.
  *
  * Scale notes (100 TB): the served per-node counts are one scan with
  * no shuffle, a fold per task and a merge of 17 longs per node
  * key on the driver (`LogCatalog.stats`); [[nodeStats]] is the same
  * counts as a hash aggregate keyed by node, the DataFrame reference.
  * [[issueHistogram]] explodes at most 14 structs per line and
  * aggregates on a 14-value key. No joins, no windows, no per-row
  * driver work anywhere in the hot path.
  */
object ClusterAnalyzer {

  /** One-pass parse + classify, KEEPING unparsed lines (`parsed=false`) so
    * `total_lines` can be counted in the same scan. Adds:
    * level/timestamp/thread/clazz/line/message, parsed, issues,
    * is_error, is_warning.
    *
    * The 14 patterns run once per parsed message, as one
    * [[MultiMatch.issueMask]] in a projection of its own; `issues`,
    * `is_error` and `is_warning` are derived from that mask, which is
    * then dropped. The optimizer does not inline a non-cheap expression
    * into several uses, so the mask stays one evaluation per row. The
    * columns equal [[IssueClassifier.issues]], `isError` and
    * `isWarning` over the parsed lines, the rlike reference.
    */
  def classify(raw: DataFrame, lineCol: String = "value"): DataFrame = {
    val p = LogLineParser.parseKeepingUnmatched(raw, lineCol)
    val mask = col("issue_mask")
    def hits(bits: Long): Column = mask.bitwiseAND(bits) =!= 0
    val issues = array_compact(array(IssueClassifier.allPatterns.zipWithIndex.map {
      case ((sev, t, _), i) => when(hits(1L << i), struct(lit(sev).as("severity"), lit(t).as("issueType")))
    }: _*))
    p.withColumn("issue_mask", MultiMatch.issueMask(col("message")))
      .select(p.columns.toSeq.map(col) ++ Seq(
        when(col("parsed"), issues).otherwise(array().cast(ArrayType(Schemas.issue))).as("issues"),
        (col("parsed") && (col("level") === "ERROR" || hits(errorBits))).as("is_error"),
        (col("parsed") && (col("level") === "WARN" || hits(warningBits))).as("is_warning")): _*)
  }

  /** [[MultiMatch.issueMask]]'s bits of the error patterns (the first
    * ten) and of the warning patterns (the last four).
    */
  private val errorBits = (1L << IssueClassifier.errorPatterns.size) - 1
  private val warningBits = ((1L << IssueClassifier.allPatterns.size) - 1) ^ errorBits

  /** The 14 issue types in reference order — the column order of
    * [[nodeStats]] and the index order of `NodeStats.issueCounts`.
    */
  val issueTypes: Seq[String] = IssueClassifier.allPatterns.map(_._2)

  private def countIf(c: Column): Column = sum(when(c, 1L).otherwise(0L))

  /** The per-node aggregate behind every analysis output: `node`,
    * `errors`, `warnings`, `total_lines`, then one count per
    * [[issueTypes]] entry — the lines whose `issues` contain that type.
    * One scan, one aggregate; a node without rows has no row.
    */
  def nodeStats(classified: DataFrame): DataFrame =
    classified.groupBy("node").agg(
      countIf(col("is_error")).as("errors"),
      countIf(col("is_warning")).as("warnings") +:
        count(lit(1)).as("total_lines") +:
        issueTypes.map(t =>
          countIf(exists(col("issues"), _.getField("issueType") === t)).as(t)): _*)

  /** Per-node summary (`analysis['summary']`,
    * `cassandra_log_analyzer.py:259-263`): errors / warnings over PARSED
    * lines (dual counting allowed), `total_lines` over ALL lines
    * including blanks and unparsed continuations (`:231,:262`) — a
    * projection of [[nodeStats]] (the unused counts are pruned).
    */
  def summary(classified: DataFrame): DataFrame =
    nodeStats(classified).select("node", "errors", "warnings", "total_lines")

  /** Global issue histogram (`analysis['issue_counts']`,
    * `cassandra_log_analyzer.py:253-254`): every (line, pattern) hit
    * contributes 1 — a line matching k patterns adds k. Sorted count
    * desc as the report does (`:757-758`), with issueType asc pinned for
    * determinism (documented deviation, SURVEY.md §7.4.3).
    */
  def issueHistogram(classified: DataFrame): DataFrame =
    classified
      .select(explode(col("issues")).as("issue"))
      .groupBy(col("issue.issueType").as("issue_type"))
      .agg(count(lit(1)).as("occurrences"))
      .orderBy(desc("occurrences"), asc("issue_type"))

  /** [[issueHistogram]] over collected per-node stats: the per-type
    * sums that are non-zero, in the same (count desc, type asc) order.
    */
  def histogram(stats: Seq[NodeStats]): Seq[(String, Long)] =
    issueTypes.indices.map(i => issueTypes(i) -> stats.map(_.issueCounts(i)).sum)
      .filter(_._2 > 0).sortBy { case (t, n) => (-n, t) }

  /** `errors_by_node` (`cassandra_log_analyzer.py:247`): full parsed
    * entries of error lines, in (node, file order). Kept as a DataFrame —
    * not `collect_list` — so it never materializes a node's errors in one
    * task at scale.
    */
  def errorsByNode(classified: DataFrame): DataFrame =
    classified.where(col("is_error"))
      .select("node", "level", "timestamp", "thread", "clazz", "line", "message", "line_number")
      .orderBy("node", "line_number")

  /** The 5 threshold rules of `_generate_recommendations`
    * (`cassandra_log_analyzer.py:270-309`), verbatim: (issue key,
    * strict-greater threshold, severity, issue label, advice).
    */
  val rules: Seq[(String, Long, Recommendation)] = Seq(
    ("timeout", 10L, Recommendation("HIGH", "Timeouts fréquents",
      "Vérifier la latence réseau, augmenter les timeouts, ou optimiser les requêtes")),
    ("oom", 0L, Recommendation("CRITICAL", "Out Of Memory détecté",
      "Augmenter la heap JVM ou réduire la charge. Vérifier les fuites mémoire.")),
    ("tombstone", 5L, Recommendation("MEDIUM", "Warnings tombstone",
      "Revoir le modèle de données, ajuster gc_grace_seconds, ou augmenter tombstone_warn_threshold")),
    ("gc", 5L, Recommendation("HIGH", "Pauses GC excessives",
      "Optimiser la heap JVM, considérer G1GC, ou réduire la charge")),
    ("dropped", 10L, Recommendation("HIGH", "Messages droppés",
      "Le cluster est surchargé. Ajouter des nodes ou optimiser les requêtes.")))

  /** Driver-side recommendations from a collected histogram (≤ 14 rows —
    * always tiny regardless of data scale), in rule order like the
    * reference.
    */
  def recommendations(histogram: DataFrame): Seq[Recommendation] =
    recommendationsFromCounts(histogram.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)

  /** The threshold rules over already-collected counts — the ONE place
    * the `count > threshold` semantics live (renderers reuse this).
    */
  def recommendationsFromCounts(counts: Map[String, Long]): Seq[Recommendation] =
    rules.collect { case (key, thr, rec) if counts.getOrElse(key, 0L) > thr => rec }

  /** In-plan variant: broadcast-join the (≤ 5 row) rules relation to the
    * histogram and filter `occurrences > threshold` — used where the
    * result must stay a DataFrame (oracle queries).
    */
  def recommendationsPlan(spark: SparkSession, histogram: DataFrame): DataFrame = {
    import spark.implicits._
    val rulesDf = rules.zipWithIndex.map { case ((key, thr, rec), i) =>
      (i, key, thr, rec.severity, rec.issue, rec.recommendation)
    }.toDF("rule_order", "issue_type", "threshold", "severity", "issue", "recommendation")
    histogram.join(broadcast(rulesDf), "issue_type")  // hint audit: scalar (5 fixed recommendation rules)
      .where(col("occurrences") > col("threshold"))
      .orderBy("rule_order")
      .select("severity", "issue", "recommendation")
  }
}
