package graft.classify

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The 14-pattern issue classifier — Spark mapping of `detect_issues`
  * (`cassandra_log_analyzer.py:205-217`) with the patterns verbatim from
  * `ERROR_PATTERNS` (`cassandra_log_analyzer.py:38-49`) and
  * `WARNING_PATTERNS` (`cassandra_log_analyzer.py:51-56`).
  *
  * Semantics pinned:
  *  - patterns are `(?i)` case-insensitive and UNANCHORED (`re.search`),
  *    which is exactly Spark's `rlike` contains-match;
  *  - a message can match MANY patterns — all matches are emitted, in the
  *    reference's dict order (errors first, then warnings), because the
  *    global histogram counts every (line, pattern) hit
  *    (`cassandra_log_analyzer.py:253-254`);
  *  - classification looks at the MESSAGE only, not the raw line.
  *
  * All 14 patterns are verbatim-compatible between Python `re` and
  * `java.util.regex` (alternation, `(?:…)`, `.*`, `\.`, inline `(?i)`).
  * Implementation is pure built-ins (`rlike` + `array_compact`) so the
  * classifier stays inside whole-stage codegen; each literal pattern is
  * compiled once per task. The served path (`ClusterAnalyzer.classify`)
  * derives the same columns from one graft.functions.MultiMatch pass;
  * these forms are the reference it is tested against.
  */
object IssueClassifier {

  /** (`cassandra_log_analyzer.py:38-49`) — insertion order preserved. */
  val errorPatterns: Seq[(String, String)] = Seq(
    "timeout" -> """(?i)(timeout|timed out|TimedOut)""",
    "oom" -> """(?i)(OutOfMemory|java\.lang\.OutOfMemoryError)""",
    "connection" -> """(?i)(connection.*(?:refused|failed|lost|closed))""",
    "compaction" -> """(?i)(compaction.*(?:error|failed))""",
    "repair" -> """(?i)(repair.*(?:error|failed))""",
    "gc" -> """(?i)(GC.*(?:pause|exceeded))""",
    "tombstone" -> """(?i)(tombstone.*(?:warning|exceeded))""",
    "dropped" -> """(?i)(dropped.*messages?)""",
    "unavailable" -> """(?i)(UnavailableException)""",
    "coordinator" -> """(?i)(coordinator.*(?:timeout|failed))""")

  /** (`cassandra_log_analyzer.py:51-56`) */
  val warningPatterns: Seq[(String, String)] = Seq(
    "heap" -> """(?i)(heap.*(?:pressure|warning))""",
    "slow_query" -> """(?i)(slow.*query)""",
    "batch" -> """(?i)(batch.*(?:too large|warning))""",
    "streaming" -> """(?i)(streaming.*(?:failed|error))""")

  /** All 14 in reference evaluation order: (severity, issueType, pattern). */
  val allPatterns: Seq[(String, String, String)] =
    errorPatterns.map { case (t, p) => ("ERROR", t, p) } ++
      warningPatterns.map { case (t, p) => ("WARNING", t, p) }

  /** `array<struct<severity,issueType>>` of every pattern the message
    * matches, in reference order — the `issues` list of
    * `cassandra_log_analyzer.py:205-217`.
    */
  def issues(message: Column): Column =
    array_compact(array(allPatterns.map { case (sev, t, p) =>
      when(message.rlike(p), struct(lit(sev).as("severity"), lit(t).as("issueType")))
    }: _*))

  /** Does the message match ANY ERROR pattern?
    * (`any(i[0] == 'ERROR' for i in issues)`, `cassandra_log_analyzer.py:245`)
    */
  def matchesAnyError(message: Column): Column =
    errorPatterns.map { case (_, p) => message.rlike(p) }.reduce(_ || _)

  /** Does the message match ANY WARNING pattern? (`:249`) */
  def matchesAnyWarning(message: Column): Column =
    warningPatterns.map { case (_, p) => message.rlike(p) }.reduce(_ || _)

  /** Line counts as an error: level == ERROR or any ERROR-pattern hit
    * (`cassandra_log_analyzer.py:245`). A line may ALSO count as warning.
    */
  def isError(level: Column, message: Column): Column =
    level === "ERROR" || matchesAnyError(message)

  /** Line counts as a warning: level == WARN or any WARNING-pattern hit
    * (`cassandra_log_analyzer.py:249`).
    */
  def isWarning(level: Column, message: Column): Column =
    level === "WARN" || matchesAnyWarning(message)
}
