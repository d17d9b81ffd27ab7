package graft.model

import org.apache.spark.sql.types._

/** Data model of the engine — the Spark mapping of the reference's flat
  * per-line dict (`cassandra_log_analyzer.py:194-202`) and its derived
  * result shapes (`cassandra_log_analyzer.py:221-228`). See SURVEY.md §1.
  */

/** One raw log line, pre-parse. `lineNumber` is 1-based within the node's
  * file, mirroring `enumerate(lines, 1)` at `cassandra_log_analyzer.py:319`.
  */
final case class RawLine(node: String, lineNumber: Long, value: String)

/** A parsed Cassandra log entry — the 7 string fields captured by the
  * regex at `cassandra_log_analyzer.py:189` (all strings for parity;
  * see SURVEY.md §1.3). `clazz` is the logger class (`class` in the
  * reference; renamed — Scala keyword).
  */
final case class LogEntry(
    node: String,
    level: String,
    timestamp: String,
    thread: String,
    clazz: String,
    line: String,
    message: String)

/** A detected issue: severity ∈ {ERROR, WARNING}, issueType ∈ the 14
  * fixed pattern keys (`cassandra_log_analyzer.py:38-56`).
  */
final case class Issue(severity: String, issueType: String)

/** One node's analysis counts: its summary row (`analysis['summary']`,
  * `cassandra_log_analyzer.py:259-263`) plus its share of the issue
  * histogram. `totalLines` counts ALL split lines including
  * blanks/unparsed; errors/warnings count parsed lines only (dual
  * counting allowed — one line can be both). `issueCounts(i)` is the
  * number of lines whose issues contain the i-th type of
  * `IssueClassifier.allPatterns` — a type occurs at most once per line,
  * so summing over nodes gives the global (line, pattern) histogram.
  * Fixed size per node, whatever the node's line count.
  */
final case class NodeStats(errors: Long, warnings: Long, totalLines: Long,
    issueCounts: IndexedSeq[Long])

/** A threshold-rule recommendation (`cassandra_log_analyzer.py:270-309`). */
final case class Recommendation(severity: String, issue: String, recommendation: String)

/** A search hit (`cassandra_log_analyzer.py:321-325`): 1-based per-node
  * line number; content is the stripped raw line.
  */
final case class SearchHit(node: String, line_number: Long, content: String)

object Schemas {
  /** Raw line schema used by all ingest paths. */
  val rawLine: StructType = StructType(Seq(
    StructField("node", StringType, nullable = false),
    StructField("line_number", LongType, nullable = false),
    StructField("value", StringType, nullable = true)))

  /** Parsed entry schema (parity: everything string). */
  val logEntry: StructType = StructType(Seq(
    StructField("node", StringType),
    StructField("level", StringType),
    StructField("timestamp", StringType),
    StructField("thread", StringType),
    StructField("clazz", StringType),
    StructField("line", StringType),
    StructField("message", StringType)))

  val issue: StructType = StructType(Seq(
    StructField("severity", StringType, nullable = false),
    StructField("issueType", StringType, nullable = false)))
}
