package graft.model

import org.apache.spark.sql.types._

/** Data model of the engine — the Spark mapping of the reference's flat
  * per-line dict (`cassandra_log_analyzer.py:194-202`) and its derived
  * result shapes (`cassandra_log_analyzer.py:221-228`). See SURVEY.md §1.
  */

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

object Schemas {
  /** Raw line schema used by all ingest paths. */
  val rawLine: StructType = StructType(Seq(
    StructField("node", StringType, nullable = false),
    StructField("line_number", LongType, nullable = false),
    StructField("value", StringType, nullable = true)))

  val issue: StructType = StructType(Seq(
    StructField("severity", StringType, nullable = false),
    StructField("issueType", StringType, nullable = false)))
}
