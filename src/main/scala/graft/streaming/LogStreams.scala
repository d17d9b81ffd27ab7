package graft.streaming

import graft.classify.IssueClassifier
import graft.parse.LogLineParser
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface — the reference's unimplemented roadmap
  * items ("Real-time log streaming", "Automated alerting",
  * `/root/reference/README.md:251,254`) expressed as Spark streaming
  * plans.
  *
  * Every transform here takes a DataFrame of raw lines
  * (`node: string, value: string` + an event-time column derived from
  * the log timestamp) and works UNCHANGED on a batch or a streaming
  * input — the same logical plan, Catalyst picks the incremental
  * execution when the source is a stream. That symmetry is the core
  * Spark streaming design: tested in batch, deployed on
  * `readStream`.
  *
  * Scale notes: windowed aggregation state is bounded by the watermark
  * (late lines beyond it are dropped and the window state evicted);
  * the shuffle key is (window, node, issueType) — naturally spread,
  * no hot key at 1000 executors.
  */
object LogStreams {

  /** Cassandra log timestamp format (`2026-05-14 10:23:45,123`). */
  val tsFormat = "yyyy-MM-dd HH:mm:ss,SSS"

  /** Parse raw lines and attach an event-time column. Unparseable lines
    * (stack traces, blanks) are dropped here — the streaming analog of
    * the parser's drop semantics; raw-line counting stays a batch
    * concern.
    */
  def parsed(lines: DataFrame): DataFrame =
    LogLineParser.parse(lines)
      .withColumn("event_time", to_timestamp(col("timestamp"), tsFormat))
      .where(col("event_time").isNotNull)

  /** Tumbling-window issue histogram per node: the streaming
    * `analyze_cluster` core (A2 of SURVEY.md §2.4 over event-time
    * windows). Works on batch and streaming inputs alike.
    */
  def windowedIssueCounts(
      lines: DataFrame,
      watermarkDelay: String = "10 minutes",
      windowLength: String = "5 minutes"): DataFrame =
    parsed(lines)
      .withWatermark("event_time", watermarkDelay)
      .select(col("node"), col("event_time"),
        explode(IssueClassifier.issues(col("message"))).as("issue"))
      .groupBy(
        window(col("event_time"), windowLength),
        col("node"),
        col("issue.issueType").as("issue_type"))
      .agg(count(lit(1)).as("occurrences"))
      .select(col("window.start").as("window_start"), col("node"),
        col("issue_type"), col("occurrences"))

  /** Streaming alert feed: windowed per-node error rates crossing a
    * threshold — the "Automated alerting" roadmap item. Severity is the
    * reference's threshold-rule shape applied to a window instead of
    * the whole corpus.
    */
  def errorRateAlerts(
      lines: DataFrame,
      threshold: Long = 5,
      watermarkDelay: String = "10 minutes",
      windowLength: String = "5 minutes"): DataFrame =
    parsed(lines)
      .withWatermark("event_time", watermarkDelay)
      .where(IssueClassifier.isError(col("level"), col("message")))
      .groupBy(window(col("event_time"), windowLength), col("node"))
      .agg(count(lit(1)).as("errors"))
      .where(col("errors") >= threshold)
      .select(col("window.start").as("window_start"), col("node"),
        col("errors"),
        when(col("errors") >= threshold * 4, "CRITICAL")
          .when(col("errors") >= threshold * 2, "HIGH")
          .otherwise("MEDIUM").as("severity"))

  /** Open-incident state carried between micro-batches. */
  case class IncidentState(startUs: Long, lastUs: Long, count: Long)

  /** A closed incident: a burst of same-(node, issue) occurrences with
    * no gap larger than the session gap.
    */
  case class Incident(node: String, issueType: String, startUs: Long,
      endUs: Long, nEvents: Long)

  /** Incident sessionization with CUSTOM STATE
    * (`flatMapGroupsWithState`): consecutive occurrences of the same
    * (node, issueType) merge into one incident; an event-time timeout
    * (watermark passing last-seen + gap) closes and emits it. This is
    * the stateful-streaming shape the built-in windowed aggregates
    * can't express — variable-length sessions keyed by content.
    *
    * State is one small struct per OPEN (node, issue) pair — bounded by
    * live incident count, not by stream length; eviction rides the
    * watermark.
    */
  def incidentSessions(
      lines: DataFrame,
      gapMinutes: Long = 10,
      watermarkDelay: String = "10 minutes"): Dataset[Incident] = {
    val spark = lines.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val events = parsed(lines)
      .withWatermark("event_time", watermarkDelay)
      .select(col("node"), col("event_time"),
        explode(IssueClassifier.issues(col("message"))).as("issue"))
      .select(col("node"), col("issue.issueType").as("issueType"),
        col("event_time"))

    events
      .groupByKey(r => (r.getString(0), r.getString(1)))
      .flatMapGroupsWithState[IncidentState, Incident](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((node, issue), rows, state: GroupState[IncidentState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Incident(node, issue, s.startUs, s.lastUs, s.count))
          } else {
            val times = rows.map(_.getTimestamp(2).getTime * 1000L).toSeq
            val (closed, open) = times.sorted.foldLeft(
              (List.empty[Incident], state.getOption)) {
              case ((done, Some(s)), t) if t - s.lastUs > gapUs =>
                (Incident(node, issue, s.startUs, s.lastUs, s.count) :: done,
                  Some(IncidentState(t, t, 1)))
              case ((done, Some(s)), t) =>
                (done, Some(IncidentState(s.startUs, math.max(s.lastUs, t),
                  s.count + 1)))
              case ((done, None), t) =>
                (done, Some(IncidentState(t, t, 1)))
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastUs / 1000L + gapMinutes * 60000L)
            }
            closed.reverseIterator
          }
      }
  }

  /** Stream-static enrichment: each micro-batch of parsed lines joined
    * to a static node-metadata dimension (datacenter, rack, ...). The
    * dimension is broadcast per batch — no shuffle of the stream, no
    * state; the standard production shape for attaching slowly-changing
    * reference data to a hot stream.
    */
  def enriched(lines: DataFrame, nodeDim: DataFrame): DataFrame =
    parsed(lines).join(broadcast(nodeDim), Seq("node"), "left")  // hint audit: dimension-bounded (per-node metadata, ~ cluster size)

  /** Exactly-once-per-key streaming dedup within the watermark horizon —
    * the streaming face of the dedup family (q25): new documents keyed
    * by content hash, duplicates inside the lateness window dropped by
    * Spark's built-in dedup state.
    */
  def streamingDedup(
      docs: DataFrame,
      idCol: String = "canon_key",
      eventTimeCol: String = "event_time",
      watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCol)
}
