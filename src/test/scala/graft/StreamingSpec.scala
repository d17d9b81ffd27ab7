package graft

import graft.streaming.LogStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming surface: windowed issue counts, alerting, and
  * streaming dedup driven through MemoryStream micro-batches; plus the
  * batch/stream plan-symmetry property (same transform, same results).
  */
class StreamingSpec extends SparkSuite {

  private def line(node: String, ts: String, msg: String, level: String = "ERROR") =
    (node, s"$level [$ts] [ReadStage-1] org.apache.cassandra.db.ReadCommand:512 - $msg")

  private val corpus = Seq(
    line("node1", "2026-05-14 10:01:00,000", "Read timed out after 5000ms"),
    line("node1", "2026-05-14 10:02:00,000", "Read timed out after 5000ms"),
    line("node1", "2026-05-14 10:03:30,000", "java.lang.OutOfMemoryError: Java heap space"),
    line("node2", "2026-05-14 10:06:00,000", "GC pause of 1200ms exceeded threshold"),
    ("node1", "this is an unparseable stack-trace line"),
    line("node2", "2026-05-14 10:07:10,000", "slow query detected: SELECT *", "WARN"))

  test("windowedIssueCounts over a MemoryStream (update-by-micro-batch)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(String, String)]
    val out = LogStreams.windowedIssueCounts(ms.toDF().toDF("node", "value"))
    val query = out.writeStream.format("memory")
      .queryName("issue_counts").outputMode("complete").start()
    try {
      ms.addData(corpus: _*)
      query.processAllAvailable()
      val rows = spark.table("issue_counts")
        .orderBy("window_start", "node", "issue_type")
        .collect()
        .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString,
          r.getString(1), r.getString(2), r.getLong(3)))
      assert(rows.toSeq === Seq(
        ("2026-05-14 10:00:00.0", "node1", "timeout", 2L),
        ("2026-05-14 10:00:00.0", "node1", "oom", 1L),
        ("2026-05-14 10:05:00.0", "node2", "gc", 1L),
        ("2026-05-14 10:05:00.0", "node2", "slow_query", 1L))
        .sortBy(t => (t._1, t._2, t._3)))
    } finally query.stop()
  }

  test("batch/stream symmetry: same transform on a batch DF, same rows") {
    import spark.implicits._
    val batch = corpus.toDF("node", "value")
    val rows = LogStreams.windowedIssueCounts(batch)
      .orderBy("window_start", "node", "issue_type")
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.toSeq === Seq(
      ("node1", "oom", 1L), ("node1", "timeout", 2L),
      ("node2", "gc", 1L), ("node2", "slow_query", 1L)))
  }

  test("errorRateAlerts fires only above threshold, with severity tiers") {
    import spark.implicits._
    val burst = (1 to 25).map(i =>
      line("node1", f"2026-05-14 10:01:${i % 60}%02d,000", "Read timed out")) ++
      Seq(line("node2", "2026-05-14 10:01:05,000", "Read timed out"))
    val alerts = LogStreams.errorRateAlerts(burst.toDF("node", "value"))
      .collect().map(r => (r.getString(1), r.getLong(2), r.getString(3)))
    assert(alerts.toSeq === Seq(("node1", 25L, "CRITICAL")))
  }

  test("incidentSessions: stateful sessionization closes incidents on event-time timeout") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(String, String)]
    val out = LogStreams.incidentSessions(
      ms.toDF().toDF("node", "value"), gapMinutes = 10)
    val query = out.writeStream.format("memory")
      .queryName("incidents").outputMode("append").start()
    try {
      // burst of 3 timeouts on node1 within 3 minutes
      ms.addData(
        line("node1", "2026-05-14 10:00:00,000", "Read timed out"),
        line("node1", "2026-05-14 10:01:00,000", "Read timed out"),
        line("node1", "2026-05-14 10:03:00,000", "Read timed out"))
      query.processAllAvailable()
      // nothing closed yet — watermark hasn't passed last + gap
      assert(spark.table("incidents").count() === 0)
      // a much later event pushes the watermark past the gap
      ms.addData(line("node2", "2026-05-14 11:00:00,000", "GC pause exceeded"))
      query.processAllAvailable()
      ms.addData(line("node2", "2026-05-14 12:00:00,000", "GC pause exceeded"))
      query.processAllAvailable()
      val incidents = spark.table("incidents")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(4)))
      assert(incidents.toSeq.contains(("node1", "timeout", 3L)))
    } finally query.stop()
  }

  test("stream-static enrichment joins the node dimension per micro-batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dim = Seq(("node1", "dc1", 3), ("node2", "dc2", 7))
      .toDF("node", "datacenter", "rack")
    val ms = MemoryStream[(String, String)]
    val out = LogStreams.enriched(ms.toDF().toDF("node", "value"), dim)
      .select("node", "datacenter", "rack", "message")
    val query = out.writeStream.format("memory")
      .queryName("enriched_out").outputMode("append").start()
    try {
      ms.addData(
        line("node1", "2026-05-14 10:00:00,000", "Read timed out"),
        line("node3", "2026-05-14 10:00:30,000", "Read timed out"))
      query.processAllAvailable()
      val rows = spark.table("enriched_out")
        .collect().map(r => (r.getString(0), Option(r.getString(1)))).sorted
      // known node enriched; unknown node kept with null dims (left join)
      assert(rows.toSeq === Seq(("node1", Some("dc1")), ("node3", None)))
    } finally query.stop()
  }

  test("q154 built-in session windows == q70's custom-state sessions") {
    val dir = "/root/testdata/sf0.001"
    val gapUs = 3600L * 1000000L
    // q154's raw session surface: (user, start, end=last+gap, n) from
    // MergingSessionsExec (the gated query rolls these up per user)
    val builtin = graft.streaming.StreamingQueries
      .sessionWindowSessions(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // q70: (user, sid, n, start, end=last) from flatMapGroupsWithState
    val custom = graft.streaming.StreamingQueries
      .queries("q70_stream_sessions")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(3)) ->
        (r.getLong(4) + gapUs, r.getLong(2))).toMap
    // both emit exactly the watermark-closed sessions; the operators
    // share no code (engine session-merge state vs custom GroupState),
    // so agreement pins the session semantics themselves. Emission
    // boundary differs by ms-flooring of the session end (q70 compares
    // floor-ms(end), the built-in compares raw micros) — identical on
    // this fixture; a boundary-straddling session would surface here.
    assert(builtin === custom)
    assert(builtin.nonEmpty)
  }

  test("q146 outer join == q79 inner rows + watermark-expired unmatched purchases") {
    val dir = "/root/testdata/sf0.001"
    val outer = graft.streaming.StreamingQueries
      .queries("q146_stream_outer_join")(spark, dir).collect()
    val inner = graft.streaming.StreamingQueries
      .queries("q79_stream_join")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val matched = outer.filter(!_.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(matched === inner,
      "outer join's matched rows must be exactly the inner join's")
    // null-extended rows: purchases with no click in the window, and
    // old enough that the final no-data batch's watermark evicted them
    val ev = graft.queries.Tables.events(spark, dir)
      .select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.expr("ts_ns div 1000").as("us"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val purchases = ev.filter(_._1 == "purchase")
    val clicks = ev.filter(_._1 == "click")
    val thr = (math.min(purchases.map(_._4).max / 1000,
      clicks.map(_._4).max / 1000) - 600000L) * 1000L
    val expectedNull = purchases.filter { p =>
      p._4 < thr && !clicks.exists(c => c._3 == p._3 &&
        c._4 >= p._4 - 1800000000L && c._4 <= p._4)
    }.map(p => (p._3, p._2)).toSet
    val gotNull = outer.filter(_.isNullAt(2))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotNull === expectedNull)
  }

  test("verbatim oracle twins stay one text: q292 = q59, q333 = q317") {
    val oracle = graft.streaming.StreamingQueries.oracle
    assert(oracle("q292_stream_restart_recovery") === oracle("q59_stream_window"))
    assert(oracle("q333_stream_bootstrap_tail") === oracle("q317_stream_cdf_consume"))
  }

  test("streamingDedup drops same-key duplicates within the watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(String, java.sql.Timestamp, String)]
    val df = ms.toDF().toDF("canon_key", "event_time", "payload")
    val out = LogStreams.streamingDedup(df)
    val query = out.writeStream.format("memory")
      .queryName("dedup_out").outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-05-14 10:00:00")
      ms.addData(("k1", t0, "a"), ("k1", t0, "b"), ("k2", t0, "c"))
      query.processAllAvailable()
      ms.addData(("k1", t0, "d"), ("k3", t0, "e"))
      query.processAllAvailable()
      val keys = spark.table("dedup_out").select("canon_key")
        .collect().map(_.getString(0)).sorted
      assert(keys.toSeq === Seq("k1", "k2", "k3"))
    } finally query.stop()
  }
}
