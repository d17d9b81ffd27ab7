package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Time-domain + semi-structured extension queries over `events`:
  * tumbling-window aggregation, JSON property extraction, and a
  * scalable as-of join (union + running last-value — O(n log n) per
  * key, no pairwise blowup, the standard large-scale formulation).
  *
  * Windowing is arithmetic epoch bucketing (identical in DuckDB),
  * not `window()` — same semantics, exact cross-engine twin, and the
  * bucket expression computes in the scan stage under codegen.
  */
object TimeSeriesQueries extends graft.QueryFamily {

  private val dec2 = DecimalType(18, 2)
  private val bucketUs = 300000000L // 5 minutes in µs

  /** Event time in exact MICROSECONDS. The parquet column is
    * TIMESTAMP(NANOS); DuckDB truncates nanos → µs on read, so µs is
    * the finest cross-engine-exact granularity (`ts_ns div 1000` ==
    * DuckDB `epoch_us(ts)` for non-negative epochs).
    */
  private val tsUs = "(ts_ns div 1000)"

  /** q264: integer day-of-week from the epoch — (epoch_day + 4) % 7
    * gives 0 = Sunday (1970-01-01 was a Thursday → 4), computed as
    * pure BIGINT arithmetic so neither engine's calendar/timezone
    * logic is in the loop.
    */
  private val dayUs = 86400000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Day-of-week seasonal index — the load-shape profile every
    // capacity/scheduling decision reads: per (event type, weekday)
    // the event count and its ratio to the type's flat expectation in
    // exact permille (1000 = no seasonality; the 7× numerator makes
    // the flat case exactly 1000 before the div). One
    // map-side-combining scan into a ≤ types×7-row relation; the
    // index window runs over that relation, never the data.
    "q264_seasonal_index" -> ((s, dir) => {
      val byDow = Window.partitionBy("event_type")
      Tables.events(s, dir)
        .select(col("event_type"),
          expr(s"($tsUs div $dayUs + 4) % 7").as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
        .withColumn("type_total", sum(col("n")).over(byDow))
        .select(col("event_type"), col("dow"), col("n"),
          expr("n * 7 * 1000 div type_total").as("index_permille"))
        .orderBy("event_type", "dow")
    }),

    // Conversion-lag histogram — the q47 funnel's TIME dimension: for
    // every converted user (first click strictly after the first
    // view, q47's exact stage rule) the view→click lag in seconds,
    // bucketed into length-doubling octaves (the E214 device:
    // length(bin(s+1)) — integer-exact in both engines, no float
    // logs). The latency histogram a growth/UX review reads beside
    // the funnel counts. Two user-keyed aggs + one user join; the
    // histogram is ≤64 rows whatever the corpus.
    "q265_conversion_lag" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), expr(tsUs).as("t"), col("event_type"))
      // unhinted user join (q47's rule: qualified users are a corpus
      // fraction, not a bounded dimension)
      val v = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("t")).as("vt"))
      val conv = e.where(col("event_type") === "click")
        .join(v, "user_id").where(col("t") > col("vt"))
        .groupBy(col("user_id"), col("vt")).agg(min(col("t")).as("ct"))
        .select(length(expr("bin((ct - vt) div 1000000 + 1)"))
          .cast("long").as("lag_octave"))
      val all = Window.partitionBy()
      conv.groupBy("lag_octave").agg(count(lit(1)).as("n_users"))
        .withColumn("total", sum(col("n_users")).over(all))
        .select(col("lag_octave"), col("n_users"),
          expr("n_users * 1000 div total").as("share_permille"))
        .orderBy("lag_octave")
    }),

    // tumbling 5-min window per event_type; partial agg map-side, the
    // only shuffle is the (bucket, type) groupBy itself
    "q18_time_bucket" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("bucket", expr(s"$tsUs div $bucketUs"))
        .groupBy("bucket", "event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(dec2)).cast("double").as("sum_value"),
          (sum(col("value").cast(dec2)).cast("double") / count(lit(1))).as("avg_value"))
        .orderBy("bucket", "event_type")
    }),

    // JSON property pulled out of the props column in the scan stage
    "q19_json_extract" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy((col("k") % 10).as("k_bucket"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy("k_bucket")
    }),

    // As-of join: for each purchase, the latest error (ts <= purchase
    // ts) of the same user. Union both sides, one window pass per key:
    // scales as a single shuffle + sort, never builds candidate pairs —
    // the standard large-scale as-of formulation.
    "q20_asof_join" -> ((s, dir) => {
      val events = Tables.events(s, dir)
      val errors = events.where(col("event_type") === "error")
        .select(col("user_id"), expr(tsUs).as("t"),
          lit(0).as("is_target"), col("event_id"))
      val purchases = events.where(col("event_type") === "purchase")
        .select(col("user_id"), expr(tsUs).as("t"),
          lit(1).as("is_target"), col("event_id"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("t"), col("is_target"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      errors.unionByName(purchases)
        .withColumn("last_error_us",
          last(when(col("is_target") === 0, col("t")), ignoreNulls = true).over(w))
        .where(col("is_target") === 1)
        .select(col("event_id"), col("user_id"),
          col("t").as("purchase_us"), col("last_error_us"))
        .orderBy("event_id")
    }),

    // CEP-lite sequence-pattern matching (the MATCH_RECOGNIZE shape
    // without the operator): each user's event history collapses to an
    // ordered one-char-per-event string in ONE grouped pass (sorted
    // collect pins the order the parallel agg loses), then the pattern
    // tier is plain regex over that string — "a view leading to a
    // purchase", "…with no error in between" — plus exact char counts.
    // At 100 TB: one shuffle on user_id, per-user state bounded by
    // events/user; patterns compile once per task.
    "q117_sequence_pattern" -> ((s, dir) => {
      val ch = when(col("event_type") === "view", "v")
        .when(col("event_type") === "click", "c")
        .when(col("event_type") === "purchase", "p")
        .when(col("event_type") === "signup", "s")
        .otherwise("e")
      val seq0 = Tables.events(s, dir)
        .select(col("user_id"), expr(tsUs).as("t"), col("event_id"), ch.as("ch"))
        .groupBy("user_id")
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("t"), col("event_id"), col("ch")))),
          x => x.getField("ch")), "").as("seq"))
      seq0.select(col("user_id"), length(col("seq")).as("n_events"),
          (length(col("seq")) - length(regexp_replace(col("seq"), "v", "")))
            .as("n_views"),
          (length(col("seq")) - length(regexp_replace(col("seq"), "p", "")))
            .as("n_purchases"),
          col("seq").rlike("v.*p").as("view_then_purchase"),
          col("seq").rlike("v[^e]*p").as("clean_funnel"))
        .orderBy("user_id")
    }),

    // Cohort retention — the activation/retention matrix every growth
    // dashboard runs: cohort = the user's first active epoch-week,
    // cell = distinct users of that cohort active N weeks later. The
    // user's first day comes from a min-over-user WINDOW on the same
    // shuffle the distinct needs (no self-join back onto the event
    // stream), and the matrix agg runs over (cohort, week, user)
    // distinct rows — never countDistinct's Expand.
    "q118_cohort_retention" -> ((s, dir) => {
      val day = expr("ts_ns div 86400000000000")
      val w = Window.partitionBy("user_id")
      Tables.events(s, dir)
        .select(col("user_id"), day.as("day"))
        .withColumn("cohort_day", min(col("day")).over(w))
        .select(expr("cohort_day div 7").as("cohort_week"),
          expr("(day - cohort_day) div 7").as("weeks_since"),
          col("user_id"))
        .distinct()
        .groupBy("cohort_week", "weeks_since")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "weeks_since")
    }),

    // Inter-arrival latency histogram — the log₂-bucketed gap
    // distribution (the latency-profile shape every operations
    // dashboard uses): per event_type, lag() the previous event time on
    // one ordered window, bucket the gap by its BINARY LENGTH
    // (`length(bin(gap))` = ⌊log₂⌋+1 — integer-exact in both engines,
    // no float log), count per bucket. One shuffle+sort per event_type;
    // the histogram is ≤ 64 rows per type at any corpus size.
    "q119_gap_histogram" -> ((s, dir) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("t"), col("event_id"))
      Tables.events(s, dir)
        .select(col("event_type"), expr(tsUs).as("t"), col("event_id"))
        .withColumn("gap", col("t") - lag(col("t"), 1).over(w))
        .where(col("gap").isNotNull && col("gap") > 0)
        .groupBy(col("event_type"),
          length(bin(col("gap"))).as("log2_bucket"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap")).as("min_gap_us"), max(col("gap")).as("max_gap_us"))
        .orderBy("event_type", "log2_bucket")
    }))

  def oracle: Map[String, String] = Map(
    "q264_seasonal_index" ->
      s"""WITH e AS (SELECT event_type,
         |    (epoch_us(ts) // $dayUs + 4) % 7 AS dow FROM events),
         |c AS (SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM e GROUP BY 1, 2)
         |SELECT event_type, dow, n,
         |  CAST(n * 7 * 1000 // SUM(n) OVER (PARTITION BY event_type)
         |    AS BIGINT) AS index_permille
         |FROM c ORDER BY event_type, dow""".stripMargin,
    "q265_conversion_lag" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type
        |      FROM events),
        |v AS (SELECT user_id, MIN(t) AS vt FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, v.vt, MIN(e.t) AS ct
        |      FROM e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.t > v.vt GROUP BY 1, 2),
        |l AS (SELECT CAST(length(bin((ct - vt) // 1000000 + 1)) AS BIGINT)
        |        AS lag_octave FROM c),
        |h AS (SELECT lag_octave, CAST(COUNT(*) AS BIGINT) AS n_users
        |      FROM l GROUP BY 1)
        |SELECT lag_octave, n_users,
        |  CAST(n_users * 1000 // SUM(n_users) OVER () AS BIGINT)
        |    AS share_permille
        |FROM h ORDER BY lag_octave""".stripMargin,
    "q18_time_bucket" ->
      s"""SELECT epoch_us(ts) // $bucketUs AS bucket, event_type,
         |  COUNT(*) AS n_events,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
         |FROM events GROUP BY bucket, event_type
         |ORDER BY bucket, event_type""".stripMargin,
    "q19_json_extract" ->
      """SELECT k % 10 AS k_bucket, COUNT(*) AS n_events,
        |  CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
        |FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY k_bucket ORDER BY k_bucket""".stripMargin,
    "q20_asof_join" ->
      """WITH u AS (
        |  SELECT user_id, epoch_us(ts) AS t, 0 AS is_target, event_id
        |  FROM events WHERE event_type = 'error'
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts), 1, event_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT event_id, user_id, purchase_us, last_error_us FROM (
        |  SELECT *, t AS purchase_us,
        |    last_value(CASE WHEN is_target = 0 THEN t END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY t, is_target, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_error_us
        |  FROM u) WHERE is_target = 1
        |ORDER BY event_id""".stripMargin,
    "q117_sequence_pattern" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id,
        |        CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
        |          WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
        |          ELSE 'e' END AS ch
        |      FROM events),
        |s AS (SELECT user_id,
        |        string_agg(ch, '' ORDER BY t, event_id) AS seq
        |      FROM e GROUP BY user_id)
        |SELECT user_id, CAST(length(seq) AS INT) AS n_events,
        |  CAST(length(seq) - length(replace(seq, 'v', '')) AS INT) AS n_views,
        |  CAST(length(seq) - length(replace(seq, 'p', '')) AS INT) AS n_purchases,
        |  regexp_matches(seq, 'v.*p') AS view_then_purchase,
        |  regexp_matches(seq, 'v[^e]*p') AS clean_funnel
        |FROM s ORDER BY user_id""".stripMargin,
    "q118_cohort_retention" ->
      """WITH d AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day
        |      FROM events),
        |c AS (SELECT user_id, day,
        |        MIN(day) OVER (PARTITION BY user_id) AS cohort_day
        |      FROM d),
        |m AS (SELECT DISTINCT cohort_day // 7 AS cohort_week,
        |        (day - cohort_day) // 7 AS weeks_since, user_id
        |      FROM c)
        |SELECT cohort_week, weeks_since, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM m GROUP BY 1, 2 ORDER BY cohort_week, weeks_since""".stripMargin,
    "q119_gap_histogram" ->
      """WITH g AS (SELECT event_type,
        |        epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |          PARTITION BY event_type ORDER BY epoch_us(ts), event_id)
        |          AS gap
        |      FROM events)
        |SELECT event_type, CAST(length(bin(gap)) AS INT) AS log2_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  MIN(gap) AS min_gap_us, MAX(gap) AS max_gap_us
        |FROM g WHERE gap IS NOT NULL AND gap > 0
        |GROUP BY 1, 2 ORDER BY event_type, log2_bucket""".stripMargin)
}
