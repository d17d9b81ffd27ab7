package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Analytic-window and multi-dimensional aggregate coverage
  * (SURVEY.md §2.6 extension tier): lag/lead sessionization, CUBE,
  * pivot, and a banded range join — the remaining classic operator
  * shapes a warehouse surface needs.
  */
object WindowOpsQueries extends graft.QueryFamily {

  private val dec2 = DecimalType(18, 2)
  private val sessionGapUs = 3600L * 1000000L // 1 hour in µs
  private val bandUs = 600L * 1000000L // 10-minute range-join band
  /** µs event time — the finest cross-engine-exact granularity (DuckDB
    * truncates the parquet NANOS column to µs on read).
    */
  private val tsUs = "(ts_ns div 1000)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // lag + cumulative-sum sessionization: one shuffle on user_id, two
    // window passes, no self-join — the standard scalable formulation
    "q33_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), expr(tsUs).as("ts_us"), col("event_id"))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
        .withColumn("new_session",
          (col("prev_us").isNull ||
            col("ts_us") - col("prev_us") > sessionGapUs).cast("long"))
        .withColumn("session_id", sum(col("new_session")).over(cum))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"),
          max(col("ts_us")).as("end_us"))
        .orderBy("user_id", "session_id")
    }),

    // CUBE: all four grouping combinations in one pass (Expand + agg)
    "q34_cube" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec2)).cast("double").as("revenue"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("revenue"))
        .orderBy("status", "priority")
    }),

    // pivot: status dimension rotated to columns (Spark's pivot API;
    // fixed value list so the plan is a single pass, no value scan)
    "q35_pivot" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O", "P"))
        .orderBy("o_orderpriority")
    }),

    // banded range join: for each purchase, every event of the same
    // user in the preceding 10 minutes. Each purchase explodes into
    // its (at most 2) candidate 10-min band buckets and equi-joins on
    // (user, band) — bounded fan-out instead of all events per user;
    // the exact range predicate refines after. This is the scalable
    // shape for interval joins Spark lacks a native optimizer rule
    // for.
    "q36_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr(tsUs).as("t"),
          expr(s"$tsUs div $bandUs").as("band"), col("value"))
      val target = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), expr(tsUs).as("hi"))
        .withColumn("lo", col("hi") - bandUs)
        .withColumn("band", explode(sequence(
          expr(s"lo div $bandUs"), expr(s"hi div $bandUs"))))
      target.join(ev, Seq("user_id", "band"))
        .where(col("t") >= col("lo") && col("t") < col("hi"))
        .groupBy("event_id")
        .agg(count(lit(1)).as("n_prior"),
          sum(col("value").cast(dec2)).cast("double").as("sum_value"))
        .orderBy("event_id")
    }))

  def oracle: Map[String, String] = Map(
    "q33_sessionize" ->
      s"""WITH t AS (
         |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
         |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(ts), event_id) AS prev_us
         |  FROM events),
         |m AS (
         |  SELECT *, CASE WHEN prev_us IS NULL
         |      OR ts_us - prev_us > $sessionGapUs THEN 1 ELSE 0 END AS new_session
         |  FROM t),
         |sess AS (
         |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
         |    ORDER BY ts_us, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM m)
         |SELECT user_id, session_id, COUNT(*) AS n_events,
         |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
         |FROM sess GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,
    "q34_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q35_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q36_range_join" ->
      s"""SELECT p.event_id, COUNT(*) AS n_prior,
         |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM events p JOIN events e
         |  ON e.user_id = p.user_id
         |  AND epoch_us(e.ts) >= epoch_us(p.ts) - $bandUs
         |  AND epoch_us(e.ts) < epoch_us(p.ts)
         |WHERE p.event_type = 'purchase'
         |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin)
}
