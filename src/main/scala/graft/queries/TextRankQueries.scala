package graft.queries

import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Remaining warehouse/text-pipeline operator coverage: TF-IDF-style
  * term ranking, GROUPING SETS, and the analytic window-function family
  * (lag/lead/first/last/ntile).
  *
  * The term weight is LINEAR idf (`n_docs / doc_freq`), not log — IEEE
  * division is correctly rounded (bit-identical across engines) while
  * `ln` is not guaranteed to be, and the driver hash-compares doubles
  * exactly. Ranking order is identical to log-idf (log is monotone).
  */
object TextRankQueries extends graft.QueryFamily {

  private val dec2 = DecimalType(18, 2)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // top-5 characteristic terms per source by tf * (N/df); N joins in
    // as a 1-row aggregate (lazy, mirrors the oracle's `n` CTE)
    "q38_tfidf_terms" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val n = docs.agg(count(lit(1)).as("n_docs"))
      // tf and df branches re-tokenize (one cheap scan-stage pass each)
      // rather than share a cached exploded relation: df de-dups
      // per-doc terms with array_distinct BEFORE exploding, so the
      // distinct lives in the map stage and the per-term count is the
      // branch's only shuffle (vs explode → 250k-row distinct shuffle
      // → count shuffle over the cached relation)
      val tf = docs.select(col("source"), explode(tokens(col("text"))).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("tf"))
      val df = docs.select(explode(array_distinct(tokens(col("text")))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("doc_freq"))
      val w = Window.partitionBy("source")
        .orderBy(desc("weight"), asc("term"))
      tf.join(broadcast(df), "term")  // hint audit: dimension-bounded (slice-vocab df table)
        .crossJoin(broadcast(n))  // hint audit: scalar (one-row count)
        .withColumn("weight",
          col("tf").cast("double") *
            (col("n_docs").cast("double") / col("doc_freq").cast("double")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select(col("source"), col("term"), col("tf"), col("doc_freq"),
          col("weight"), col("rn"))
        .orderBy("source", "rn")
    }),

    // arbitrary GROUPING SETS (finer than rollup/cube) through the
    // typed API — one Expand pass, no shared-session temp-view state
    "q39_grouping_sets" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec2)).cast("double").as("revenue"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("revenue"))
        .orderBy("status", "priority")
    }),

    // the analytic window family over each customer's order history
    "q40_window_analytics" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(s, dir, "orders")
        .where(col("o_custkey") % 50 === 0)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice").cast(dec2).cast("double").as("price"))
        .withColumn("prev_price", lag(col("price"), 1).over(w))
        .withColumn("next_price", lead(col("price"), 1).over(w))
        .withColumn("first_price", first(col("price")).over(wf))
        .withColumn("last_price", last(col("price")).over(wf))
        .withColumn("quartile", ntile(4).over(w))
        .drop("o_orderdate")
        .orderBy("o_custkey", "o_orderkey")
    }))

  def oracle: Map[String, String] = Map(
    "q38_tfidf_terms" ->
      s"""WITH terms AS (
         |  SELECT doc_id, source, unnest(${sqlTokens("text")}) AS term
         |  FROM documents),
         |tf AS (SELECT source, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
         |df AS (SELECT term, COUNT(*) AS doc_freq FROM
         |         (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents)
         |SELECT source, term, tf, doc_freq, weight, rn FROM (
         |  SELECT source, term, tf, doc_freq,
         |    CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(doc_freq AS DOUBLE)) AS weight,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(doc_freq AS DOUBLE)) DESC,
         |        term) AS INTEGER) AS rn
         |  FROM tf JOIN df USING (term), n)
         |WHERE rn <= 5 ORDER BY source, rn""".stripMargin,
    "q39_grouping_sets" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), (o_orderpriority))
        |ORDER BY status, priority""".stripMargin,
    "q40_window_analytics" ->
      """SELECT o_custkey, o_orderkey, price,
        |  lag(price) OVER w AS prev_price,
        |  lead(price) OVER w AS next_price,
        |  first_value(price) OVER wf AS first_price,
        |  last_value(price) OVER wf AS last_price,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
        |        CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |      FROM orders WHERE o_custkey % 50 = 0)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)
}
