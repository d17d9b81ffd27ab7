package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The relational operator surface (SURVEY.md §2.4-2.7): hash aggregates,
  * broadcast/shuffle joins, semi/anti joins, windows, sorts, limits, set
  * ops, rollup — each with a DuckDB oracle twin.
  *
  * Cross-engine determinism rules used throughout (see tools/check.py):
  *  - money-like doubles are cast to DECIMAL before SUM (exact, order-
  *    independent), then the final sum is cast back to DOUBLE;
  *  - averages are computed as exact-decimal-sum / count in one double
  *    division (bit-identical in both engines);
  *  - every result carries a total ORDER BY with a unique tiebreak.
  *
  * Scale notes: filters/projections sit directly on the parquet scan
  * (pushdown + pruning); small dimensions are broadcast explicitly; the
  * only wide shuffles are the groupBy/window keys themselves.
  */
object RelationalQueries extends graft.QueryFamily {

  private val dec2 = DecimalType(18, 2)
  private val dec4 = DecimalType(18, 4)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-shaped scan→filter→agg; predicate + column pruning reach
    // the parquet reader, partial agg happens map-side.
    "q01_pushdown_agg" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .where(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast(dec2)).cast("double").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec4))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"),
          (sum(col("l_extendedprice").cast(dec2)).cast("double") / count(lit(1)))
            .as("avg_price"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // broadcast-hash join: customer is the small build side
    "q02_join_broadcast" -> ((s, dir) => {
      val orders = Tables(s, dir, "orders")
      val customer = Tables(s, dir, "customer")
      orders.join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))  // hint audit: dimension table (TPC-H customer - the broadcast-join operator demo; stats/AQE take over at extreme SF)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec2)).cast("double").as("revenue"))
        .orderBy("c_mktsegment")
    }),

    // 4-way join, dims broadcast, fact filtered before the join
    "q03_join_multi" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val orders = Tables(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val customer = Tables(s, dir, "customer")
      val nation = Tables(s, dir, "nation")
      val region = Tables(s, dir, "region").where(col("r_name") === "ASIA")
      li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))  // hint audit: dimension table
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))  // hint audit: dimension table
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))  // hint audit: dimension table
        .groupBy("n_name")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec4))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    // existence check as LEFT SEMI (no row multiplication, no dedup)
    "q04_semi_join" -> ((s, dir) => {
      val customer = Tables(s, dir, "customer")
      val fOrders = Tables(s, dir, "orders").where(col("o_orderstatus") === "F")
      customer.join(fOrders, customer("c_custkey") === fOrders("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // absence check as LEFT ANTI
    "q05_anti_join" -> ((s, dir) => {
      val part = Tables(s, dir, "part")
      val bigLines = Tables(s, dir, "lineitem").where(col("l_quantity") > 45.0)
      part.join(bigLines, part("p_partkey") === bigLines("l_partkey"), "left_anti")
        .select("p_partkey", "p_name", "p_brand")
        .orderBy("p_partkey")
    }),

    // top-k per group: rank inside the window, filter, no global sort of
    // the fact table
    "q06_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }),

    // global top-n: Spark plans TakeOrderedAndProject (no full sort)
    "q07_sort_limit" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(20)
    }),

    // exact distinct aggregates (expand + two-phase agg)
    "q08_distinct_agg" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),

    // UNION ALL of two tagged slices (SURVEY.md §2.7 U1)
    "q09_union" -> ((s, dir) => {
      val events = Tables(s, dir, "events")
      val a = events.where(col("event_type") === "error")
        .select(col("event_id"), lit("err").as("src"))
      val b = events.where(col("value") > 150.0)
        .select(col("event_id"), lit("big").as("src"))
      a.unionByName(b).orderBy("event_id", "src")
    }),

    // hierarchical subtotal via ROLLUP; NULL group keys labeled 'ALL'
    "q10_rollup" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n_items"), col("sum_qty"))
        .orderBy("returnflag", "linestatus")
    }))

  def oracle: Map[String, String] = Map(
    "q01_pushdown_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_join_broadcast" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q03_join_multi" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q04_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q05_anti_join" ->
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_partkey = p_partkey AND l_quantity > 45.0)
        |ORDER BY p_partkey""".stripMargin,
    "q06_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q07_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q08_distinct_agg" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_suppkey) AS n_supp,
        |  COUNT(DISTINCT l_partkey) AS n_part,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q09_union" ->
      """SELECT event_id, 'err' AS src FROM events WHERE event_type = 'error'
        |UNION ALL
        |SELECT event_id, 'big' AS src FROM events WHERE value > 150.0
        |ORDER BY event_id, src""".stripMargin,
    "q10_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(l_linestatus, 'ALL') AS linestatus,
        |  COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin)
}
