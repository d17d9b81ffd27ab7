package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-2 coverage widening: set operations, deterministic statistical
  * aggregates, range-frame windows, arg-min/max, exact percentiles,
  * unpivot, a staged event funnel, and an explicitly salted two-phase
  * aggregation (the skew-mitigation shape, proven semantics-preserving
  * through the oracle).
  *
  * Cross-engine determinism notes (see also q18/q22 conventions):
  *  - money/measure sums go through DECIMAL (order-independent), cast
  *    to DOUBLE only at the end;
  *  - corr/covar/slope are NOT the engines' streaming `corr()` (whose
  *    accumulation order is nondeterministic in a parallel engine) but
  *    closed-form doubles over decimal sums — the same value on any
  *    cluster size, and bit-identical across engines because every
  *    IEEE op appears in the same order in both formulations;
  *  - percentile interpolation lands on exact binary fractions here
  *    (integer-valued quantities, quartile fractions) so `percentile`
  *    (Spark) == `quantile_cont` (DuckDB) bit-for-bit.
  */
object ExtendedOpsQueries extends graft.QueryFamily {
  // one-generation cache handles (see CacheSlot)
  private val lastV = new graft.util.CacheSlot
  private val lastC = new graft.util.CacheSlot

  private val dec2 = DecimalType(18, 2)
  private val tsUs = "(ts_ns div 1000)"
  private val rangeUs = 600000000L // 10 minutes in µs
  private val kmvK = 32 // KMV sketch size (q86)

  /** The physical plan q80 actually executed (it returns a collected
    * LocalRelation, so the interesting plan is gone from the returned
    * frame) — PlanShapeSpec asserts the runtime bloom filter on it.
    */
  val lastBloomJoinPlan = new java.util.concurrent.atomic.AtomicReference[String]("")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // INTERSECT + EXCEPT (SURVEY §2.7: absent in the reference; exposed
    // by the engine). Customers ordering in both 1995 and 1996, minus
    // those with a 1997 'F'-status order. Set ops hash-partition on the
    // full row — one shuffle each, partial-dedup map-side.
    "q41_set_ops" -> ((s, dir) => {
      val orders = Tables(s, dir, "orders")
      def custs(cond: org.apache.spark.sql.Column) =
        orders.where(cond).select(col("o_custkey"))
      // year ranges as raw timestamp bounds, not year(ts) = N: the
      // bare-column comparison pushes to the scan (row-group/partition
      // pruning); a year() wrapper reaches the scan as IsNotNull only
      def inYear(y: Int) =
        col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
          col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp")
      custs(inYear(1995))
        .intersect(custs(inYear(1996)))
        .except(custs(col("o_orderstatus") === "F" && inYear(1997)))
        .orderBy("o_custkey")
    }),

    // Pearson correlation / population covariance / OLS slope of
    // (quantity, discount) per return flag — closed-form from decimal
    // sums (see scaladoc); the engines' own corr()/covar_pop() are
    // order-sensitive doubles and can differ run-to-run at scale.
    // Measure choice keeps every decimal sum's scaled integer < 2^53,
    // where BOTH engines' decimal→double cast is exact (price² sums
    // exceed that and the engines' casts then differ by 1 ulp).
    "q42_corr_stats" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val x = col("l_quantity").cast(dec2)
      val y = col("l_discount").cast(dec2)
      val agg = li.groupBy("l_returnflag").agg(
        count(lit(1)).as("n_rows"),
        sum(x).as("sx_d"), sum(y).as("sy_d"),
        sum(x * y).as("sxy_d"), sum(x * x).as("sxx_d"), sum(y * y).as("syy_d"))
      val nd = col("n_rows").cast("double")
      val sx = col("sx_d").cast("double")
      val sy = col("sy_d").cast("double")
      val sxy = col("sxy_d").cast("double")
      val sxx = col("sxx_d").cast("double")
      val syy = col("syy_d").cast("double")
      agg.select(col("l_returnflag"), col("n_rows"),
        ((nd * sxy - sx * sy) /
          sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))).as("corr_qp"),
        ((nd * sxy - sx * sy) / (nd * nd)).as("covar_pop_qp"),
        ((nd * sxy - sx * sy) / (nd * sxx - sx * sx)).as("slope_qp"))
        .orderBy("l_returnflag")
    }),

    // RANGE-frame window: per-user rolling 10-minute event count and
    // value sum over exact-µs event time. One shuffle+sort on the user
    // key; the frame is bounded by TIME, not row count.
    "q43_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("t")
        .rangeBetween(-rangeUs, 0)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), expr(tsUs).as("t"),
          col("value").cast(dec2).as("v"))
        .withColumn("w_events", count(lit(1)).over(w))
        .withColumn("w_sum", sum(col("v")).over(w).cast("double"))
        .drop("v")
        .orderBy("event_id")
    }),

    // arg-min/arg-max: each user's first and last event type by event
    // time plus activity span — single hash aggregate, no window sort.
    // The arg key is a zero-padded (t, event_id) composite string:
    // a bare-µs key would be nondeterministic across engines on a
    // timestamp tie (DuckDB's arg_min rejects struct keys, so the
    // fixed-width string is the shared total order).
    "q44_argminmax" -> ((s, dir) => {
      val tb = format_string("%020d-%010d", col("t"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), expr(tsUs).as("t"),
          col("event_id"), col("event_type"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          min_by(col("event_type"), tb).as("first_type"),
          max_by(col("event_type"), tb).as("last_type"),
          min(col("t")).as("first_us"),
          max(col("t")).as("last_us"))
        .orderBy("user_id")
    }),

    // exact interpolated quartiles of quantity per return flag (sort-
    // based agg; at scale an approx sketch replaces this — ApproxStats)
    "q45_percentiles" -> ((s, dir) => {
      val qs = expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))")
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), qs.as("qs"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
        .select(col("l_returnflag"), col("n_rows"),
          element_at(col("qs"), 1).as("q25"),
          element_at(col("qs"), 2).as("median"),
          element_at(col("qs"), 3).as("q75"),
          col("min_qty"), col("max_qty"))
        .orderBy("l_returnflag")
    }),

    // UNPIVOT: wide per-flag measures → (measure, value) rows — the
    // inverse of q35's pivot, one Expand-style pass, no shuffle beyond
    // the feeding aggregate
    "q46_unpivot" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast(dec2)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(dec2)).cast("double").as("sum_price"),
          sum(col("l_discount").cast(dec2)).cast("double").as("sum_disc"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
          "measure", "value")
        .orderBy("l_returnflag", "measure")
    }),

    // staged funnel: users who viewed, then clicked AFTER their first
    // view, then purchased AFTER that first qualifying click. Each
    // stage is a groupBy + join on the qualified-user set — event rows
    // stream past once per stage, never pairwise. The user-stage joins
    // are UNHINTED (hint audit: the qualified-user relation is ∝
    // distinct users — a corpus fraction of an event stream, not a
    // bounded dimension): the cache gives the planner the REAL size, so
    // stats broadcast it at gate scale and a user-keyed shuffle
    // equi-join takes over at production scale.
    "q47_funnel" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), expr(tsUs).as("t"), col("event_type"))
      // v and c are cached: each feeds BOTH the next stage's join and
      // its own count — uncached, the three count branches would
      // re-derive the chain and rescan events 6 times
      val v = lastV.swap(e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("t")).as("vt")).cache())
      val c = lastC.swap(e.where(col("event_type") === "click")
        .join(v, "user_id").where(col("t") > col("vt"))
        .groupBy("user_id").agg(min(col("t")).as("ct")).cache())
      val p = e.where(col("event_type") === "purchase")
        .join(c, "user_id").where(col("t") > col("ct"))
        .groupBy("user_id").agg(min(col("t")).as("pt"))
      v.agg(count(lit(1)).as("n_view_users"))
        .crossJoin(c.agg(count(lit(1)).as("n_click_users")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchase_users")))
    }),

    // explicitly salted two-phase aggregation — the hot-key shape: a
    // deterministic salt splits each group into 16 sub-groups for the
    // wide partial phase, then a cheap final phase over 16·|groups|
    // rows. Decimal partials make the re-association exact, which the
    // plain-GROUP BY oracle proves.
    // Shuffle-skew profiler — the diagnostic you run BEFORE picking a
    // salt factor (q48/q60's prerequisite): rows per hash-partition
    // bucket for a prospective shuffle key, plus the imbalance factor
    // (max/avg in permille). The histogram is reducer-count-sized (32
    // rows) whatever the corpus; the global metrics ride a window over
    // those 32 rows, not the data.
    "q120_skew_profile" -> ((s, dir) => {
      val nb = 32
      val counts = Tables.events(s, dir)
        .select((graft.functions.TextFunctions
          .spreadHashLong(col("user_id")) % nb).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_rows"))
      val all = Window.partitionBy()
      counts
        .withColumn("mx", max(col("n_rows")).over(all))
        .withColumn("tot", sum(col("n_rows")).over(all))
        .select(col("bucket"), col("n_rows"),
          expr(s"(mx * ${nb * 1000L}) div tot").as("imbalance_permille"))
        .orderBy("bucket")
    }),

    "q48_salted_agg" -> ((s, dir) => {
      val partial = Tables.events(s, dir)
        .withColumn("salt", pmod(col("event_id"), lit(16)))
        .groupBy("event_type", "salt")
        .agg(count(lit(1)).as("pc"), sum(col("value").cast(dec2)).as("ps"))
      partial.groupBy("event_type")
        .agg(sum(col("pc")).as("n_events"),
          sum(col("ps")).cast("double").as("sum_value"))
        .orderBy("event_type")
    }),

    // salted shuffled JOIN over a deliberately skewed key: 80% of
    // events land on one 'hot' key, and the dim side carries a
    // shuffle_hash hint (standing in for a build side too large to
    // broadcast) — the shape where, unsalted, ONE reducer takes 80% of
    // the probe rows and the stage runs at straggler speed.
    // SkewJoin.saltedInnerJoin spreads the hot key over 16 salted
    // partitions (replicating only the 98-row dim); the oracle is the
    // plain UNSALTED join, proving salting redistributes rows without
    // changing a single result. At 100 TB this (or AQE skew-join, which
    // only handles sort-merge shapes) is mandatory for power-law keys.
    "q60_skew_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("value"),
        when(col("event_id") % 10 < 8, lit("hot"))
          .otherwise(concat(lit("k"), (col("event_id") % 97).cast("string")))
          .as("skew_key"))
      val dim = ev.groupBy("skew_key").agg(count(lit(1)).as("key_rows"))
      val joined = graft.ext.SkewJoin.saltedInnerJoin(
        ev, dim.hint("shuffle_hash"), "skew_key",
        saltOn = Seq("event_id"), factor = 16)
      joined.groupBy("skew_key")
        .agg(count(lit(1)).as("n_rows"),
          max(col("key_rows")).as("key_rows"),
          sum(col("value").cast(dec2)).cast("double").as("sum_value"))
        .orderBy("skew_key")
    }),

    // CDC MERGE: apply a change batch (upserts + deletes) to a
    // snapshot in ONE full-outer hash join — the incremental-refresh
    // primitive of a data-versioned pipeline (Delta/Iceberg MERGE INTO
    // semantics, expressed on plain DataFrames). The change batch is
    // derived deterministically from the snapshot so both engines
    // construct the identical input: keys %11==0 delete, else %7==0
    // reprice ×1.1 (IEEE multiply, cross-engine exact), plus one
    // shifted insert per %13==0 key. Result = per-status rollup of the
    // merged table. One shuffle each side of the join at scale; with a
    // bucketed snapshot the join becomes co-located.
    "q72_cdc_merge" -> ((s, dir) => {
      val snap = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val keyShift = 10000000L
      // decimal-first repricing: dec(18,2) × dec(2,1) is EXACT decimal
      // arithmetic in both engines — a double×1.1 then cast-to-decimal
      // would hit engine-specific rounding at the third digit
      val dec3 = DecimalType(21, 3)
      val priceDec = col("o_totalprice").cast(dec2)
      val changes = snap
        .where(col("o_orderkey") % 11 === 0 || col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("c_key"),
          when(col("o_orderkey") % 11 === 0, "D").otherwise("U").as("op"),
          (priceDec * lit(BigDecimal("1.1"))).cast(dec3).as("c_price"),
          col("o_orderstatus").as("c_status"))
        .unionAll(snap.where(col("o_orderkey") % 13 === 0)
          .select((col("o_orderkey") + keyShift).as("c_key"),
            lit("I").as("op"), priceDec.cast(dec3).as("c_price"),
            lit("N").as("c_status")))
      val merged = snap.join(changes, col("o_orderkey") === col("c_key"),
          "full_outer")
        .where(col("op").isNull || col("op") =!= "D") // deletes drop
        .select(
          coalesce(col("o_orderkey"), col("c_key")).as("key"),
          when(col("op") === "U" || col("op") === "I", col("c_price"))
            .otherwise(priceDec.cast(dec3)).as("price"),
          when(col("op") === "I", col("c_status"))
            .otherwise(col("o_orderstatus")).as("status"))
      merged.groupBy("status")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price")).cast("double").as("sum_price"))
        .orderBy("status")
    }),

    // Runtime BLOOM-FILTER join pruning, oracle-gated (E59): a
    // selective dim-side filter becomes a bloom filter applied to the
    // fact scan BEFORE the join shuffle — at 100 TB the row-level
    // pruning path for joins too big to broadcast. The builder pins
    // the injection confs (thresholds target real clusters; zeroed
    // here so the rewrite fires at fixture scale, broadcast disabled
    // because it would bypass the runtime filter), EXECUTES the plan
    // under them (collect into a LocalRelation, same eager pattern as
    // the streaming queries — Verify's .write would otherwise replan
    // under the restored session confs and gate the wrong plan), then
    // restores the confs. The oracle is the plain join, proving the
    // injected filter is semantics-preserving; PlanShapeSpec asserts
    // might_contain/bloom_filter_agg are in the plan. The result is
    // 3 rows — safe to collect.
    "q80_bloom_join" -> ((s, dir) =>
      graft.GraftSession.withConf(s,
          "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val orders = Tables(s, dir, "orders")
          .where(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_orderpriority"))
        val joined = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_quantity").cast(dec2).as("qty"))
          .join(orders, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty")).cast("double").as("sum_qty"))
          .orderBy("l_returnflag")
        lastBloomJoinPlan.set(joined.queryExecution.executedPlan.toString)
        graft.util.Staged.local(s, joined) // execute UNDER the confs
      }),

    // HLL++ approximate distinct users per event type — mergeable
    // fixed-memory sketch, the 100 TB replacement for exact distinct.
    // The raw estimate is engine-specific, so the hashed output carries
    // the EXACT distinct plus a `within_tol` bound (relative error
    // < 15% = 3× the default rsd=0.05 sketch's standard error, a
    // ~3-sigma margin that survives fixture regeneration): the DuckDB
    // twin recomputes the exact column and asserts TRUE, which
    // hash-gates the estimator's sanity without faking cross-engine
    // estimate equality.
    "q49_approx_distinct" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id")).as("approx_users"))
        .select(col("event_type"), col("n_events"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")).cast("double") /
            col("exact_users").cast("double") < 0.15).as("within_tol"))
        .orderBy("event_type")
    }),

    // KMV (k-minimum-values) distinct sketch — the custom
    // TypedImperativeAggregate (graft.functions.KMinValues): O(k)
    // bounded state per group, set-union merge (map-side partials
    // apply, any merge order gives the same state). Unlike HLL the
    // sketch VALUE is engine-independent — the k smallest distinct
    // polynomial hashes are a pure function of the input — so the
    // DuckDB twin reproduces the sketch AND the (k-1)·H/h_k estimator
    // bit-for-bit: a fully hash-gated approximate-distinct, no
    // tolerance column needed.
    "q86_kmv_distinct" -> ((s, dir) => {
      val k = kmvK
      // spreadHash, not raw polyHash: the estimator assumes hashes
      // uniform over [0, P) (see TextFunctions.spreadHash scaladoc)
      val h = graft.functions.TextFunctions.spreadHash(
        col("user_id").cast("string"))
      val sk = graft.functions.KMinValues(h, k)
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"), sk.as("sketch"))
        .select(col("event_type"), col("exact_users"),
          array_join(transform(col("sketch"), v => v.cast("string")), ",")
            .as("sketch_str"),
          when(size(col("sketch")) >= k,
            (lit((k - 1).toDouble) * lit(graft.functions.TextFunctions.P.toDouble)) /
              element_at(col("sketch"), k).cast("double"))
            .otherwise(size(col("sketch")).cast("double")).as("kmv_estimate"))
        .orderBy("event_type")
    }),

    // Sketch MERGEABILITY as a gated contract: the global KMV built by
    // merging per-event_type sketches (re-aggregating their elements —
    // k-min of a union of k-mins IS the k-min of the union) must equal
    // the directly-built global sketch bit-for-bit. This is the
    // property that makes sketch tiers work at 100 TB: per-partition /
    // per-day / per-shard summaries roll up without touching raw data,
    // on ANY merge tree. The oracle builds the global sketch once and
    // asserts both paths emit it.
    "q111_kmv_merge" -> ((s, dir) => {
      val k = kmvK
      val h = graft.functions.TextFunctions.spreadHash(
        col("user_id").cast("string"))
      def str(c: org.apache.spark.sql.Column) =
        array_join(transform(c, v => v.cast("string")), ",")
      val per = Tables.events(s, dir).groupBy("event_type")
        .agg(graft.functions.KMinValues(h, k).as("sk"))
      val merged = per.select(explode(col("sk")).as("v"))
        .agg(graft.functions.KMinValues(col("v"), k).as("msk"))
      val direct = Tables.events(s, dir)
        .agg(graft.functions.KMinValues(h, k).as("dsk"))
      merged.join(broadcast(direct))  // hint audit: scalar (one-row sketch frame)
        .select(str(col("msk")).as("merged_str"),
          str(col("dsk")).as("direct_str"),
          (col("msk") === col("dsk")).as("sketches_equal"))
    }),

    // Approximate-percentile sketch gated the q49 way: the KLL-style
    // percentile_approx sketch (fixed memory, mergeable — the 100 TB
    // replacement for q45's sort-based exact quantiles) carries an
    // EXACT quantile and a within_tol bound in the hashed output.
    // Gate-cost bounding (round-6 verdict asked the worst SCALE row to
    // reflect the production path): per-row cost here is sketch/map
    // UPDATES, so both the exact percentile and the sketch take their
    // two probabilities through ONE aggregate each (array form: one
    // counts-map, one QuantileSummaries, queried at .5 and .75) —
    // halving update work vs the previous two-aggregates-per-tier
    // shape. A 1-in-8 exact-side stratum was also tried and MEASURED
    // SLOWER at sf0.1 AND 10× (4.35→5.16 s: the exact counts-map on
    // the 50-value quantity domain is cheap; the CASE eval per call
    // isn't) — rejected, same discipline as q83's reverted cache.
    // Fractions stay binary-exact (.5/.75) so the exact columns are
    // cross-engine bit-identical (q45 rule); with accuracy 1000 on the
    // 1..50 domain the sketch sits within 1.0 of exact, with margin.
    "q81_approx_quantiles" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          expr("percentile(l_quantity, array(0.5D, 0.75D))").as("ex"),
          expr("percentile_approx(l_quantity, array(0.5D, 0.75D), 1000)").as("ap"))
        .select(col("l_returnflag"), col("n_rows"),
          element_at(col("ex"), 1).as("exact_median"),
          element_at(col("ex"), 2).as("exact_p75"),
          (abs(element_at(col("ap"), 1) - element_at(col("ex"), 1)) <= 1.0)
            .as("median_tol"),
          (abs(element_at(col("ap"), 2) - element_at(col("ex"), 2)) <= 1.0)
            .as("p75_tol"))
        .orderBy("l_returnflag")
    }),

    // correlated EXISTS / NOT EXISTS through the SQL surface — Catalyst
    // decorrelates both into semi/anti hash joins on l_orderkey (one
    // shuffle each side; the subquery never executes per-row)
    "q50_exists_subquery" -> ((s, dir) => {
      s.sql(
        s"""SELECT o.o_orderkey,
           |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price
           |FROM parquet.`$dir/orders.parquet` o
           |WHERE EXISTS (SELECT 1 FROM parquet.`$dir/lineitem.parquet` l
           |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
           |  AND NOT EXISTS (SELECT 1 FROM parquet.`$dir/lineitem.parquet` l
           |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09)
           |ORDER BY o.o_orderkey""".stripMargin)
    }),

    // the registered `issue_mask` SQL function (GraftExtensions): the
    // 14-pattern classifier as ONE single-pass expression, queried
    // through plain spark.sql; the oracle recomputes the bitmask as a
    // sum of per-pattern CASE arms from the same constants
    "q51_sql_issue_mask" -> ((s, dir) => {
      LogDomainQueries.Corpus.logs(s, dir)
        .createOrReplaceTempView("graft_log_lines")
      s.sql("""SELECT issue_mask(message) AS mask, COUNT(*) AS n_lines,
              |  MIN(event_id) AS first_event
              |FROM graft_log_lines GROUP BY mask ORDER BY mask""".stripMargin)
    }),

    // CDC-style latest-record-per-key dedup: one row_number window per
    // (user, type) key, keep rank 1 by (ts desc, id desc) — the
    // standard "current state from an event stream" shape; ties broken
    // by the unique event_id so the survivor is deterministic
    "q52_latest_per_key" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(desc("t"), desc("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr(tsUs).as("t"), col("value").cast(dec2).cast("double").as("value"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).drop("rn")
        .orderBy("user_id", "event_type")
    }),

    // the custom TopKPerGroup operator (logical plan + strategy +
    // two-phase bounded-heap exec, graft.plans): top-2 orders per
    // customer WITHOUT sorting each group — at most k rows per group
    // per partition cross the shuffle; oracle is the row_number window
    // formulation
    "q54_topk_custom" -> ((s, dir) => {
      graft.plans.TopK.perGroup(
        Tables(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        Seq("o_custkey"),
        Seq("o_totalprice" -> true, "o_orderkey" -> false), k = 2)
        .orderBy("o_custkey", "o_orderkey")
    }),

    // deterministic collect: per-user sorted distinct event-type roster
    // as a joined string (collect_set order is nondeterministic in a
    // parallel engine — sort_array pins it)
    "q53_collect_sorted" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          array_join(sort_array(collect_set(col("event_type"))), ",")
            .as("types"))
        .orderBy("user_id")
    }))

  def oracle: Map[String, String] = Map(
    "q41_set_ops" ->
      """SELECT o_custkey FROM (
        |  (SELECT o_custkey FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |     AND o_orderdate < TIMESTAMP '1996-01-01'
        |   INTERSECT
        |   SELECT o_custkey FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |     AND o_orderdate < TIMESTAMP '1997-01-01')
        |  EXCEPT
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderstatus = 'F'
        |    AND o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01')
        |ORDER BY o_custkey""".stripMargin,
    "q42_corr_stats" ->
      """WITH a AS (
        |  SELECT l_returnflag, COUNT(*) AS n_rows,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
        |    CAST(SUM(x * x) AS DOUBLE) AS sxx,
        |    CAST(SUM(y * y) AS DOUBLE) AS syy
        |  FROM (SELECT l_returnflag,
        |          CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |          CAST(l_discount AS DECIMAL(18,2)) AS y
        |        FROM lineitem)
        |  GROUP BY l_returnflag)
        |SELECT l_returnflag, n_rows,
        |  (CAST(n_rows AS DOUBLE) * sxy - sx * sy) /
        |    sqrt((CAST(n_rows AS DOUBLE) * sxx - sx * sx)
        |       * (CAST(n_rows AS DOUBLE) * syy - sy * sy)) AS corr_qp,
        |  (CAST(n_rows AS DOUBLE) * sxy - sx * sy) /
        |    (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)) AS covar_pop_qp,
        |  (CAST(n_rows AS DOUBLE) * sxy - sx * sy) /
        |    (CAST(n_rows AS DOUBLE) * sxx - sx * sx) AS slope_qp
        |FROM a ORDER BY l_returnflag""".stripMargin,
    "q43_range_frame" ->
      s"""SELECT event_id, user_id, t,
         |  COUNT(*) OVER w AS w_events,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS w_sum
         |FROM (SELECT event_id, user_id, epoch_us(ts) AS t, value FROM events)
         |WINDOW w AS (PARTITION BY user_id ORDER BY t
         |  RANGE BETWEEN $rangeUs PRECEDING AND CURRENT ROW)
         |ORDER BY event_id""".stripMargin,
    "q44_argminmax" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  arg_min(event_type, printf('%020d-%010d', t, event_id)) AS first_type,
        |  arg_max(event_type, printf('%020d-%010d', t, event_id)) AS last_type,
        |  MIN(t) AS first_us, MAX(t) AS last_us
        |FROM (SELECT user_id, epoch_us(ts) AS t, event_id, event_type FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q45_percentiles" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  quantile_cont(l_quantity, 0.25) AS q25,
        |  quantile_cont(l_quantity, 0.5) AS median,
        |  quantile_cont(l_quantity, 0.75) AS q75,
        |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q46_unpivot" ->
      """SELECT l_returnflag, measure, value FROM (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
        |  FROM lineitem GROUP BY l_returnflag)
        |UNPIVOT (value FOR measure IN (sum_qty, sum_price, sum_disc))
        |ORDER BY l_returnflag, measure""".stripMargin,
    "q47_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events),
        |v AS (SELECT user_id, MIN(t) AS vt FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(t) AS ct FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND t > vt GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(t) AS pt FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND t > ct GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM v) AS n_view_users,
        |       (SELECT COUNT(*) FROM c) AS n_click_users,
        |       (SELECT COUNT(*) FROM p) AS n_purchase_users""".stripMargin,
    "q48_salted_agg" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q120_skew_profile" -> {
      val h = graft.functions.TextFunctions.sqlSpreadHashLong("user_id")
      s"""WITH c AS (SELECT ($h) % 32 AS bucket, COUNT(*) AS n_rows
         |      FROM events GROUP BY 1)
         |SELECT bucket, CAST(n_rows AS BIGINT) AS n_rows,
         |  CAST((MAX(n_rows) OVER () * 32000) // (SUM(n_rows) OVER ())
         |    AS BIGINT) AS imbalance_permille
         |FROM c ORDER BY bucket""".stripMargin
    },
    "q60_skew_join" ->
      """WITH ev AS (
        |  SELECT event_id, value,
        |    CASE WHEN event_id % 10 < 8 THEN 'hot'
        |         ELSE concat('k', CAST(event_id % 97 AS VARCHAR)) END AS skew_key
        |  FROM events),
        |dim AS (SELECT skew_key, COUNT(*) AS key_rows FROM ev GROUP BY skew_key)
        |SELECT e.skew_key, COUNT(*) AS n_rows, MAX(d.key_rows) AS key_rows,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM ev e JOIN dim d USING (skew_key)
        |GROUP BY e.skew_key ORDER BY e.skew_key""".stripMargin,
    "q72_cdc_merge" ->
      """WITH snap AS (SELECT o_orderkey, o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price_dec FROM orders),
        |changes AS (
        |  SELECT o_orderkey AS c_key,
        |    CASE WHEN o_orderkey % 11 = 0 THEN 'D' ELSE 'U' END AS op,
        |    CAST(price_dec * CAST(1.1 AS DECIMAL(2,1)) AS DECIMAL(21,3)) AS c_price,
        |    o_orderstatus AS c_status
        |  FROM snap WHERE o_orderkey % 11 = 0 OR o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'I',
        |    CAST(price_dec AS DECIMAL(21,3)), 'N'
        |  FROM snap WHERE o_orderkey % 13 = 0),
        |merged AS (
        |  SELECT COALESCE(s.o_orderkey, c.c_key) AS key,
        |    CASE WHEN c.op IN ('U', 'I') THEN c.c_price
        |         ELSE CAST(s.price_dec AS DECIMAL(21,3)) END AS price,
        |    CASE WHEN c.op = 'I' THEN c.c_status
        |         ELSE s.o_orderstatus END AS status
        |  FROM snap s FULL OUTER JOIN changes c ON s.o_orderkey = c.c_key
        |  WHERE c.op IS NULL OR c.op <> 'D')
        |SELECT status, COUNT(*) AS n_rows,
        |  CAST(SUM(price) AS DOUBLE) AS sum_price
        |FROM merged GROUP BY status ORDER BY status""".stripMargin,
    "q80_bloom_join" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q49_approx_distinct" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q86_kmv_distinct" -> {
      val k = kmvK
      val h = graft.functions.TextFunctions.sqlSpreadHash("CAST(user_id AS VARCHAR)")
      s"""WITH hs AS (SELECT event_type, user_id, $h AS h FROM events),
         |sk AS (
         |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
         |    list_sort(list_distinct(list(h)))[:$k] AS sketch
         |  FROM hs GROUP BY event_type)
         |SELECT event_type, exact_users,
         |  array_to_string(sketch, ',') AS sketch_str,
         |  CASE WHEN len(sketch) >= $k
         |    THEN (${(k - 1).toDouble} * ${graft.functions.TextFunctions.P.toDouble})
         |         / CAST(sketch[$k] AS DOUBLE)
         |    ELSE CAST(len(sketch) AS DOUBLE) END AS kmv_estimate
         |FROM sk ORDER BY event_type""".stripMargin
    },
    // one global construction, emitted as both paths' expected value
    "q111_kmv_merge" -> {
      val k = kmvK
      val h = graft.functions.TextFunctions.sqlSpreadHash("CAST(user_id AS VARCHAR)")
      s"""WITH hs AS (SELECT $h AS h FROM events),
         |sk AS (SELECT list_sort(list_distinct(list(h)))[:$k] AS sketch FROM hs)
         |SELECT array_to_string(sketch, ',') AS merged_str,
         |  array_to_string(sketch, ',') AS direct_str,
         |  TRUE AS sketches_equal
         |FROM sk""".stripMargin
    },
    "q81_approx_quantiles" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  quantile_cont(l_quantity, 0.5) AS exact_median,
        |  quantile_cont(l_quantity, 0.75) AS exact_p75,
        |  TRUE AS median_tol, TRUE AS p75_tol
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q50_exists_subquery" ->
      """SELECT o.o_orderkey,
        |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.09)
        |ORDER BY o.o_orderkey""".stripMargin,
    "q51_sql_issue_mask" -> {
      val maskArms = graft.classify.IssueClassifier.allPatterns.zipWithIndex
        .map { case ((_, _, p), i) =>
          s"CASE WHEN regexp_matches(message, '$p') THEN ${1L << i} ELSE 0 END"
        }.mkString("(", "\n     + ", ")")
      s"""${LogDomainQueries.Corpus.sqlCte}
         |SELECT mask, COUNT(*) AS n_lines, MIN(event_id) AS first_event
         |FROM (SELECT $maskArms AS mask, event_id FROM ev_lines)
         |GROUP BY mask ORDER BY mask""".stripMargin
    },
    "q52_latest_per_key" ->
      """SELECT user_id, event_type, event_id, t, value FROM (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS t,
        |    CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "q53_collect_sorted" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q54_topk_custom" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 2
        |ORDER BY o_custkey, o_orderkey""".stripMargin)
}
